"""Seeded inputs for the benchmark workloads.

Every generator here is a pure function of its seed: the same seed writes
byte-identical files, and the engine only ever sees the files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# token alphabet and shape of the repo's Common-Crawl-style documents
# table: 10-100 tokens per doc, 5% of docs are a copy of an earlier doc
# with " dup" appended (the near-duplicate pairs the dedup queries find)
DOC_VOCAB = ["spark", "window", "merge", "table", "column", "vector",
             "stream", "value", "data", "small", "join", "filter", "big",
             "group", "hash", "customer", "sort", "order", "slow", "line",
             "part", "fast", "row", "the", "agg", "key", "query", "a",
             "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the repo's reference tables: the
    # scan yields a single split and the engine's own parallelism rules
    # decide how to fan out
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def write_documents(path: str, n: int, rng: np.random.Generator) -> None:
    n_tok = rng.integers(10, 101, size=n)
    toks = rng.integers(0, len(DOC_VOCAB), size=int(n_tok.sum()))
    texts, pos = [], 0
    for k in n_tok:
        texts.append(" ".join(DOC_VOCAB[t] for t in toks[pos:pos + k]))
        pos += k
    for i in np.sort(rng.choice(np.arange(n // 10, n), size=n // 20,
                                replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(),
                         pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


def write_embeddings(path: str, n: int, rng: np.random.Generator,
                     dim: int = 64, clusters: int = 10) -> None:
    centers = rng.normal(size=(clusters, dim))
    label = rng.integers(0, clusters, size=n)
    v = centers[label] + 0.6 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    _write(pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(v.ravel())),
        "label": pa.array(label.astype(np.int32)),
    }), path)


def write_lineitem(path: str, n: int, rng: np.random.Generator) -> None:
    day0 = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2500, size=n).astype("timedelta64[D]")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, size=n)),
        "l_partkey": pa.array(rng.integers(0, n // 30, size=n)),
        "l_suppkey": pa.array(rng.integers(0, n // 1000 + 1, size=n)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(float)),
        "l_extendedprice": pa.array(
            np.round(rng.uniform(900.0, 105000.0, size=n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n).tolist(),
                                 pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], size=n).tolist(),
                                 pa.string()),
        "l_shipdate": pa.array(day0 + days.astype("timedelta64[us]")),
    }), path)


def write_query_tables(out_dir: str, seed: int, docs: int = 500,
                       vectors: int = 500, lineitems: int = 60_000) -> str:
    """The three tables the query mix reads, with the columns, value
    distributions and row counts of the repo's sf0.01 reference data.
    Returns the table directory."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    write_documents(os.path.join(out_dir, "documents.parquet"), docs, rng)
    write_embeddings(os.path.join(out_dir, "embeddings.parquet"), vectors, rng)
    write_lineitem(os.path.join(out_dir, "lineitem.parquet"), lineitems, rng)
    return out_dir


def write_ripple_xyz(path: str, n: int, seed: int,
                     z_scale: float = 16.0) -> None:
    """XYZRGB text file of the repo's ripple cloud. z_scale 16 makes the z
    extent more than half the x/y extent, so the tiler runs in octree mode
    (eight children per node) rather than quadtree mode."""
    from py3dtiles_spark.sources.ripple import ripple_cloud
    _, xyz = ripple_cloud(n, z_scale=z_scale, seed=seed)
    rgb = np.random.default_rng([seed, 2]).integers(0, 256, size=(n, 3))
    np.savetxt(path, np.column_stack([xyz, rgb]),
               fmt="%.6f %.6f %.6f %d %d %d")
