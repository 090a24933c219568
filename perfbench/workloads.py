"""The three benchmark workloads.

Each workload makes its inputs from the seed (`prepare`), runs one
untimed warm-up (`warm`), and then runs operations: `units(k)` lists the
operations of pass k, and `op` runs one of them inside the span that times
it. `check` verifies one operation's output against an independent oracle
outside the timed window. `layers` turns the traced spans and their event
log cost into the per-layer metrics.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import tempfile

import numpy as np

import datagen
from spans import PROBE_OP, Tracer, span_cost

CORES = 4


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


def tiling_layers(spans, costs) -> dict:
    """operators.tiling metrics: median over build_tiling calls."""
    rows = []
    for s in spans:
        c = s.info["result"].counters
        lv = c["levels"]
        count_s = sum(x["sec_counts"] for x in lv)
        kernel_s = sum(x["sec_kernel"] for x in lv)
        k = span_cost(s, costs)
        row = {"tiling.levels": len(lv),
               "tiling.count_s": count_s,
               "tiling.kernel_s": kernel_s,
               "tiling.unattributed_s": s.wall - count_s - kernel_s,
               "tiling.points_in_per_point":
                   sum(x["points_in"] for x in lv) / max(c["points_total"], 1),
               "tiling.jobs": k.jobs, "tiling.stages": k.stages,
               "tiling.task_s": k.task_s, "tiling.cpu_s": k.cpu_s,
               "tiling.gc_s": k.gc_s,
               "tiling.shuffle_write_mb": k.shuffle_write_mb,
               "tiling.spill_mb": k.spill_mb,
               "tiling.max_task_s": k.max_task_s,
               "tiling.utilization": k.task_s / (CORES * s.wall)}
        for mode in ("cell", "local", "express", "leaf"):
            row[f"tiling.nodes.{mode}"] = sum(x["modes"].get(mode, 0)
                                              for x in lv)
        rows.append(row)
    return {k: median(r[k] for r in rows) for k in (rows[0] if rows else {})}


def count_tileset(docs: dict, out_dir: str | None = None):
    """(tile contents, uris) of a tileset: walks tileset.json and every
    spilled sub-tileset it references, from `docs` or from out_dir."""
    def load(name):
        doc = docs.get(name)
        if doc is None and out_dir is not None:
            with open(os.path.join(out_dir, name)) as f:
                doc = json.load(f)
        return doc

    uris, stack = [], [load("tileset.json")["root"]]
    while stack:
        node = stack.pop()
        uri = (node.get("content") or {}).get("uri")
        if uri is not None:
            uris.append(uri)
            if uri.endswith(".json"):
                stack.append(load(uri)["root"])
        stack.extend(node.get("children", []))
    return sum(1 for u in uris if not u.endswith(".json")), uris


class Workload:
    name = ""
    points = 0          # input points of one timed operation
    min_passes = 1      # timed passes run even past --seconds

    def __init__(self, seed: int, work: str, tracer: Tracer):
        self.seed, self.work, self.tracer = seed, work, tracer

    def install(self):
        """Wrap the engine calls this workload times from the inside."""

    def prepare(self, spark):
        pass

    def warm(self, spark):
        """One untimed operation that pays the session's first-call costs."""
        raise NotImplementedError

    def units(self, k: int) -> list:
        return [None]

    def op(self, spark, unit) -> dict:
        raise NotImplementedError

    def after_op(self, spark, rec: dict):
        """Untimed clean-up between operations."""

    def check(self, spark, rec: dict) -> list[str]:
        return []

    def probe(self, spark) -> tuple[int, int]:
        """Extra traced measurements that no timed operation covers.
        Returns (operations attempted, operations failed)."""
        return 0, 0

    def details(self, recs: list[dict]) -> dict:
        return {}

    def layers(self, recs: list[dict], costs) -> dict:
        return {}


# ------------------------------------------------------------ tile_pages --

class TilePages(Workload):
    """pages -> skewed points -> build_tiling -> rollup -> tiles -> tileset.
    The traced run also times the page generator and the convert plan."""
    name = "tile_pages"
    points = 150_000
    warm_points = 30_000
    # the first builds after the warm-up still run up to 2x slow; four
    # keep the median on the settled ones
    min_passes = 4
    ripple_points = 100_000

    def install(self):
        from py3dtiles_spark.operators import tiling
        from py3dtiles_spark.plans import convert
        from py3dtiles_spark.sources import pnts
        t = self.tracer
        t.wrap(tiling, "build_tiling", "tiling.build")
        # the names plans.convert imports, for the traced convert probe
        t.wrap(convert, "xyz_summary", "xyz.summary")
        t.wrap(convert, "build_tiling", "convert.build")
        t.wrap(convert, "build_tileset_json_distributed", "convert.tileset")
        # convert_files imports write_pnts_files from its module per call
        t.wrap(pnts, "write_pnts_files", "pnts.write")

    def warm(self, spark):
        self.op(spark, self.warm_points)

    def input_points(self, spark, n=None):
        from pyspark.sql import functions as F
        from py3dtiles_spark.sources.pages import (
            generate_pages, pages_as_points)
        pages = generate_pages(spark, n or self.points)
        # the seed salts the url the geocoder hashes: another seed moves
        # every page, and with it the whole tree
        pages = pages.withColumn(
            "url", F.concat("url", F.lit(f"#seed{self.seed}")))
        return pages_as_points(pages, skew=True)

    def op(self, spark, unit) -> dict:
        from py3dtiles_spark.operators import tiling, tileset
        ckpt = tempfile.mkdtemp(prefix="ckpt-", dir=self.work)
        with self.tracer.span("flagship") as s:
            pts = self.input_points(spark, unit)
            res = tiling.build_tiling(
                spark, pts, tiling.TilingConfig(checkpoint_dir=ckpt))
            with self.tracer.span("tileset.assemble") as ts:
                assigned = tileset.rollup_small_children(
                    pts.join(res.assignments, "point_id"))
                docs = tileset.build_tileset_json_distributed(
                    tileset.build_tiles_df(assigned), res.root_aabb,
                    res.root_spacing)
        ts.info["tiles"] = count_tileset(docs)[0]
        return {"wall": s.wall, "res": res, "docs": docs, "ckpt": ckpt}

    def _expected(self, spark):
        if not hasattr(self, "_exp"):
            from py3dtiles_spark.operators.replay import replay_tiling
            pdf = self.input_points(spark).toPandas().sort_values("point_id")
            tiles, _, _ = replay_tiling(
                pdf["point_id"].to_numpy(),
                pdf[["x", "y", "z"]].to_numpy(np.float32))
            self._exp = (pdf["point_id"].to_numpy(), tiles.astype(str))
        return self._exp

    def check(self, spark, rec) -> list[str]:
        errs = []
        c = rec["res"].counters
        if c.get("points_assigned") != self.points:
            errs.append(f"points_assigned {c.get('points_assigned')}")
        got = rec["res"].assignments.toPandas().sort_values("point_id")
        ids, tiles = self._expected(spark)
        if not (np.array_equal(got["point_id"].to_numpy(), ids)
                and np.array_equal(got["tile_id"].to_numpy().astype(str),
                                   tiles)):
            errs.append("assignments differ from the replay oracle")
        if count_tileset(rec["docs"])[0] < 1:
            errs.append("tileset has no tile content")
        shutil.rmtree(rec["ckpt"], ignore_errors=True)
        return errs

    def probe(self, spark) -> tuple[int, int]:
        # the page generator is lazy and runs inside build_tiling; time it
        # on its own by writing the same points to a noop sink
        with self.tracer.span("pages.gen"):
            self.input_points(spark).write.format("noop").mode(
                "overwrite").save()
        # the convert plan on a 3D ripple cloud (octree, no skew): a cold
        # call, then the measured one
        path = os.path.join(self.work, "ripple.xyz")
        datagen.write_ripple_xyz(path, self.ripple_points, self.seed)
        failed = 0
        for k in range(2):
            failed += bool(self.convert_once(spark, path, k))
        return 2, failed

    def convert_once(self, spark, path, k) -> list[str]:
        from py3dtiles_spark.plans.convert import convert_files
        from py3dtiles_spark.sources.pnts import decode_pnts
        out = tempfile.mkdtemp(prefix="out-", dir=self.work)
        self.tracer.op = PROBE_OP + k
        with self.tracer.span("convert") as s:
            convert_files(spark, path, out_dir=out, write_pnts=True)
        self.tracer.op = -1
        errs = []
        _, uris = count_tileset({}, out)
        missing = [u for u in uris if not os.path.isfile(os.path.join(out, u))]
        if missing:
            errs.append(f"{len(missing)} content uris missing, e.g. "
                        f"{missing[0]}")
        n, files, pnts_bytes = 0, 0, 0
        for d, _, names in os.walk(out):
            for f in names:
                p = os.path.join(d, f)
                if f.endswith(".pnts"):
                    files += 1
                    pnts_bytes += os.path.getsize(p)
                    with open(p, "rb") as fh:
                        xyz, _, _ = decode_pnts(fh.read())
                    # r.pnts at the top is the root overview, a resample
                    # of its children's points, not a partition of them
                    if p != os.path.join(out, "r.pnts"):
                        n += len(xyz)
        if n != self.ripple_points:
            errs.append(f"pnts hold {n} points, input has "
                        f"{self.ripple_points}")
        for e in errs:
            print(f"FAILED convert probe {k}: {e}", file=sys.stderr)
        s.info.update(pnts_files=files, pnts_bytes=pnts_bytes)
        shutil.rmtree(out, ignore_errors=True)
        return errs

    def details(self, recs):
        t = self.tracer
        return {"tile_s": median(s.wall for s in t.timed("tiling.build")),
                "tileset_s": median(s.wall for s in
                                    t.timed("tileset.assemble")),
                "points_per_s": self.points / median(r["wall"] for r in recs)}

    def layers(self, recs, costs):
        t = self.tracer
        out = tiling_layers(t.timed("tiling.build"), costs)
        out.update(tileset_layers(t.timed("tileset.assemble"), costs))
        out["pages.gen_s"] = median(s.wall for s in t.spans
                                    if s.name == "pages.gen")
        # the convert plan: its second (warm) call
        op = PROBE_OP + 1
        part = {n: sum(s.wall for s in t.spans if s.name == n and s.op == op)
                for n in ("xyz.summary", "convert.build", "convert.tileset",
                          "pnts.write")}
        conv = [s for s in t.spans if s.name == "convert" and s.op == op][0]
        xyz = [s for s in t.spans if s.name == "xyz.summary" and s.op == op]
        out.update({
            "xyz.summary_s": part["xyz.summary"],
            "xyz.task_s": sum(span_cost(s, costs).task_s for s in xyz),
            "pnts.write_s": part["pnts.write"],
            "pnts.files": conv.info["pnts_files"],
            "pnts.mb_written": conv.info["pnts_bytes"] / 1e6,
            "convert.call_s": conv.wall,
            "convert.build_s": part["convert.build"],
            "convert.tileset_s": part["convert.tileset"],
            "convert.unattributed_s": conv.wall - sum(part.values())})
        return out


def tileset_layers(spans, costs) -> dict:
    rows = []
    for s in spans:
        k = span_cost(s, costs)
        rows.append({"tileset.assemble_s": s.wall,
                     "tileset.tiles": s.info["tiles"],
                     "tileset.task_s": k.task_s,
                     "tileset.shuffle_write_mb": k.shuffle_write_mb})
    return {k: median(r[k] for r in rows) for k in (rows[0] if rows else {})}


# -------------------------------------------------------------- query_mix --

QUERIES = [
    "pip_polygon",                                          # spatial join
    "knn_top5", "knn_join", "knn_join_bucketed",            # kNN
    "s2_cells", "geohash_cells", "raster_cells",            # cells
    "feature_quadtree", "vector_b3dm",                      # vector export
    "utm_convert",                                          # CRS
    "tiling_octree",                                        # small tiler
    "neardup_pairs", "substring_dup", "tfidf_terms",        # dedup, text
    "unigram_logprob",
    "llm_pipeline",                                         # composed
    "pricing_summary",                                      # JVM-only control
]


# neardup_pairs' registry twin scores all ~n^2/2 document pairs (tens of
# seconds at this table size, minutes at sf0.1). This twin keeps its
# shingle and Jaccard SQL verbatim and scores only the pairs that share a
# shingle: every other pair has Jaccard 0, below the 0.9 cut, so the rows
# are the same.
NEARDUP_SQL = """
    WITH g AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 generate_series(1, greatest(len(string_split(text,' ')) - 4, 1)),
                 i -> array_to_string(string_split(text,' ')[i:i+4], ' '))) AS sh
        FROM documents WHERE doc_id < 1500),
    s AS (SELECT doc_id, unnest(sh) AS h FROM g),
    c AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM s x JOIN s y ON x.h = y.h AND x.doc_id < y.doc_id),
    p AS (
        SELECT c.a, c.b,
               len(list_intersect(ga.sh, gb.sh))::DOUBLE
               / len(list_distinct(list_concat(ga.sh, gb.sh))) AS jac
        FROM c JOIN g ga ON ga.doc_id = c.a JOIN g gb ON gb.doc_id = c.b)
    SELECT a, b, round(jac, 4) AS jaccard FROM p
    WHERE jac >= 0.9 ORDER BY a, b"""


def normalize(rows, cols):
    """Order-insensitive row form, floats at 6 decimals: the comparison
    rule of the repo's DuckDB oracle gate."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = f"{v:.6f}"
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


class QueryMix(Workload):
    """One closed-loop client: each pass runs every query once, in an
    order the seed permutes."""
    name = "query_mix"
    min_passes = 2

    def install(self):
        import __spark_entry__ as entry
        from py3dtiles_spark.operators import tiling
        self.tracer.wrap(tiling, "build_tiling", "tiling.build")
        # tiling_octree and its DuckDB twin share a checkpoint path; keep
        # it inside the benchmark's work directory
        ckpt = os.path.join(self.work, "octree-ckpt")
        self.tracer.patch(entry, "_octree_ckpt_dir", lambda sf_dir: ckpt)

    def prepare(self, spark):
        import __spark_entry__ as entry
        self.sf = datagen.write_query_tables(
            os.path.join(self.work, "tables"), self.seed)
        reg = {**entry.queries(), **entry.legacy_queries()}
        self.fns = {q: reg[q] for q in QUERIES}
        self.expected: dict = {}

    def warm(self, spark):
        # every query once, four at a time: the first call of each query
        # pays its plan compilation and the first Python UDF starts the
        # worker pool; overlapping those one-time costs keeps setup short
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(4) as pool:
            futs = [pool.submit(lambda q: self.fns[q](spark, self.sf)
                                .collect(), q) for q in self.units(-1)]
            for f in futs:
                f.result()
        spark.catalog.clearCache()

    def units(self, k):
        order = list(QUERIES)
        random.Random(f"{self.seed}/{k}").shuffle(order)
        return order

    def op(self, spark, name) -> dict:
        with self.tracer.span(f"query.{name}") as s:
            df = self.fns[name](spark, self.sf)
            rows = df.collect()
        return {"wall": s.wall, "query": name, "cols": df.columns,
                "rows": [tuple(r) for r in rows]}

    def after_op(self, spark, rec):
        # llm_pipeline persists its curated set: drop it so the next call
        # computes it again instead of reading this call's cache
        spark.catalog.clearCache()

    def _oracle(self, name):
        """DuckDB twin of one query, from the registry's oracle SQL."""
        import duckdb
        import __spark_entry__ as entry
        if not hasattr(self, "_con"):
            self._con = duckdb.connect()
            for t in ("documents", "embeddings", "lineitem"):
                self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                              f"read_parquet('{self.sf}/{t}.parquet')")
            self._sql = {**entry.oracle_sql(), **entry.legacy_oracle_sql(),
                         "neardup_pairs": NEARDUP_SQL}
        res = self._con.sql(self._sql[name])
        return res.columns, res.fetchall()

    def check(self, spark, rec) -> list[str]:
        name = rec["query"]
        # tiling_octree's twin reads the checkpoint this call just wrote
        if name not in self.expected or name == "tiling_octree":
            cols, rows = self._oracle(name)
            self.expected[name] = (sorted(cols), normalize(rows, cols))
        cols, rows = self.expected[name]
        if sorted(rec["cols"]) != cols:
            return [f"{name}: columns {sorted(rec['cols'])} != {cols}"]
        if normalize(rec["rows"], rec["cols"]) != rows:
            return [f"{name}: rows differ from the DuckDB oracle"]
        return []

    def details(self, recs):
        walls = [r["wall"] for r in recs]
        by_query = {}
        for r in recs:
            by_query.setdefault(r["query"], []).append(round(r["wall"], 4))
        return {"query_walls": by_query,
                "query_p50_s": median(walls),
                "query_p90_s": statistics.quantiles(
                    walls, n=10, method="inclusive")[-1],
                "queries_per_s": len(walls) / sum(walls)}

    def layers(self, recs, costs):
        out = tiling_layers(self.tracer.timed("tiling.build"), costs)
        for q in QUERIES:
            spans = self.tracer.timed(f"query.{q}")
            out[f"query.{q}.p50_s"] = median(s.wall for s in spans)
            ks = [span_cost(s, costs) for s in spans]
            out[f"query.{q}.stages"] = median(k.stages for k in ks)
            out[f"query.{q}.task_s"] = median(k.task_s for k in ks)
            out[f"query.{q}.shuffle_write_mb"] = median(
                k.shuffle_write_mb for k in ks)
        return out


PER_LAYER = (
    [("session.start_s", "s"), ("pages.gen_s", "s")]
    + [(f"tiling.{m}", u) for m, u in (
        ("levels", "count"), ("count_s", "s"), ("kernel_s", "s"),
        ("unattributed_s", "s"), ("nodes.cell", "count"),
        ("nodes.local", "count"), ("nodes.express", "count"),
        ("nodes.leaf", "count"), ("points_in_per_point", "ratio"),
        ("jobs", "count"), ("stages", "count"), ("task_s", "s"),
        ("cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_mb", "MB"),
        ("spill_mb", "MB"), ("max_task_s", "s"), ("utilization", "ratio"))]
    + [("tileset.assemble_s", "s"), ("tileset.tiles", "count"),
       ("tileset.task_s", "s"), ("tileset.shuffle_write_mb", "MB"),
       ("xyz.summary_s", "s"), ("xyz.task_s", "s"),
       ("pnts.write_s", "s"), ("pnts.files", "count"),
       ("pnts.mb_written", "MB"), ("convert.call_s", "s"),
       ("convert.build_s", "s"), ("convert.tileset_s", "s"),
       ("convert.unattributed_s", "s")]
    + [(f"query.{q}.{m}", u) for q in QUERIES for m, u in (
        ("p50_s", "s"), ("stages", "count"), ("task_s", "s"),
        ("shuffle_write_mb", "MB"))]
    + [("host.memset_gbps", "GB/s"), ("trace_overhead_frac", "ratio")])

WORKLOADS = {w.name: w for w in (TilePages, QueryMix)}
