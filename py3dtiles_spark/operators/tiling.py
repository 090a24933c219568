"""Distributed octree/quadtree LOD tiling — the flagship engine.

Spark-first re-expression of the reference tiler (py3dtiles/convert.py:318-673
master/worker loop). The reference shuffles point batches between processes
over ZMQ keyed by node name; here each "ZMQ hop" is one Spark shuffle and the
build is a level-synchronous iteration (SURVEY.md §3.1 "Spark shape").

Per level, two phases:

  1. routing: groupBy(tile_id).agg(count, bbox) — one row per live node,
     routed by ONE batch-vectorized pandas function (_route_nodes) that
     runs wherever the node list lives. A BOUNDED limit probe fetches up
     to NODE_BROADCAST_ROWS nodes: those levels route on the driver
     (pure-JVM probe job; the routed pandas frame crosses back to the JVM
     as one Arrow batch and plans as a LocalRelation, so its broadcast is
     a few-ms local table scan — the fast common case). Over-cap levels
     run the same function inside mapInPandas on the executors, and the
     driver sees just the <=4-row per-mode histogram. Modes:
       leaf    count < 20000 or spacing floor  -> accept all (node.py:70-73)
       local   count <= local cutoff           -> one task recurses the
               WHOLE subtree (the reference's depth-limited pipelining,
               node_process.py:82-90, taken to its limit: zero further
               shuffles for that subtree)
       express big node whose bbox sits in ONE child octant (a megacity
               cluster) -> one task accepts AND descends level after level
               until the points spread over more than one child
       cell    huge node -> fan out by LOD-grid cell: the acceptance test
               is per-cell independent (points_grid.py:22-31 scans only the
               same cell), so a hot node runs as 27+ parallel tasks instead
               of serializing on one worker — the skew answer for megacity
               cells at 10^12 docs.
     and, for cell nodes, derives the float32 grid constants from the tile
     name (stateless, points/utils.py:83-88).

  2. kernel + checkpoint write, one job: ONE shuffle on (tile_id,
     group_key) — group_key is the grid cell for 'cell' nodes (computed
     NATIVELY in float32 column arithmetic, bit-identical to the numpy
     kernel; no Python pre-pass) and 0 otherwise — into ONE applyInPandas
     kernel for the three non-leaf modes (leaf rows bypass it as a JVM
     filter), written ONCE to parquet under
     level=N/out/accepted=true|false/ with a level=N/_MANIFEST.json. That
     parquet is the per-level checkpoint: resumable and
     lineage-truncating; the next level reads the accepted=false half,
     the final assignments read every accepted=true half. An ALL-LEAF
     level (always the last) changes no row, so instead of a join and a
     write it hard-links level N-1's accepted=false files in as its own
     accepted=true half.

Points are carried NARROW through the loop (point_id + xyz float32 only);
payload columns (url, html, text...) are joined back once at the end — at
100 TB you never shuffle the html through the tree.

Driver traffic is BOUNDED by NODE_BROADCAST_ROWS (~12 MB at 200k rows):
at 10^12 docs a level can hold ~5e7 live nodes, which would make an
unbounded driver collect the reference master's State-dict bottleneck
reborn (convert.py:217-239) — those levels stay distributed (executor-side
routing, shuffled node_meta join; only the per-mode histogram is collected
for loop termination and the manifest).

Counters (points in / nodes / modes / phase seconds per level) land in a
manifest JSON per level; the written==read invariant of the reference
(convert.py:652-653) is checked on completion (RuntimeError if broken).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from py3dtiles_spark.functions.geometry import (
    GRID_INITIAL_CELL_COUNT,
    MIN_SPACING,
    SPLIT_THRESHOLD,
    cell_keys_for_node,
    grid_constants,
    node_frame,
    sequential_accept,
    child_index_for_node,
    compute_spacing,
)
from py3dtiles_spark.operators.replay import assign_subtree

PENDING_SCHEMA = "point_id long, x float, y float, z float, tile_id string"
KERNEL_SCHEMA = PENDING_SCHEMA + ", accepted boolean"
ASSIGN_SCHEMA = "point_id long, tile_id string"

# node_meta columns (produced by _route_nodes): mn* grid aabb_min
# (float32, reference Grid constant); s* cell_count * inv_aabb_size —
# DOUBLE because the reference numba kernel promotes int32 * float32 to
# float64 (distance.py:24-27)
_NODE_META_SCHEMA = ("tile_id string, mode string, "
                     "mnx float, mny float, mnz float, "
                     "sx double, sy double, sz double")

# Levels whose live-node list fits in this many rows route on the driver
# and ride to the executors as a broadcast LocalRelation (built from one
# Arrow batch; each broadcast is a few-ms LocalTableScan job, no RDD scan
# and no Python — the sandbox/common case); bigger levels NEVER reach
# the driver: they route on the executors and node_meta joins to pending
# with a shuffled join (the right call anyway — at ~5e7 nodes the list is
# GBs, far past broadcast territory). 200k rows ~= 12 MB driver-side, a
# hard bound independent of data scale.
NODE_BROADCAST_ROWS = 200_000

# Once a level has enough nodes to saturate the cluster, nodes up to this
# many rows resolve their whole subtree in-task (local mode) instead of
# paying shuffle+Arrow plumbing for every remaining level. The effective
# local cutoff is
#   max(in_kernel_threshold, min(LOCAL_HARD_CAP, level_points / parallelism))
# i.e. one local task's rows ~= one core's fair share, which measured
# strictly better than half a share at 1.6M docs/skew: level count 5 -> 2
# (megacity nodes resolve their whole chain in-task via express descent
# instead of shuffling every level) and 8-core wall time -23%. The hard cap
# bounds any single local task (a megacity node as one task = a
# multi-second straggler that caps scaling); nodes above it fan out per
# cell.
LOCAL_HARD_CAP = 300_000


@dataclass
class TilingConfig:
    scale: float = 1.0
    split_threshold: int = SPLIT_THRESHOLD
    # nodes at or below this size finish their whole subtree in one task;
    # keep near 2x split_threshold so big nodes keep fanning out per-cell
    # (the level-size-aware local cutoff is in LOCAL_HARD_CAP's comment)
    in_kernel_threshold: int = 40_000
    # parallelism used for the local-cutoff rule. None = the session's
    # defaultParallelism; set a fixed value to make the level plan
    # independent of the core count (identical plans across cluster sizes,
    # required for apples-to-apples scaling measurements)
    plan_parallelism: Optional[int] = None
    max_levels: int = 32
    # every level lands here as parquet (resumable, lineage-truncating: at
    # cluster scale the level snapshot IS the recovery unit and feeds the
    # final assignment read). None = a fresh temp dir.
    checkpoint_dir: Optional[str] = None
    # explicit root geometry (float64 (2,3) + spacing). The LAS/XYZ convert
    # plan passes the header-derived float64 aabb here for exact reference
    # parity (convert.py:420-437); None = one agg pass over the points.
    root_aabb: Optional[object] = None
    root_spacing: Optional[float] = None


@dataclass
class TilingResult:
    assignments: DataFrame          # (point_id, tile_id)
    root_aabb: np.ndarray
    root_spacing: float
    counters: dict = field(default_factory=dict)
    checkpoint_dir: str = ""


def compute_root_aabb(points: DataFrame):
    """One aggregation pass over the cloud (reference las_reader.init
    header scan, las_reader.py:27-32). Returns (aabb float32 (2,3), spacing)."""
    row = points.agg(
        F.min("x"), F.min("y"), F.min("z"),
        F.max("x"), F.max("y"), F.max("z"),
    ).collect()[0]
    aabb = np.array([[row[0], row[1], row[2]], [row[3], row[4], row[5]]],
                    dtype=np.float32)
    return aabb, compute_spacing(aabb)


def _unified_kernel(cfg: TilingConfig, root_aabb, root_spacing):
    """One grouped-map kernel for every node mode. The group is
    (tile_id, group_key); `mode` rides as a column (constant per group)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        mode = pdf["mode"].iat[0]
        tile_id = pdf["tile_id"].iat[0]
        base = pdf[["point_id", "x", "y", "z", "tile_id"]]
        if mode == "leaf":
            out = base.copy()
            out["accepted"] = True
            return out
        if mode == "local":
            pdf = pdf.sort_values("point_id", kind="stable")
            ids = pdf["point_id"].to_numpy()
            xyz = pdf[["x", "y", "z"]].to_numpy(dtype=np.float32)
            tiles = assign_subtree(ids, xyz, tile_id, root_aabb,
                                   root_spacing, cfg.scale,
                                   cfg.split_threshold)
            return pd.DataFrame({
                "point_id": ids,
                "x": xyz[:, 0], "y": xyz[:, 1], "z": xyz[:, 2],
                "tile_id": tiles, "accepted": True})
        if mode == "express":
            # single-child descent for hot clustered nodes (megacities):
            # this group holds the node's ENTIRE point set, and as long as
            # every remaining point maps to ONE child octant, descendants
            # of tid can receive points only from here — so the kernel may
            # run the per-level accept AND descend in-task, level after
            # level, until the cluster finally spreads over >1 child. At
            # that point the remainder re-emits as pending and the normal
            # cell/local fan-out parallelizes it. Collapses the reference's
            # deep hot-cell chains (one shuffle round TOTAL instead of one
            # per level) without a multi-second monolithic local task.
            from py3dtiles_spark.functions.geometry import accept_mask_for_cells
            pdf = base.sort_values("point_id", kind="stable").reset_index(drop=True)
            ids = pdf["point_id"].to_numpy()
            xyz = pdf[["x", "y", "z"]].to_numpy(dtype=np.float32)
            n = len(pdf)
            out_tiles = np.empty(n, dtype=object)
            acc = np.zeros(n, dtype=bool)
            tid = tile_id
            live = np.arange(n)
            while live.size:
                frame = node_frame(tid, root_aabb, root_spacing)
                spacing = frame.spacing
                if (live.size < cfg.split_threshold
                        or spacing <= MIN_SPACING * cfg.scale):
                    out_tiles[live] = tid
                    acc[live] = True
                    break
                if live.size <= cfg.in_kernel_threshold:
                    out_tiles[live] = assign_subtree(
                        ids[live], xyz[live], tid, root_aabb,
                        root_spacing, cfg.scale, cfg.split_threshold)
                    acc[live] = True
                    break
                pts = xyz[live]
                corners = np.stack([pts.min(axis=0),
                                    pts.max(axis=0)]).astype(np.float32)
                cd = child_index_for_node(corners, frame)
                single_child = cd[0] == cd[1]
                if not single_child and tid != tile_id:
                    out_tiles[live] = tid        # pending at spread depth
                    break
                keys = cell_keys_for_node(pts, frame)
                mask = accept_mask_for_cells(pts, keys, spacing * spacing)
                out_tiles[live[mask]] = tid
                acc[live[mask]] = True
                rej = live[~mask]
                if rej.size == 0:
                    break
                if single_child:
                    live = rej
                    tid = tid + str(cd[0])
                    continue
                # first level already spreads: route per child and emit
                digits = child_index_for_node(xyz[rej], frame)
                out_tiles[rej] = [tid + str(d) for d in digits]
                live = np.empty(0, dtype=np.int64)
            return pd.DataFrame({
                "point_id": ids,
                "x": xyz[:, 0], "y": xyz[:, 1], "z": xyz[:, 2],
                "tile_id": out_tiles, "accepted": acc})
        # cell mode: canonical-order accept within one grid cell
        pdf = base.sort_values("point_id", kind="stable").reset_index(drop=True)
        frame = node_frame(tile_id, root_aabb, root_spacing)
        xyz = pdf[["x", "y", "z"]].to_numpy(dtype=np.float32)
        accept = sequential_accept(xyz, frame.spacing * frame.spacing)
        out = pdf.copy()
        out["accepted"] = accept
        rej = ~accept
        if rej.any():
            digits = child_index_for_node(xyz[rej], frame)
            out.loc[rej, "tile_id"] = [tile_id + str(d) for d in digits]
        return out

    return kernel


def _route_nodes(counts: pd.DataFrame, cfg: TilingConfig, root_aabb,
                 root_spacing, local_cutoff: int) -> pd.DataFrame:
    """The one per-node routing rule, over a batch of the level's
    (tile_id, cnt, bx0..bz1) aggregate -> (tile_id, mode, mn*, s*, cnt):
    run on the driver over the bounded probe, inside mapInPandas for
    over-cap levels. Modes (reference node.py:70-73 + node_process.py:82-90
    generalized):
      leaf     cnt < split_threshold or spacing <= floor -> accept all
      express  cnt > in_kernel_threshold and the bbox sits in ONE child
      local    cnt <= local_cutoff -> whole subtree in one task
      cell     fan out per LOD-grid cell (mn*, s*: grid_constants)
    Only the big non-leaf nodes fold a node_frame; local_cutoff >=
    in_kernel_threshold (_local_cutoff), so every cell node is one."""
    cnt = counts["cnt"].to_numpy()
    depth = counts["tile_id"].str.len().to_numpy()
    spacing = float(root_spacing) * np.power(0.5, depth)
    leaf = (cnt < cfg.split_threshold) | (spacing <= MIN_SPACING * cfg.scale)
    mode = np.where(leaf, "leaf", np.where(cnt <= local_cutoff, "local",
                                           "cell")).astype(object)
    mn = np.zeros((len(counts), 3), dtype=np.float32)
    sc = np.zeros((len(counts), 3), dtype=np.float64)
    bbox = counts[["bx0", "by0", "bz0", "bx1", "by1", "bz1"]].to_numpy(
        dtype=np.float32).reshape(-1, 2, 3)
    for i in np.flatnonzero(~leaf & (cnt > cfg.in_kernel_threshold)):
        frame = node_frame(counts["tile_id"].iat[i], root_aabb, root_spacing)
        cd = child_index_for_node(bbox[i], frame)
        if cd[0] == cd[1]:
            # the whole bbox maps into ONE child octant (a megacity
            # cluster): accept AND descend in-task, one shuffle round for
            # the entire hot chain
            mode[i] = "express"
        elif mode[i] == "cell":
            mn[i], sc[i] = grid_constants(frame)
    return pd.DataFrame({
        "tile_id": counts["tile_id"].to_numpy(), "mode": mode,
        "mnx": mn[:, 0], "mny": mn[:, 1], "mnz": mn[:, 2],
        "sx": sc[:, 0], "sy": sc[:, 1], "sz": sc[:, 2], "cnt": cnt})


def _local_cutoff(cfg: TilingConfig, est_total: Optional[int],
                  parallelism: int) -> int:
    """Effective local-mode cutoff (see LOCAL_HARD_CAP). `est_total` is the
    level's point total — known exactly on the driver as the PREVIOUS
    level's points_in (each level's input is a subset of the prior one),
    None for level 0 / resume without manifests, where the conservative
    in_kernel_threshold applies. The estimate can only overshoot, which
    only ever nudges a would-be 'cell' node to 'local' — a plan heuristic,
    never a semantics change (every mode computes identical assignments).
    For any level with total <= in_kernel_threshold * parallelism (all
    sandbox workloads) the estimate and the exact value produce the SAME
    cutoff, so plans are bit-identical to the exact-total rule there."""
    if est_total is None:
        return cfg.in_kernel_threshold
    return max(cfg.in_kernel_threshold,
               min(LOCAL_HARD_CAP, est_total // max(1, parallelism)))


def _root_route_expr(root_aabb, root_spacing):
    """Depth-1 octant digit as a native column expression (the reference's
    xyz_to_child_index vs the root center with the quadtree z-trick,
    node.py:123-131). Comparing the float32 column against the exact
    float32 center literal is equivalent to the reference's
    (xyz - center) >= 0 float32 test (nearby-operand subtraction is exact,
    and rounding never flips the sign of a nonzero difference)."""
    from py3dtiles_spark.functions.geometry import QUADTREE, subdivision_type
    frame = node_frame("", root_aabb, root_spacing)
    cx, cy = float(frame.center[0]), float(frame.center[1])
    cz = (float(frame.aabb[1][2])
          if subdivision_type(frame.size) == QUADTREE
          else float(frame.center[2]))
    digit = ((F.col("x") >= cx).cast("int") * 4
             + (F.col("y") >= cy).cast("int") * 2
             + (F.col("z") >= cz).cast("int"))
    return digit.cast("string")


def cell_key_expr(aabb_min, scale) -> Column:
    """Grid cell key of the x/y/z columns as a native expression, given
    three float aabb_min and three double scale Columns (column refs or
    literals of geometry.grid_constants). Mirrors the reference xyz_to_key
    promotion exactly (distance.py:24-32): the DOUBLE scale times the
    FLOAT (xyz - aabb_min) difference widened to double (exact), truncated
    to long and clamped, packed y<<s | z<<2s. Keeping the product in f64
    matches the numpy/numba kernel bit-for-bit on boundary points where a
    float32 product would round 0.99999997 up to 1.0."""
    c = GRID_INITIAL_CELL_COUNT
    shift = int(c - 1).bit_length()

    def axis(col, mn, sc):
        diff = (F.col(col).cast("float") - mn.cast("float")).cast("float")
        prod = sc * diff.cast("double")
        return F.least(F.greatest(prod.cast("long"), F.lit(0)), F.lit(c - 1))

    return (axis("x", aabb_min[0], scale[0])
            + F.shiftleft(axis("y", aabb_min[1], scale[1]), shift)
            + F.shiftleft(axis("z", aabb_min[2], scale[2]), 2 * shift))


def build_tiling(spark: SparkSession, points: DataFrame,
                 cfg: TilingConfig | None = None,
                 resume: bool = False) -> TilingResult:
    """Run the level-synchronous octree build.

    points: DataFrame with (point_id: long, x, y, z numeric). Extra columns
    are dropped (join payload back on point_id afterwards).
    """
    cfg = cfg or TilingConfig()
    ckpt = cfg.checkpoint_dir or tempfile.mkdtemp(prefix="tiling_ckpt_")
    os.makedirs(ckpt, exist_ok=True)

    narrow = points.select(
        F.col("point_id").cast("long"),
        F.col("x").cast("float"), F.col("y").cast("float"),
        F.col("z").cast("float"),
    )

    meta_path = os.path.join(ckpt, "meta.json")
    start_level = 0
    counters: dict = {"levels": []}
    resuming = resume and os.path.exists(meta_path)
    if resuming:
        with open(meta_path) as f:
            meta = json.load(f)
        root_aabb = np.array(meta["root_aabb"], dtype=np.float64)
        root_spacing = float(meta["root_spacing"])
        done = sorted(int(d.split("=")[1]) for d in os.listdir(ckpt)
                      if d.startswith("level=") and
                      os.path.exists(os.path.join(ckpt, d, "_MANIFEST.json")))
        start_level = (done[-1] + 1) if done else 0
        for lv in done:
            with open(os.path.join(ckpt, f"level={lv}", "_MANIFEST.json")) as f:
                counters["levels"].append(json.load(f))
    else:
        # fresh run into a reused checkpoint_dir: stale level=* dirs from a
        # previous (possibly deeper or differently-configured) run would
        # leak into the final level=*/out glob — remove them first
        for d in os.listdir(ckpt):
            if d.startswith("level="):
                shutil.rmtree(os.path.join(ckpt, d), ignore_errors=True)

    group_key = F.when(F.col("mode") == "cell", cell_key_expr(
        [F.col(c) for c in ("mnx", "mny", "mnz")],
        [F.col(c) for c in ("sx", "sy", "sz")])).otherwise(F.lit(0))
    # level-total estimate for the local cutoff: the previous level's
    # points_in (this level's input is a subset of it); on resume, the
    # last completed manifest. None (level 0 of a fresh run) -> the
    # conservative in_kernel_threshold cutoff (see _local_cutoff).
    est_total = (counters["levels"][-1]["points_in"]
                 if counters["levels"] else None)
    complete = False
    input_cached = None

    # kernel groups are CPU-heavy but byte-tiny (narrow rows): AQE's
    # byte-based partition coalescing would serialize them onto a few
    # tasks — disable it for the level loop, restore after
    _coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    _coalesce_prev = spark.conf.get(_coalesce_key, "true")
    spark.conf.set(_coalesce_key, "false")
    # the bounded routing probe is a CollectLimit; by default Spark runs
    # it incrementally (1 partition, then scaleUpFactor more, ...) which
    # turns one routing job into several sequential mini-rounds per
    # level. The probe wants ALL partitions in one pass — the result is
    # node-count sized either way.
    _limit_key = "spark.sql.limit.initialNumPartitions"
    _limit_prev = spark.conf.get(_limit_key, None)
    spark.conf.set(_limit_key, "100000")

    try:
        if start_level == 0:
            # persist the narrow input BEFORE the AABB pass — level 0
            # consumes the upstream lineage three times (AABB agg,
            # per-node counts, kernel pass); caching the 21 B/point narrow
            # rows turns three source-scan/generation executions into one.
            # Released as soon as level 0's checkpoint is on disk: every
            # later level reads parquet.
            from pyspark import StorageLevel
            input_cached = narrow = narrow.persist(
                StorageLevel.MEMORY_AND_DISK)
        if not resuming:
            if cfg.root_aabb is not None:
                root_aabb = np.asarray(cfg.root_aabb, dtype=np.float64)
                root_spacing = (float(cfg.root_spacing)
                                if cfg.root_spacing is not None
                                else compute_spacing(root_aabb))
            else:
                root_aabb, root_spacing = compute_root_aabb(narrow)
            with open(meta_path, "w") as f:
                json.dump({"root_aabb": root_aabb.tolist(),
                           "root_spacing": root_spacing,
                           "scale": cfg.scale}, f)

        if start_level == 0:
            # ROOT HOP — reference semantics: the root never retains
            # points (node_process.py:88,109 forces make_empty_node for
            # name='', so every point forwards to a depth-1 octant; the
            # root pnts is a post-hoc overview, operators/tileset.py
            # root_overview). Pure JVM column expression over the CACHED
            # narrow rows: zero shuffle, zero Python for the full-volume
            # level — the cheapest possible level 0 at 100 TB. The route
            # expression re-evaluates per consumer pass (cheap float
            # compares), the cached input does not.
            pending = narrow.withColumn(
                "tile_id", _root_route_expr(root_aabb, root_spacing))
        else:
            pending = _read_pending(
                spark, os.path.join(ckpt, f"level={start_level - 1}", "out"))
        kernel = _unified_kernel(cfg, root_aabb, root_spacing)

        for level in range(start_level, cfg.max_levels):
            lv_dir = os.path.join(ckpt, f"level={level}")
            t0 = time.time()
            # per-node count + bbox in ONE agg pass: the bbox costs nothing
            # extra (same shuffle) and lets the routing spot tight-cluster
            # nodes (megacities) whose whole point set sits within one spacing
            # — those get 'express' mode instead of a multi-second local task
            counts = (pending.groupBy("tile_id")
                      .agg(F.count("*").alias("cnt"),
                           F.min("x").alias("bx0"), F.min("y").alias("by0"),
                           F.min("z").alias("bz0"),
                           F.max("x").alias("bx1"), F.max("y").alias("by1"),
                           F.max("z").alias("bz1")))
            parallelism = (cfg.plan_parallelism
                           or spark.sparkContext.defaultParallelism)
            # BOUNDED probe: a level with <= NODE_BROADCAST_ROWS live nodes
            # (every sandbox level; most real levels) comes back whole from
            # the pure-JVM routing pass and is routed driver-side over the
            # O(cap) rows (with the exact level total for the local
            # cutoff); the node list goes back as a broadcast LocalRelation
            # (one Arrow batch; no RDD scan, no Python stage). Over-cap
            # levels never reach the driver: the same _route_nodes runs in
            # mapInPandas, only the per-mode histogram is collected, and
            # node_meta joins to pending by shuffle (a GB-sized node list
            # has no business being broadcast anyway).
            cap = NODE_BROADCAST_ROWS
            node_meta_full = None
            # persisted so the over-cap path's routing pass reads the
            # cached node rows instead of re-running the full groupBy over
            # every pending point (the level's priciest pass). A level has
            # no more nodes than points and no more points than the
            # previous level, so a level with est_total <= cap always takes
            # the broadcast path and the cache would be dead weight.
            if est_total is None or est_total > cap:
                counts = counts.persist()
            probe = counts.limit(cap + 1).collect()
            broadcast_path = len(probe) <= cap
            if broadcast_path:
                counts.unpersist()
                n_in = int(sum(r["cnt"] for r in probe))
                cutoff = _local_cutoff(cfg, n_in if n_in else None, parallelism)
                routed = _route_nodes(
                    pd.DataFrame(probe, columns=counts.columns), cfg,
                    root_aabb, root_spacing, cutoff)
                modes = dict(Counter(routed["mode"]))
                n_nodes = len(routed)
            else:
                cutoff = _local_cutoff(cfg, est_total, parallelism)
                node_meta_full = counts.mapInPandas(
                    lambda batches: (_route_nodes(b, cfg, root_aabb,
                                                  root_spacing, cutoff)
                                     for b in batches),
                    _NODE_META_SCHEMA + ", cnt long").persist()
                stats_rows = (node_meta_full.groupBy("mode")
                              .agg(F.count("*").alias("nodes"),
                                   F.sum("cnt").alias("pts")).collect())
                counts.unpersist()
                modes = {r["mode"]: int(r["nodes"]) for r in stats_rows}
                n_nodes = int(sum(r["nodes"] for r in stats_rows))
                n_in = int(sum(r["pts"] for r in stats_rows))
            t_counts = time.time() - t0
            if n_in == 0:
                if node_meta_full is not None:
                    node_meta_full.unpersist()
                complete = True
                break
            est_total = n_in   # next level's input is a subset of this one's

            t0 = time.time()
            out_df = None
            if set(modes) != {"leaf"}:
                if broadcast_path:
                    # the routed pandas frame crosses to the JVM as one
                    # Arrow batch and plans as a LocalRelation (a list of
                    # Python tuples would plan as an RDD scan)
                    node_meta = F.broadcast(spark.createDataFrame(
                        routed.drop(columns="cnt"), _NODE_META_SCHEMA))
                else:
                    node_meta = node_meta_full.drop("cnt")
                tagged = pending.join(node_meta, "tile_id")
                # leaf rows are final as-is: pure JVM filter, NO shuffle,
                # NO Python — node.py:70-73 leaf semantics
                leaf_rows = (tagged.filter(F.col("mode") == "leaf")
                             .select("point_id", "x", "y", "z", "tile_id",
                                     F.lit(True).alias("accepted")))
                nonleaf = (tagged.filter(F.col("mode") != "leaf")
                           .withColumn("gk", group_key)
                           .drop("mnx", "mny", "mnz", "sx", "sy", "sz")
                           .groupBy("tile_id", "gk")
                           .applyInPandas(kernel, schema=KERNEL_SCHEMA))
                out_df = nonleaf.unionByName(leaf_rows)
            elif level == 0:
                # all-leaf level 0 (a tiny input): pending is the
                # root-routed input, not on disk yet — write it as accepted
                out_df = pending.withColumn("accepted", F.lit(True))
            else:
                # ALL-LEAF level (always the build's final level) whose
                # pending rows are level L-1's accepted=false files: every
                # row keeps the tile it carries, and `accepted` is a hive
                # partition column, not a stored one, so those files ARE
                # this level's accepted=true half. Hard-link them in — no
                # join, kernel, shuffle or driver-side byte copy. Crash
                # order: a partial level dir left by an interrupted attempt
                # is removed first, and the manifest (what marks the level
                # done for resume) is written only after every link exists.
                shutil.rmtree(lv_dir, ignore_errors=True)
                shutil.copytree(
                    os.path.join(ckpt, f"level={level - 1}", "out",
                                 "accepted=false"),
                    os.path.join(lv_dir, "out", "accepted=true"),
                    copy_function=os.link)
            if out_df is not None:
                # hive-partition by `accepted`: ONE write, but the next
                # level's NOT-accepted read partition-prunes the finalized
                # rows away entirely and the final assignments union reads
                # only accepted=true dirs — at deep levels (mostly-leaf
                # output) this halves checkpoint read volume, which on a
                # fault-bound host is wall-clock.
                # Kernel parallelism is decoupled from output file count:
                # the kernel fans out at shuffle width, but its output is
                # n_in narrow rows (~40 B each); letting every kernel/leaf
                # task open its own dynamic-partition writers produced
                # ~200 KB-sized files per level and paid seconds of
                # open/commit overhead. Repartition to a size-derived file
                # count (128 MB target) first: locally 1-2 write tasks,
                # petabyte levels thousands — never a constant tuned to
                # either.
                target_files = max(1, -(-n_in * 40 // (128 << 20)))
                (out_df.repartition(target_files)
                 .write.mode("overwrite").partitionBy("accepted")
                 .parquet(os.path.join(lv_dir, "out")))
            t_kernel = time.time() - t0
            if node_meta_full is not None:
                node_meta_full.unpersist()
            if input_cached is not None:
                # level 0 is on disk and every later level reads parquet
                input_cached.unpersist()
                input_cached = None

            lv_stats = {"level": level, "points_in": n_in,
                        "nodes": n_nodes, "modes": modes,
                        "sec_counts": round(t_counts, 3),
                        "sec_kernel": round(t_kernel, 3)}
            with open(os.path.join(lv_dir, "_MANIFEST.json"), "w") as f:
                json.dump(lv_stats, f)
            counters["levels"].append(lv_stats)

            if modes.get("cell", 0) == 0 and modes.get("express", 0) == 0:
                # leaf/local groups fully resolve their points — nothing forwards
                complete = True
                break
            pending = _read_pending(spark, os.path.join(lv_dir, "out"))

    finally:
        spark.conf.set(_coalesce_key, _coalesce_prev)
        if _limit_prev is None:
            spark.conf.unset(_limit_key)
        else:
            spark.conf.set(_limit_key, _limit_prev)
        if input_cached is not None:
            # the loop ended before level 0's checkpoint was written
            input_cached.unpersist()
    # explicit per-level accepted=true subdirs (not a level=* glob): stale
    # dirs from other runs can never leak in, no multi-root partition
    # discovery, and the pending halves of every level are never even
    # listed — the union reads exactly the finalized rows.
    parts = []
    for s in counters["levels"]:
        p = _level_half(os.path.join(ckpt, f"level={s['level']}", "out"),
                        accepted=True)
        if p is not None:
            parts.append(spark.read.schema(PENDING_SCHEMA).parquet(p)
                         .select("point_id", "tile_id"))
    if parts:
        from functools import reduce
        assignments = reduce(DataFrame.unionByName, parts)
    else:
        assignments = spark.createDataFrame([], ASSIGN_SCHEMA)

    counters["points_total"] = (counters["levels"][0]["points_in"]
                                if counters["levels"] else 0)
    counters["complete"] = complete
    if complete and counters["levels"]:
        # reference invariant: every point read is written (convert.py:652)
        assigned = assignments.count()
        counters["points_assigned"] = assigned
        if assigned != counters["points_total"]:
            raise RuntimeError(
                f"tiling wrote {assigned} assignments for "
                f"{counters['points_total']} input points: {counters}")
    return TilingResult(assignments=assignments, root_aabb=root_aabb,
                        root_spacing=root_spacing, counters=counters,
                        checkpoint_dir=ckpt)


def _level_half(out_dir: str, accepted: bool) -> Optional[str]:
    """Path of one half of a level checkpoint, or None when that half is
    empty. A level's out dir is hive-partitioned by `accepted` (the only
    layout build_tiling writes), and every written level holds at least
    one row, so an out dir with neither half is some other layout: it is
    rejected rather than read as empty, which would drop its rows."""
    done = os.path.join(out_dir, "accepted=true")
    pending = os.path.join(out_dir, "accepted=false")
    if not (os.path.isdir(done) or os.path.isdir(pending)):
        raise ValueError(
            f"level checkpoint {out_dir} has neither an accepted=true/ nor "
            "an accepted=false/ subdir; expected the hive layout "
            "out/accepted=true|false/*.parquet")
    p = done if accepted else pending
    return p if os.path.isdir(p) else None


def _read_pending(spark, out_dir: str) -> DataFrame:
    """Pending rows of a level checkpoint: the accepted=false subdir is
    read directly, so the finalized rows are never listed, let alone
    scanned; a level where everything finalized has no such dir (empty
    frame; the loop's next count pass then completes)."""
    if not os.path.isdir(out_dir):
        # a fully-accepted level HAS an out dir (with only accepted=true);
        # a missing dir means the checkpoint was never written — resuming
        # with a wrong start_level must fail loudly, not return an empty
        # pending that silently completes the build
        raise FileNotFoundError(
            f"level checkpoint {out_dir} does not exist — wrong "
            "start_level / checkpoint_dir?")
    p = _level_half(out_dir, accepted=False)
    if p is None:
        return spark.createDataFrame([], PENDING_SCHEMA)
    return spark.read.schema(PENDING_SCHEMA).parquet(p)


def cleanup_checkpoint(result: TilingResult) -> None:
    shutil.rmtree(result.checkpoint_dir, ignore_errors=True)
