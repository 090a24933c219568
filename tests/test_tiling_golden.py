"""Golden tests: the distributed engine must reproduce the canonical replay
(single-threaded reference semantics) tile-for-tile, point-for-point —
the exact-tile-assignment requirement of BASELINE.json."""

import os

import numpy as np
import pytest

from py3dtiles_spark.operators import tiling
from py3dtiles_spark.operators.replay import replay_tiling
from py3dtiles_spark.operators.tiling import (
    TilingConfig, build_tiling, cleanup_checkpoint, compute_root_aabb)
from py3dtiles_spark.sources.ripple import ripple_cloud


def _points_df(spark, ids, xyz):
    import pandas as pd
    pdf = pd.DataFrame({"point_id": ids,
                        "x": xyz[:, 0], "y": xyz[:, 1], "z": xyz[:, 2]})
    return spark.createDataFrame(pdf).repartition(8)


def _engine_assignments(spark, ids, xyz, cfg):
    df = _points_df(spark, ids, xyz)
    res = build_tiling(spark, df, cfg)
    rows = res.assignments.collect()
    got = {r.point_id: r.tile_id for r in rows}
    return got, res


@pytest.mark.parametrize("z_scale,label", [(1.0, "quadtree-flat"),
                                           (20.0, "octree-tall")])
def test_engine_matches_replay(spark, z_scale, label, tmp_path):
    ids, xyz = ripple_cloud(30_000, z_scale=z_scale)
    expected, _, _ = replay_tiling(ids, xyz, split_threshold=2000)

    cfg = TilingConfig(split_threshold=2000, in_kernel_threshold=6000,
                       checkpoint_dir=str(tmp_path / label))
    got, res = _engine_assignments(spark, ids, xyz, cfg)

    assert len(got) == len(ids)
    exp = {int(i): t for i, t in zip(ids, expected)}
    mismatches = {i: (exp[i], got[i]) for i in exp if exp[i] != got[i]}
    assert not mismatches, f"{len(mismatches)} mismatched assignments, e.g. " \
                           f"{list(mismatches.items())[:5]}"
    assert res.counters["points_assigned"] == len(ids)
    cleanup_checkpoint(res)


def test_engine_all_local_path(spark, tmp_path):
    """With a huge in-kernel threshold the whole tree builds in one task —
    must equal the multi-shuffle cell path."""
    ids, xyz = ripple_cloud(12_000)
    expected, _, _ = replay_tiling(ids, xyz, split_threshold=1500)
    cfg = TilingConfig(split_threshold=1500, in_kernel_threshold=10**9,
                       checkpoint_dir=str(tmp_path / "local"))
    got, res = _engine_assignments(spark, ids, xyz, cfg)
    assert all(got[int(i)] == t for i, t in zip(ids, expected))
    cleanup_checkpoint(res)


def test_root_aabb_and_leaf_small_cloud(spark, tmp_path):
    """The root never retains points (reference node_process.py:88,109):
    even a tiny cloud routes to depth-1 leaves, exactly like the reference
    (its ripple.las conversion produces r0.pnts, tests/test_convert.py)."""
    ids, xyz = ripple_cloud(500)
    df = _points_df(spark, ids, xyz)
    aabb, spacing = compute_root_aabb(df)
    np.testing.assert_allclose(aabb[0], xyz.min(axis=0), rtol=1e-6)
    np.testing.assert_allclose(aabb[1], xyz.max(axis=0), rtol=1e-6)

    cfg = TilingConfig(checkpoint_dir=str(tmp_path / "leaf"))
    got, res = _engine_assignments(spark, ids, xyz, cfg)
    tiles = set(got.values())
    assert "" not in tiles
    assert tiles <= set("01234567") and len(tiles) >= 2
    cleanup_checkpoint(res)


def test_resume_from_checkpoint(spark, tmp_path):
    """Interrupt after level 0, resume, and still match the replay exactly
    (the north_rule resumability requirement)."""
    ids, xyz = ripple_cloud(20_000)
    expected, _, _ = replay_tiling(ids, xyz, split_threshold=1500)

    ckpt = str(tmp_path / "resume")
    cfg1 = TilingConfig(split_threshold=1500, in_kernel_threshold=3000,
                        checkpoint_dir=ckpt, max_levels=1)
    df = _points_df(spark, ids, xyz)
    partial = build_tiling(spark, df, cfg1)
    assert not partial.counters["complete"]

    cfg2 = TilingConfig(split_threshold=1500, in_kernel_threshold=3000,
                        checkpoint_dir=ckpt)
    res = build_tiling(spark, df, cfg2, resume=True)
    assert res.counters["complete"]
    assert res.counters["levels"][0]["level"] == 0  # counters carried over
    got = {r.point_id: r.tile_id for r in res.assignments.collect()}
    assert all(got[int(i)] == t for i, t in zip(ids, expected))
    cleanup_checkpoint(res)


def test_resume_from_every_level(spark, tmp_path, monkeypatch):
    """Stop after each completed level L (max_levels=L+1), resume, and get
    the fresh build's rows and the replay's rows every time."""
    ids, xyz = ripple_cloud(20_000)
    expected, _, _ = replay_tiling(ids, xyz, split_threshold=500)
    exp = sorted(zip(ids.tolist(), expected.tolist()))

    # a local cutoff at the split threshold keeps every big node in cell
    # mode, so the tree takes one level per depth
    monkeypatch.setattr(tiling, "LOCAL_HARD_CAP", 500)

    def cfg(name, **kw):
        return TilingConfig(split_threshold=500, in_kernel_threshold=500,
                            checkpoint_dir=str(tmp_path / name), **kw)

    df = _points_df(spark, ids, xyz)
    fresh = build_tiling(spark, df, cfg("fresh"))
    n_levels = len(fresh.counters["levels"])
    assert n_levels >= 3, fresh.counters
    rows = sorted(map(tuple, fresh.assignments.collect()))
    assert rows == exp

    for lv in range(n_levels):
        partial = build_tiling(spark, df, cfg(f"l{lv}", max_levels=lv + 1))
        assert len(partial.counters["levels"]) == lv + 1
        res = build_tiling(spark, df, cfg(f"l{lv}"), resume=True)
        assert res.counters["complete"], lv
        assert res.counters["points_assigned"] == len(ids)
        assert sorted(map(tuple, res.assignments.collect())) == rows, lv
        cleanup_checkpoint(res)
    cleanup_checkpoint(fresh)


def test_express_mode_matches_replay(spark, tmp_path, monkeypatch):
    """A megacity-style node far above the local cutoff goes through the
    'express' kernel (chain + spread re-emit) — must equal the replay."""
    rng = np.random.default_rng(11)
    n = 30_000
    xyz = np.empty((n, 3), dtype=np.float32)
    xyz[:, 0] = rng.uniform(0, 100, n)
    xyz[:, 1] = rng.uniform(0, 100, n)
    xyz[:, 2] = rng.uniform(0, 1, n)
    hot = rng.random(n) < 0.6
    xyz[hot, 0] = 20.0 + rng.uniform(-0.01, 0.01, hot.sum())
    xyz[hot, 1] = 30.0 + rng.uniform(-0.01, 0.01, hot.sum())
    ids = np.arange(n, dtype=np.int64)
    expected, _, _ = replay_tiling(ids, xyz, split_threshold=500)
    monkeypatch.setattr(tiling, "LOCAL_HARD_CAP", 2000)
    cfg = TilingConfig(split_threshold=500, in_kernel_threshold=1000,
                       checkpoint_dir=str(tmp_path / "exp"))
    got, res = _engine_assignments(spark, ids, xyz, cfg)
    modes = [m for s in res.counters["levels"] for m in s["modes"]]
    assert "express" in modes            # the hot cluster took the new path
    assert all(got[int(i)] == t for i, t in zip(ids, expected))
    cleanup_checkpoint(res)


def test_distributed_routing_over_cap(spark, tmp_path, monkeypatch):
    """NODE_BROADCAST_ROWS below the live-node count forces the fully
    distributed routing path (mapInPandas routing, shuffled node_meta
    join, histogram-only driver traffic) — must produce the exact same
    assignments as the LocalRelation broadcast path."""
    ids, xyz = ripple_cloud(30_000)
    expected, _, _ = replay_tiling(ids, xyz, split_threshold=2000)
    monkeypatch.setattr(tiling, "NODE_BROADCAST_ROWS", 2)
    cfg = TilingConfig(split_threshold=2000, in_kernel_threshold=6000,
                       checkpoint_dir=str(tmp_path / "overcap"))
    got, res = _engine_assignments(spark, ids, xyz, cfg)
    exp = {int(i): t for i, t in zip(ids, expected)}
    mismatches = {i: (exp[i], got[i]) for i in exp if exp[i] != got[i]}
    assert not mismatches, f"{len(mismatches)} mismatches, e.g. " \
                           f"{list(mismatches.items())[:5]}"
    assert res.counters["points_assigned"] == len(ids)
    cleanup_checkpoint(res)


def test_resume_missing_level_raises(spark, tmp_path):
    """ADVICE r4: resuming from a checkpoint whose claimed level dir was
    never written must raise, not silently complete with empty pending."""
    import json

    ckpt = tmp_path / "bad_resume"
    ckpt.mkdir()
    (ckpt / "meta.json").write_text(json.dumps(
        {"root_aabb": [[0, 0, 0], [1, 1, 1]], "root_spacing": 0.25,
         "scale": 1.0}))
    lv = ckpt / "level=0"
    lv.mkdir()
    (lv / "_MANIFEST.json").write_text(json.dumps(
        {"level": 0, "points_in": 10, "nodes": 1, "modes": {"cell": 1}}))
    # manifest says level 0 completed, but level=0/out was never written
    ids, xyz = ripple_cloud(100)
    df = _points_df(spark, ids, xyz)
    with pytest.raises(FileNotFoundError, match="does not exist"):
        build_tiling(spark, df,
                     TilingConfig(checkpoint_dir=str(ckpt)), resume=True)


def test_route_nodes_same_on_driver_and_executors(spark, monkeypatch):
    """_route_nodes is the one routing rule: on the driver over a pandas
    frame and inside mapInPandas over a 4-partition frame it must give
    identical rows — mode AND the float32/float64 cell grid constants,
    which have to survive Arrow — on a randomized node population covering
    all four modes."""
    import pandas as pd
    from py3dtiles_spark.operators.tiling import (
        _NODE_META_SCHEMA, _local_cutoff, _route_nodes)

    rng = np.random.default_rng(13)
    root_aabb = np.array([[0.0, 0.0, 0.0], [64.0, 64.0, 32.0]])
    root_spacing = 0.25
    monkeypatch.setattr(tiling, "LOCAL_HARD_CAP", 50_000)
    cfg = TilingConfig(split_threshold=2000, in_kernel_threshold=6000)
    rows = []
    for i in range(120):
        depth = int(rng.integers(0, 6))
        tid = "".join(str(d) for d in rng.integers(0, 8, depth))
        cnt = int(rng.choice([50, 1999, 2000, 5999, 6001, 30_000,
                              60_000, 400_000]))
        # half the big nodes get a tight bbox (single-child -> express)
        lo = rng.uniform(0, 60, 3)
        hi = lo + (rng.uniform(0.01, 0.2, 3) if rng.random() < 0.5
                   else rng.uniform(20, 40, 3))
        rows.append((tid, cnt, *lo.astype(np.float32),
                     *np.minimum(hi, 64).astype(np.float32)))
    pdf = pd.DataFrame(rows, columns=["tile_id", "cnt", "bx0", "by0",
                                      "bz0", "bx1", "by1", "bz1"])
    pdf = pdf.drop_duplicates("tile_id")
    pdf[["bx0", "by0", "bz0", "bx1", "by1", "bz1"]] = (
        pdf[["bx0", "by0", "bz0", "bx1", "by1", "bz1"]].astype(np.float32))
    cutoff = _local_cutoff(cfg, int(pdf["cnt"].sum()), 8)

    driver = _route_nodes(pdf, cfg, root_aabb, root_spacing, cutoff)
    counts = spark.createDataFrame(
        pdf, "tile_id string, cnt long, bx0 float, by0 float, bz0 float, "
             "bx1 float, by1 float, bz1 float").repartition(4)
    executors = counts.mapInPandas(
        lambda batches: (_route_nodes(b, cfg, root_aabb, root_spacing,
                                      cutoff) for b in batches),
        _NODE_META_SCHEMA + ", cnt long").collect()

    want = sorted(driver.itertuples(index=False, name=None))
    got = sorted(tuple(r) for r in executors)
    assert got == want
    assert len(got) == len(pdf)
    assert set(driver["mode"]) == {"leaf", "local", "cell", "express"}
    cell = driver[driver["mode"] == "cell"]
    assert (cell["sx"] > 0).all() and (cell["mnx"].dtype == np.float32)


def test_failed_aabb_pass_releases_input_cache(spark, tmp_path, monkeypatch):
    """The narrow input is persisted before the root AABB pass; if that
    pass raises, the exception propagates and the cache is released."""
    def boom(points):
        points.count()          # materialize the persisted input first
        raise RuntimeError("aabb pass failed")

    spark.catalog.clearCache()
    monkeypatch.setattr(tiling, "compute_root_aabb", boom)
    ids, xyz = ripple_cloud(1000)
    df = _points_df(spark, ids, xyz)
    with pytest.raises(RuntimeError, match="aabb pass failed"):
        build_tiling(spark, df,
                     TilingConfig(checkpoint_dir=str(tmp_path / "boom")))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _cell_mode_cfg(tmp_path, name, monkeypatch):
    """test_resume_from_every_level's config: one level per depth, ending
    in an all-leaf level."""
    monkeypatch.setattr(tiling, "LOCAL_HARD_CAP", 500)
    return TilingConfig(split_threshold=500, in_kernel_threshold=500,
                        checkpoint_dir=str(tmp_path / name))


def _inodes(d):
    return {os.stat(os.path.join(d, f)).st_ino for f in os.listdir(d)}


def test_node_list_plan_and_linked_final_level(spark, tmp_path, monkeypatch):
    """Every routed level broadcasts its node list as a LocalRelation (one
    Arrow batch, no RDD scan); the final all-leaf level is the previous
    level's pending files hard-linked in, and the tiling_octree DuckDB
    glob reads back exactly the returned assignments."""
    import duckdb

    ids, xyz = ripple_cloud(20_000)
    broadcast = tiling.F.broadcast
    plans = []

    def spy(df):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return broadcast(df)

    monkeypatch.setattr(tiling.F, "broadcast", spy)
    cfg = _cell_mode_cfg(tmp_path, "link", monkeypatch)
    res = build_tiling(spark, _points_df(spark, ids, xyz), cfg)
    levels = res.counters["levels"]
    assert len(levels) >= 3, levels
    assert set(levels[-1]["modes"]) == {"leaf"}
    assert all(set(s["modes"]) != {"leaf"} for s in levels[:-1])

    assert len(plans) == len(levels) - 1
    for plan in plans:
        assert plan.startswith("LocalRelation"), plan
        assert "LogicalRDD" not in plan, plan

    last = levels[-1]["level"]
    linked = os.path.join(res.checkpoint_dir, f"level={last}", "out",
                          "accepted=true")
    pending = os.path.join(res.checkpoint_dir, f"level={last - 1}", "out",
                           "accepted=false")
    assert os.listdir(linked)
    assert _inodes(linked) <= _inodes(pending)

    glob = res.checkpoint_dir + "/level=*/out/accepted=true/*.parquet"
    ckpt_rows = duckdb.sql(
        f"SELECT point_id, tile_id FROM read_parquet('{glob}', "
        "hive_partitioning = 0)").fetchall()
    assert len(ckpt_rows) == len(ids)
    assert sorted(ckpt_rows) == sorted(map(tuple,
                                           res.assignments.collect()))
    cleanup_checkpoint(res)


def test_resume_after_crash_in_linked_level(spark, tmp_path, monkeypatch):
    """A crash while the all-leaf level is being linked leaves a partial
    accepted=true dir and no manifest; resume redoes that level and gets
    the fresh build's rows."""
    ids, xyz = ripple_cloud(20_000)
    df = _points_df(spark, ids, xyz)
    cfg = _cell_mode_cfg(tmp_path, "crash", monkeypatch)
    fresh = build_tiling(spark, df, cfg)
    rows = sorted(map(tuple, fresh.assignments.collect()))
    levels = fresh.counters["levels"]
    last = levels[-1]["level"]
    assert set(levels[-1]["modes"]) == {"leaf"}

    lv_dir = os.path.join(cfg.checkpoint_dir, f"level={last}")
    os.remove(os.path.join(lv_dir, "_MANIFEST.json"))
    linked = os.path.join(lv_dir, "out", "accepted=true")
    names = sorted(os.listdir(linked))
    for f in names[len(names) // 2:]:
        os.remove(os.path.join(linked, f))

    res = build_tiling(spark, df, cfg, resume=True)
    assert res.counters["complete"]
    assert [s["level"] for s in res.counters["levels"]] == \
        [s["level"] for s in levels]
    assert res.counters["points_assigned"] == len(ids)
    assert sorted(map(tuple, res.assignments.collect())) == rows
    cleanup_checkpoint(res)
