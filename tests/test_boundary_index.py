"""Broadcast boundary index (engine._boundary_index), which the
one-pass Q1 plan refines kind 0/2 cells against.

Must produce hit-sets IDENTICAL to the join fallback's tile-join refine
on the same tile table (same predicates; only the pair-formation
plumbing differs), respect the `broadcast_wkb_budget` byte ceiling,
and fall back cleanly when over it.
Runs on a generated `fixtures_dense` set (no external files), and pins
the index layout's invariants: one store of distinct undirected
segments, per-tile signed refs into it, a y-slab CSR of refs, and the
refs of the distance-fit segments.
"""
import re

import numpy as np
import pyspark.sql.functions as F
import pytest

from areacity_query_geometry_spark import tiler
from areacity_query_geometry_spark.engine import (
    SLABS, SpatialEngine, _build_boundary_index, _seg_rows,
)
from areacity_query_geometry_spark.geom import core, predicates, wkb

BASE_RES = 9
WHERE = "deep = 2"
# the join fallback's two sub-legs: boundary tile side broadcast (the
# interior index off) and shuffled (the boundary index off)
FALLBACKS = ({"interior_broadcast_rows": 0}, {"broadcast_wkb_budget": 0})


@pytest.fixture(scope="module")
def engine(dense_engine):
    return dense_engine


def _variant(engine, **kw):
    return SpatialEngine(engine.spark, engine.boundaries, engine.tiles,
                         base_res=BASE_RES, **kw)


def _pts(spark, n):
    return spark.range(n).select(
        F.col("id").alias("point_id"),
        (73.0 + (F.col("id") * 37 % 6200) / 100.0).alias("lng"),
        (18.0 + (F.col("id") * 101 % 3600) / 100.0).alias("lat"),
    )


def _hits(eng, pts, where=None):
    return {(r.point_id, r.region_id) for r in eng.query_points(
        pts, where=where, with_props=False).collect()}


def test_index_path_equals_join_path(spark, engine):
    pts = _pts(spark, 3000)
    assert engine._boundary_index() is not None
    got = _hits(engine, pts)
    assert len({p for p, _ in got}) > 2500
    for kw in FALLBACKS:  # tile-join refine
        joined = _variant(engine, **kw)
        assert joined._one_pass_indexes() is None
        assert got == _hits(joined, pts), kw


def test_budget_fallback(spark, engine):
    tiny = _variant(engine, broadcast_wkb_budget=1)
    assert tiny._boundary_index() is None
    assert tiny._wkb_bytes is not None  # statistic cached, no re-agg
    # and the engine still answers correctly through the join path
    pts = _pts(spark, 500)
    assert _hits(tiny, pts) == _hits(engine, pts)


def test_index_layout_invariants(engine):
    bc, bcells = engine._boundary_index()
    n_expected = (engine.tiles.filter("kind != 1")
                  .select("cell_id").distinct().count())
    assert bcells.count() == n_expected
    idx = bc.value
    assert len(idx["cells"]) == n_expected
    assert idx["cell_ptr"][-1] == len(idx["region"])
    ntiles = len(idx["region"])

    # one store of distinct undirected segments, and per tile its refs
    SEG, seg_ptr, tile_seg = idx["SEG"], idx["seg_ptr"], idx["tile_seg"]
    assert SEG.ndim == 2 and SEG.shape[1] == 4 and SEG.dtype == np.float64
    assert seg_ptr[-1] == len(tile_seg)
    assert not {"X1", "Y1", "X2", "Y2", "YDS", "DX", "LN", "DEG",
                "FX1", "FY1", "FX2", "FY2", "ln"} & set(idx)
    # kind-0 tiles all carry segments; kind-2 carry none
    seg_len = np.diff(seg_ptr)
    assert (seg_len[idx["kind"] == 0] > 0).all()
    assert (seg_len[idx["kind"] == 2] == 0).all()
    tile_of_seg = np.repeat(np.arange(ntiles), seg_len)

    # each tile's refs resolve to its decoded ring segments, in order
    rows = (engine.tiles.filter("kind = 0")
            .select("cell_id", "region_id", "minx", "miny", "tile_wkb")
            .collect())
    ring = {(r.cell_id, r.region_id, r.minx, r.miny):
            predicates.segments_of_rings(core.all_rings(
                wkb.loads(bytes(r.tile_wkb)))) for r in rows}
    cell_of = np.repeat(idx["cells"], np.diff(idx["cell_ptr"]))
    for t in np.nonzero(idx["kind"] == 0)[0]:
        got = _seg_rows(SEG, tile_seg[seg_ptr[t]:seg_ptr[t + 1]])
        want = ring[(cell_of[t], idx["region"][t], idx["minx"][t],
                     idx["miny"][t])]
        assert got.tobytes() == want.tobytes(), t
    # every SEG row is referenced, and none repeats another undirected:
    # each is in the canonical direction (smaller (x, y) bits first)
    # and their bit patterns are distinct
    ref = tile_seg.astype(np.int64)
    assert (np.bincount(np.where(ref < 0, ~ref, ref),
                        minlength=len(SEG)) > 0).all()
    bits = SEG.view(np.int64)
    assert ((bits[:, 0] < bits[:, 2])
            | ((bits[:, 0] == bits[:, 2]) & (bits[:, 1] <= bits[:, 3]))).all()
    assert len(np.unique(bits, axis=0)) == len(SEG)
    assert len(SEG) < len(tile_seg)

    # the int32 arrays, and every ref, are in range
    slab_ptr, slab_seg, fseg = idx["slab_ptr"], idx["slab_seg"], idx["fseg"]
    for a in (tile_seg, slab_ptr, slab_seg, fseg):
        assert a.dtype == np.int32
    for a in (tile_seg, slab_seg, fseg):
        assert ((a >= -len(SEG)) & (a < len(SEG))).all()
    assert len(slab_ptr) == ntiles * SLABS + 1
    assert slab_ptr[0] == 0 and slab_ptr[-1] == len(slab_seg)
    assert (np.diff(slab_ptr) >= 0).all()
    assert (idx["slab_h"] > 0).all()

    # a tile's slabs list refs of its own segments only, and every one
    # of its segments in at least one slab
    slab_tile = np.repeat(np.arange(ntiles * SLABS) // SLABS,
                          np.diff(slab_ptr))
    key = len(SEG) + 1
    assert np.array_equal(
        np.unique(slab_tile * 2 * key + slab_seg + key),
        np.unique(tile_of_seg * 2 * key + tile_seg + key))

    # fseg lists, per tile and in order, exactly the non-window segments
    fseg_ptr = idx["fseg_ptr"]
    assert fseg_ptr[-1] == len(fseg)
    x1, y1, x2, y2 = _seg_rows(SEG, tile_seg).T
    e = tiler.CLIP_EPS
    on_win = (((x1 == x2) & ((x1 == idx["minx"][tile_of_seg] - e)
                             | (x1 == idx["maxx"][tile_of_seg] + e)))
              | ((y1 == y2) & ((y1 == idx["miny"][tile_of_seg] - e)
                               | (y1 == idx["maxy"][tile_of_seg] + e))))
    assert on_win.any()
    assert np.array_equal(fseg, tile_seg[~on_win])
    assert np.array_equal(np.diff(fseg_ptr),
                          np.bincount(tile_of_seg[~on_win], minlength=ntiles))


def test_where_filter_stays_on_index_path_and_agrees(spark, engine):
    """`where` rides the index path as an in-kernel keep-region array
    (since late r4): its hits must equal post-filtering the unfiltered
    hits, AND equal the join path's LEFT SEMI pruning."""
    pts = _pts(spark, 2000)
    filtered = _hits(engine, pts, WHERE)
    keep = {r.region_id for r in
            engine.boundaries.filter(WHERE).select("region_id").collect()}
    full = {(p, rid) for (p, rid) in _hits(engine, pts) if rid in keep}
    assert filtered and filtered == full
    for kw in FALLBACKS:
        assert filtered == _hits(_variant(engine, **kw), pts, WHERE), kw


def _oracle_index(engine):
    """The boundary index built from each tile's segments by the
    per-geometry path (`wkb.loads` + `core.all_rings` +
    `predicates.segments_of_rings`) over a plain row collect."""
    rows = (engine.tiles.filter("kind != 1")
            .select("cell_id", "region_id", "deep", "kind", "minx", "miny",
                    "maxx", "maxy", "tile_wkb").collect())
    segs = [np.zeros((0, 4)) if r.tile_wkb is None
            else predicates.segments_of_rings(core.all_rings(
                wkb.loads(bytes(r.tile_wkb)))) for r in rows]
    t = {c: np.array([r[c] for r in rows]) for c in
         ("cell_id", "region_id", "kind", "minx", "miny", "maxx", "maxy")}
    t["deep"] = np.array([np.iinfo(np.int64).min if r.deep is None
                          else r.deep for r in rows], np.int64)
    return _build_boundary_index(
        t, np.array([len(s) for s in segs], np.int64), np.vstack(segs))


def test_build_is_one_job_and_equals_oracle(spark, engine):
    """On a fresh engine the build runs exactly one Spark job, and no
    Python worker (no Python node in its plan); an eager checkpoint or
    a second decode stage would show here. Its index equals the
    oracle's array for array: keys, dtypes, shapes and bits."""
    eng = _variant(engine)
    eng._boundary_wkb_bytes()  # the budget statistic: its own job
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    group = "test-boundary-index-build"
    sc.setJobGroup(group, "boundary index build")
    try:
        bc, _ = eng._boundary_index()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    bus.waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1
    execs = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        store.executionsList())
    plans = [e.physicalPlanDescription() for e in execs
             if e.jobs().contains(jobs[0])]
    assert len(plans) == 1
    assert not re.search("Python|Pandas|InArrow", plans[0]), plans[0]

    got, want = bc.value, _oracle_index(engine)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k].dtype == want[k].dtype, k
        assert got[k].shape == want[k].shape, k
        assert got[k].tobytes() == want[k].tobytes(), k
