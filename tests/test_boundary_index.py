"""Broadcast boundary index (engine._boundary_index), which the
one-pass Q1 plan refines kind 0/2 cells against.

Must produce hit-sets IDENTICAL to the join fallback's tile-join refine
on the same tile table (same predicates; only the pair-formation
plumbing differs), respect the `broadcast_wkb_budget` byte ceiling,
and fall back cleanly when over it.
Runs on a generated `fixtures_dense` set (no external files), and pins
the index layout's invariants: one packed segment store, a y-slab CSR
into it, and an index of the distance-fit segments.
"""
import numpy as np
import pyspark.sql.functions as F
import pytest

from areacity_query_geometry_spark import tiler
from areacity_query_geometry_spark.engine import SLABS, SpatialEngine

BASE_RES = 9
WHERE = "deep = 2"


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
    # tile-join refine
    joined = _variant(engine, broadcast_tiles=True, broadcast_wkb_budget=0)
    assert engine._boundary_index() is not None
    assert joined._boundary_index() is None
    got = _hits(engine, pts)
    assert len({p for p, _ in got}) > 2500
    assert got == _hits(joined, pts)


def test_budget_fallback(spark, engine):
    tiny = _variant(engine, broadcast_tiles=True, broadcast_wkb_budget=1)
    assert tiny._boundary_index() is None
    assert tiny._bindex_off  # decision cached, no re-agg per query
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

    # each segment once, in one packed store
    SEG, seg_ptr = idx["SEG"], idx["seg_ptr"]
    assert SEG.ndim == 2 and SEG.shape[1] == 5 and SEG.dtype == np.float64
    assert seg_ptr[-1] == len(SEG)
    assert not {"X1", "Y1", "X2", "Y2", "YDS", "DX", "LN", "DEG",
                "FX1", "FY1", "FX2", "FY2"} & set(idx)
    # kind-0 tiles all carry segments; kind-2 carry none
    seg_len = np.diff(seg_ptr)
    assert (seg_len[idx["kind"] == 0] > 0).all()
    assert (seg_len[idx["kind"] == 2] == 0).all()
    tile_of_seg = np.repeat(np.arange(ntiles), seg_len)

    # the int32 arrays are in range
    slab_ptr, slab_seg, fseg = idx["slab_ptr"], idx["slab_seg"], idx["fseg"]
    for a in (slab_ptr, slab_seg, fseg):
        assert a.dtype == np.int32
    assert len(slab_ptr) == ntiles * SLABS + 1
    assert slab_ptr[0] == 0 and slab_ptr[-1] == len(slab_seg)
    assert (np.diff(slab_ptr) >= 0).all()
    assert ((slab_seg >= 0) & (slab_seg < len(SEG))).all()
    assert ((fseg >= 0) & (fseg < len(SEG))).all()
    assert (idx["slab_h"] > 0).all()

    # every segment is listed in at least one slab of its own tile
    slab_tile = np.repeat(np.arange(ntiles * SLABS) // SLABS,
                          np.diff(slab_ptr))
    assert (tile_of_seg[slab_seg] == slab_tile).all()
    assert (np.bincount(slab_seg, minlength=len(SEG)) > 0).all()

    # fseg lists, per tile and in order, exactly the non-window segments
    fseg_ptr = idx["fseg_ptr"]
    assert fseg_ptr[-1] == len(fseg) and (np.diff(fseg) > 0).all()
    assert (tile_of_seg[fseg]
            == np.repeat(np.arange(ntiles), np.diff(fseg_ptr))).all()
    x1, y1, x2, y2 = SEG[:, 0], SEG[:, 1], SEG[:, 2], SEG[:, 3]
    e = tiler.CLIP_EPS
    on_win = (((x1 == x2) & ((x1 == idx["minx"][tile_of_seg] - e)
                             | (x1 == idx["maxx"][tile_of_seg] + e)))
              | ((y1 == y2) & ((y1 == idx["miny"][tile_of_seg] - e)
                               | (y1 == idx["maxy"][tile_of_seg] + e))))
    assert on_win.any()
    assert np.array_equal(fseg, np.nonzero(~on_win)[0])


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
    joined = _variant(engine, broadcast_tiles=True, broadcast_wkb_budget=0)
    assert filtered == _hits(joined, pts, WHERE)
