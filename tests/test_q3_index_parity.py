"""The broadcast-index Q3 path (engine._geometry_index_refine) must be
hit-set identical to the cover-join path on every probe shape: the
index kernel reuses the join refine's predicate kernels over the
pre-decoded CSR segments (filtered for crossing/touch, raw closed
rings for parity/containment), so any divergence is a real kernel
bug, not candidate-generation noise. Runs on a generated
`fixtures_dense` boundary set (no external files).

Reference semantics under test: QueryGeometry
(/root/reference/AreaCityQuery.java:179-309)."""
import pytest
from pyspark.sql import functions as F


def _checksums(eng, probes):
    out = eng.query_geometry(probes, with_props=False)
    r = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(CAST(xxhash64(probe_id, region_id) "
               "AS DECIMAL(38,0)))").alias("h"),
    ).collect()[0]
    return (int(r["n"]), int(r["h"] or 0))


def _join_path(eng, probes):
    saved = eng.broadcast_wkb_budget
    try:
        eng.broadcast_wkb_budget = 0
        return _checksums(eng, probes)
    finally:
        eng.broadcast_wkb_budget = saved


PROBES = {
    "rect": "POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, "
            "{x0} {y0}))",
    "point": "POINT ({x0} {y0})",
    "line": "LINESTRING ({x0} {y0}, {x1} {y1}, {x0} {y1})",
    "rotated_poly": "POLYGON (({xm} {y0}, {x1} {ym}, {xm} {y1}, "
                    "{x0} {ym}, {xm} {y0}))",
    "multipoint": "MULTIPOINT (({x0} {y0}), ({xm} {ym}), ({x1} {y1}))",
    "multiline": "MULTILINESTRING (({x0} {y0}, {x1} {y1}), "
                 "({x0} {y1}, {x1} {y0}))",
    "collection": "GEOMETRYCOLLECTION (POINT ({xm} {ym}), "
                  "LINESTRING ({x0} {ym}, {x1} {ym}), "
                  "POLYGON (({x0} {y0}, {xm} {y0}, {xm} {ym}, {x0} {ym}, "
                  "{x0} {y0})))",
}


@pytest.mark.parametrize("shape", sorted(PROBES))
def test_index_path_matches_join_path(spark, dense_engine, shape):
    eng = dense_engine
    assert eng._boundary_index() is not None \
        and eng._interior_index() is not None, \
        "fixture must exercise the index path"
    # a lattice of probe windows sweeping the fixture extent, sized
    # from tiny (sub-tile) to huge (region ⊂ probe), so every kernel
    # branch — rect overlap, seg crossing, probe⊂region, region⊂probe
    # — fires at least once
    rows = []
    pid = 0
    for i in range(6):
        for j in range(6):
            for size in (0.1, 1.6, 12.0):
                x0 = 74.0 + i * 10.2
                y0 = 19.0 + j * 6.0
                f = dict(x0=x0, y0=y0, x1=x0 + size, y1=y0 + size,
                         xm=x0 + size / 2, ym=y0 + size / 2)
                rows.append((pid, PROBES[shape].format(**f)))
                pid += 1
    probes = spark.createDataFrame(rows, "probe_id long, wkt string")
    with_index = _checksums(eng, probes)
    assert with_index[0] > 0, "probe sweep must produce hits"
    assert with_index == _join_path(eng, probes)


def test_where_filter_rides_index_path(spark, dense_engine):
    # `where` rides the index path as an in-kernel keep-region array
    # (since late r4) — only matching regions return, and the hit set
    # equals the cover-join path's LEFT SEMI pruning.
    eng = dense_engine
    probes = spark.createDataFrame(
        [(0, "POLYGON ((110 20, 116 20, 116 26, 110 26, 110 20))"),
         (1, "LINESTRING (108 22, 118 36)")],
        "probe_id long, wkt string")
    wh = "deep = 1"
    out = eng.query_geometry(probes, where=wh)
    deeps = {int(r["deep"]) for r in out.select("deep").distinct().collect()}
    assert deeps == {1}

    def sums():
        o = eng.query_geometry(probes, where=wh, with_props=False)
        return sorted((r.probe_id, r.region_id) for r in o.collect())

    with_index = sums()
    assert with_index
    saved = eng.broadcast_wkb_budget
    try:
        eng.broadcast_wkb_budget = 0
        assert sums() == with_index
    finally:
        eng.broadcast_wkb_budget = saved


def test_cell_aligned_edge_probes_parity(spark, dense_engine):
    # adversarial alignment: probes sitting EXACTLY on res-9 cell
    # borders (w = 360/2^9 = 0.703125, dyadic — exact in fp), where
    # cover/candidate generation is most at risk of diverging between
    # the index lookup and the equi-join: degenerate point-rects on
    # cell corners, zero-height rects along cell edges, segments
    # running down a shared border, and rects exactly one cell wide.
    eng = dense_engine
    w = 0.703125
    rows = []
    pid = 0
    for i in range(24):
        x = 73.828125 + i * w        # exact multiples of the cell width
        for j in range(10):
            y = 18.28125 + j * 2 * w
            for wkt in (
                f"POINT ({x} {y})",
                f"POLYGON (({x} {y}, {x + w} {y}, {x + w} {y}, "
                f"{x} {y}, {x} {y}))",
                f"LINESTRING ({x} {y}, {x} {y + w})",
                f"POLYGON (({x} {y}, {x + w} {y}, {x + w} {y + w}, "
                f"{x} {y + w}, {x} {y}))",
                f"MULTIPOINT (({x} {y}), ({x + w} {y + w}))",
            ):
                rows.append((pid, wkt))
                pid += 1
    probes = spark.createDataFrame(rows, "probe_id long, wkt string")
    with_index = _checksums(eng, probes)
    assert with_index[0] > 0
    assert with_index == _join_path(eng, probes)


def test_interior_budget_fallback(spark, dense_engine):
    # past the interior-index row ceiling Q3 must keep the cover-join
    # plan (the index path needs BOTH CSRs) — and return the same hits
    eng = dense_engine
    probes = spark.createDataFrame(
        [(0, "POLYGON ((100 25, 106 25, 106 31, 100 31, 100 25))")],
        "probe_id long, wkt string")
    with_index = _checksums(eng, probes)
    saved = eng.interior_broadcast_rows
    try:
        eng.interior_broadcast_rows = 0
        plan = eng.query_geometry(probes, with_props=False) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, \
            "fallback must run the cover-join plan"
        assert _checksums(eng, probes) == with_index
    finally:
        eng.interior_broadcast_rows = saved


def test_empty_and_miss_probes(spark, dense_engine):
    eng = dense_engine
    probes = spark.createDataFrame(
        [(0, "POLYGON EMPTY"), (1, "POINT (0 0)"),
         (2, "LINESTRING (1 1, 2 2)")],
        "probe_id long, wkt string")
    assert eng.query_geometry(probes, with_props=False).count() == 0
    assert _join_path(eng, probes) == (0, 0)
    # a batch of empty geometries decomposes to no cover rows at all
    assert _join_path(eng, probes.filter("probe_id = 0")) == (0, 0)
