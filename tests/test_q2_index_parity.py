"""The broadcast-index Q2 path (the one-pass plan: engine._tolerance_pairs
inside engine._make_nearest_udf) must be
row-for-row, bit-for-bit interchangeable with the cover-join path: the
index kernel replicates predicates.nearest_on_segments' arithmetic flat
over (pair, segment) rows and applies the same radius/24-gon gates, so
any divergence is a real kernel bug, not tolerance noise. Runs on a
generated `fixtures_dense` boundary set (no external files).

Reference semantics under test: QueryPointWithTolerance
(/root/reference/AreaCityQuery.java:102-163)."""
import pytest
from pyspark.sql import functions as F


def _probes(spark, n):
    # a lattice over the fixture extent (lng 73-135, lat 18-54) plus a
    # 1-degree frame outside it, where Q1 misses and tolerance matches
    return spark.range(n).selectExpr(
        "id AS point_id",
        "72.0 + CAST(id * 37 % 64000 AS DOUBLE) / 1000.0 AS lng",
        "17.0 + CAST(id * 101 % 38000 AS DOUBLE) / 1000.0 AS lat")


def _checksums(eng, probes, tol):
    out = eng.query_points_with_tolerance(probes, tol)
    r = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(CAST(xxhash64(point_id, region_id) "
               "AS DECIMAL(38,0)))").alias("h"),
        F.expr("sum(CAST(round(point_distance * 1000) "
               "AS DECIMAL(38,0)))").alias("d"),
        F.expr("sum(CASE WHEN point_distance IS NOT NULL THEN 1 "
               "ELSE 0 END)").alias("nd"),
    ).collect()[0]
    return (int(r["n"]), int(r["h"] or 0), int(r["d"] or 0), int(r["nd"]))


@pytest.mark.parametrize("tol_m", [2500.0, 25000.0, 250000.0])
def test_index_path_matches_join_path(spark, dense_engine, tol_m):
    eng = dense_engine
    probes = _probes(spark, 3000)

    assert eng._boundary_index() is not None, \
        "fixture must exercise the index path"
    with_index = _checksums(eng, probes, tol_m)
    assert with_index[3] > 0, "probe set must contain tolerance matches"

    saved = (eng._bindex, eng._bindex_off)
    try:
        eng._bindex, eng._bindex_off = None, True
        without_index = _checksums(eng, probes, tol_m)
    finally:
        eng._bindex, eng._bindex_off = saved

    assert with_index == without_index


def test_where_filter_rides_index_path(spark, dense_engine):
    # `where` rides the index path as an in-kernel keep-region array
    # (since late r4) — results must match the cover-join path's LEFT
    # SEMI pruning bit-for-bit and contain only matching regions.
    eng = dense_engine
    probes = _probes(spark, 500)
    wh = "deep = 1"
    out = eng.query_points_with_tolerance(probes, 250000.0, where=wh)
    deeps = {r["deep"] for r in out.select("deep").distinct().collect()}
    assert deeps == {1}

    def sums():
        o = eng.query_points_with_tolerance(probes, 250000.0, where=wh)
        r = o.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("sum(CAST(xxhash64(point_id, region_id) "
                   "AS DECIMAL(38,0)))").alias("h"),
            F.expr("sum(CAST(round(point_distance * 1000) "
                   "AS DECIMAL(38,0)))").alias("d"),
        ).collect()[0]
        return (int(r["n"]), int(r["h"] or 0), int(r["d"] or 0))

    with_index = sums()
    assert with_index[0] > 0
    saved = (eng._bindex, eng._bindex_off)
    try:
        eng._bindex, eng._bindex_off = None, True
        assert sums() == with_index
    finally:
        eng._bindex, eng._bindex_off = saved
