"""Tile-store persistence (wkbs-cache analog) and shuffle-join
equivalence tests, on the generated `dense_engine` set (no external
files). The shuffle legs are the join fallbacks: each test that names
one sets the knobs that keep the broadcast indexes off, so the leg
actually runs."""
import re

from pyspark.sql import functions as F

from areacity_query_geometry_spark.engine import SpatialEngine
from areacity_query_geometry_spark.sources import tile_store

from conftest import DENSE_BASE_RES


def _pts(spark, n=500):
    return spark.range(n).select(
        F.col("id").alias("point_id"),
        (73.0 + (F.col("id") * 37 % 62000) / 1000.0).alias("lng"),
        (18.0 + (F.col("id") * 101 % 36000) / 1000.0).alias("lat"),
    )


def _variant(spark, eng, **kw):
    return SpatialEngine(spark, eng.boundaries, eng.tiles,
                         base_res=eng.base_res, **kw)


def _smj_engine(spark, eng):
    """The all-shuffle leg: both index ceilings at 0, so both tile
    sides of the join fallback are sort-merge joined."""
    return _variant(spark, eng, broadcast_wkb_budget=0,
                    interior_broadcast_rows=0)


def _plan(df):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _probe_exchanges(plan):
    """Exchange nodes that carry the probes' coordinates (the refine's
    input), as opposed to tile-side and post-refine dedup exchanges."""
    return len(re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[[^\]]*\blng#", plan))


def _hits(engine, pts):
    rows = engine.query_points(pts, with_props=False).collect()
    return sorted((r.point_id, r.region_id) for r in rows)


class TestTileStore:
    def test_build_save_load_roundtrip(self, tmp_path, spark, dense_engine,
                                       dense_geojson):
        store = str(tmp_path / "store")
        res = DENSE_BASE_RES
        eng2 = tile_store.load_or_build(spark, dense_geojson, store,
                                        base_res=res)
        pts = _pts(spark)
        assert _hits(eng2, pts) == _hits(dense_engine, pts)
        # second load must come from the store (metadata valid)
        assert tile_store.available(store, res, res + 4, 48)
        eng3 = tile_store.load_or_build(spark, dense_geojson, store,
                                        base_res=res)
        assert eng3.tiles.count() == eng2.tiles.count()

    def test_param_mismatch_invalidates(self, tmp_path, spark, dense_geojson):
        store = str(tmp_path / "store2")
        tile_store.load_or_build(spark, dense_geojson, store, base_res=9)
        # different resolution → stale store must NOT be accepted
        assert not tile_store.available(store, 10, 14, 48)

    def test_version_mismatch_invalidates(self, tmp_path, spark,
                                          dense_geojson):
        import json
        import os

        store = str(tmp_path / "store3")
        tile_store.load_or_build(spark, dense_geojson, store, base_res=9)
        meta = json.load(open(os.path.join(store, "_meta.json")))
        meta["grid_version"] = -1
        json.dump(meta, open(os.path.join(store, "_meta.json"), "w"))
        assert not tile_store.available(store, 9, 13, 48)


class TestBucketedStore:
    def test_bucketed_join_reads_tiles_without_exchange(self, spark,
                                                        dense_engine):
        """save_bucketed → the shuffle-join path scans the tile side
        pre-partitioned (bucket pruning visible in the plan: a bucketed
        FileScan, no Exchange above it) and produces identical hits."""
        import contextlib
        import io

        table = "tiles_bucketed_t"
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        tile_store.save_bucketed(dense_engine, table, n_buckets=8)
        try:
            eng2 = tile_store.load_bucketed(
                spark, table, base_res=dense_engine.base_res,
                boundaries=dense_engine.boundaries)
            # pin the JOIN-based boundary path: this test asserts the
            # bucketed FileScan in the tile-join plan, which is the
            # over-index-budget regime (the broadcast boundary index
            # otherwise serves small boundary sets without scanning
            # the tile table at query time at all)
            eng2.broadcast_wkb_budget = 0
            pts = _pts(spark, 800)
            old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                assert _hits(eng2, pts) == _hits(dense_engine, pts)
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    eng2.query_points(pts, with_props=False).explain("formatted")
                plan = buf.getvalue()
                assert "Bucketed: true" in plan
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")


class TestSaltedJoin:
    def test_salted_shuffle_equals_broadcast(self, spark, dense_engine):
        """Interior side past its ceiling, boundary side broadcast: the
        boundary probes repartition by (cell_id, salt) in front of the
        broadcast tile join, and the hits equal the one-pass plan's."""
        salted = _variant(spark, dense_engine, interior_broadcast_rows=0)
        assert salted._one_pass_indexes() is None
        pts = _pts(spark, 800)
        plan = _plan(salted.query_points(pts, with_props=False))
        assert "REPARTITION_BY_NUM" in plan
        assert _hits(salted, pts) == _hits(dense_engine, pts)

    def test_shuffled_boundary_side_moves_probes_once(self, spark,
                                                      dense_engine):
        """Boundary side past its ceiling: the boundary probes reach
        the SortMergeJoin with their tiles through one Exchange (the
        join's own hash partitioning by cell_id), with no semi-join or
        salted REPARTITION_BY_NUM in front of it."""
        eng = _variant(spark, dense_engine, broadcast_wkb_budget=0)
        plan = _plan(eng.query_points(_pts(spark, 800), with_props=False))
        assert re.search(r"SortMergeJoin Inner \(\d+\)", plan)
        assert "REPARTITION_BY_NUM" not in plan
        assert "LeftSemi" not in plan
        assert _probe_exchanges(plan) == 1

    def test_shuffled_boundary_side_lets_aqe_split_hot_cells(
            self, spark, dense_engine):
        """Half the probes in one boundary cell, the skew-join threshold
        lowered so this small set counts as skewed: AQE splits the hot
        partition of the boundary tile SortMergeJoin (its probe child is
        a shuffle stage of its own), and the hits do not change."""
        from areacity_query_geometry_spark import grid

        hot = dense_engine.tiles.filter("kind = 0").select("cell_id") \
            .orderBy("cell_id").first()[0]
        x0, y0, x1, y1 = grid.cell_bounds(hot)
        pid = F.col("point_id")
        in_hot = pid % 2 == 0
        pts = _pts(spark, 100_000).select(
            "point_id",
            F.when(in_hot, x0 + pid % 997 * ((x1 - x0) / 997))
             .otherwise(F.col("lng")).alias("lng"),
            F.when(in_hot, y0 + pid * 7 % 991 * ((y1 - y0) / 991))
             .otherwise(F.col("lat")).alias("lat"))

        def hit_agg(eng):
            return eng.query_points(pts, with_props=False).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("point_id", "region_id")
                      .cast("decimal(38,0)")).alias("h"))

        keys = ("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes")
        saved = [spark.conf.get(k) for k in keys]
        try:
            for k in keys:
                spark.conf.set(k, "64k")
            agg = hit_agg(_variant(spark, dense_engine,
                                   broadcast_wkb_budget=0))
            got = agg.collect()[0]
            plan = agg._jdf.queryExecution().executedPlan().toString()
        finally:
            for k, v in zip(keys, saved):
                spark.conf.set(k, v)
        assert "SortMergeJoin(skew=true)" in plan
        assert got == hit_agg(dense_engine).collect()[0]
        assert got["n"] > 50_000

    def test_plain_shuffle_equals_broadcast(self, spark, dense_engine):
        smj = _smj_engine(spark, dense_engine)
        assert smj._one_pass_indexes() is None
        pts = _pts(spark, 800)
        assert _hits(smj, pts) == _hits(dense_engine, pts)


class TestShuffleGeometryProbe:
    def test_query_geometry_shuffle_equals_broadcast(self, spark, dense_engine):
        """Q3 through the non-broadcast (sort-merge) tile path must give
        the identical hit-set as the broadcast path."""
        smj = _smj_engine(spark, dense_engine)
        assert smj._boundary_index() is None
        probes = spark.createDataFrame(
            [(1, "POLYGON ((113.305514 30.564249, 113.305514 32.881526, "
                 "117.32651 32.881526, 117.32651 30.564249, 113.305514 30.564249))"),
             (2, "LINESTRING (114.3 30.6, 116.4 39.9)"),
             (3, "POLYGON ((104 24.5, 110 31, 116 24.5, 110 18, 104 24.5))"),
             (4, "POINT (114.044346 22.691963)")],
            "probe_id long, wkt string")
        want = sorted((r.probe_id, r.region_id) for r in
                      dense_engine.query_geometry(probes, with_props=False).collect())
        got = sorted((r.probe_id, r.region_id) for r in
                     smj.query_geometry(probes, with_props=False).collect())
        assert got == want


def test_store_format_seam(spark, tmp_path):
    """The StoreFormat abstraction: parquet round-trips through the
    interface; the Iceberg impl refuses construction without a catalog
    (this container has no Iceberg jar — the swap point must fail
    loudly, not mid-write)."""
    import pytest

    from areacity_query_geometry_spark.sources.store_format import (
        IcebergStoreFormat, ParquetStoreFormat)

    fmt = ParquetStoreFormat()
    df = spark.createDataFrame([(1, "a")], "cell_id long, v string")
    store = str(tmp_path / "fmtstore")
    fmt.write_tiles(df, store)
    fmt.write_meta(spark, store, {"base_res": 7})
    assert fmt.read_meta(spark, store) == {"base_res": 7}
    assert fmt.read_tiles(spark, store).collect() == df.collect()
    with pytest.raises(RuntimeError, match="no Spark catalog"):
        IcebergStoreFormat(spark, "lake")
