"""Index builds from the tile store (`ParquetStoreFormat.read_tiles_arrow`).

An engine from `tile_store.load` reads the tile rows of both broadcast
indexes from the store's Parquet with pyarrow: no Spark job, and the
same indexes, array for array, as an engine over the same DataFrames,
which collects them through Spark. The pyarrow read returns the rows
a Spark read of the same store does, and a cold `load_or_build`
leaves no persisted RDD behind. `load` runs no Spark job, and caches
the tile table only for an engine past an index ceiling. Runs on a generated `fixtures_dense` set (no external files).
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from areacity_query_geometry_spark.engine import SpatialEngine
from areacity_query_geometry_spark.sources import tile_store
from areacity_query_geometry_spark.sources.store_format import (
    ParquetStoreFormat,
)

from conftest import DENSE_BASE_RES

BOUNDARY_COLS = ["cell_id", "region_id", "kind", "minx", "miny", "maxx",
                 "maxy", "deep", "tile_wkb"]
INTERIOR_COLS = ["cell_id", "region_id"]


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.fixture(scope="module")
def cold(spark, dense_geojson, tmp_path_factory):
    """A cold `load_or_build` of the dense set into an empty directory:
    (engine, store, ids of the persisted RDDs before, and after)."""
    store = str(tmp_path_factory.mktemp("cold") / "store")
    before = _persistent_rdds(spark)
    eng = tile_store.load_or_build(spark, dense_geojson, store,
                                   base_res=DENSE_BASE_RES)
    return eng, store, before, _persistent_rdds(spark)


@pytest.fixture(scope="module")
def null_deep_store(spark, cold, tmp_path_factory):
    """The cold store's tiles with one boundary-tiled region's `deep`
    set to null, saved as a store of their own."""
    eng = cold[0]
    rid = (eng.tiles.filter("kind != 1").agg(F.min("region_id"))
           .first()[0])
    tiles = eng.tiles.withColumn(
        "deep", F.when(F.col("region_id") == rid, F.lit(None))
        .otherwise(F.col("deep")).cast("int"))
    store = str(tmp_path_factory.mktemp("null_deep") / "store")
    tile_store.save(SpatialEngine(spark, eng.boundaries, tiles,
                                  base_res=DENSE_BASE_RES),
                    store, {k: eng._init_meta[k]
                            for k in ("base_res", "max_res", "seg_budget")})
    return store


def _jobs(spark, group, fn):
    """fn()'s result and the Spark jobs it ran."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    bus.waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _sorted(tbl: pa.Table) -> pa.Table:
    key = [c for c in ("cell_id", "region_id", "minx", "miny")
           if c in tbl.column_names]
    return tbl.sort_by([(c, "ascending") for c in key])


def test_cold_load_or_build_leaves_no_persisted_rdd(cold):
    """No RDD the build persisted is still persisted afterwards. RDDs
    of other modules' tables may meanwhile be unpersisted by Spark's
    asynchronous ContextCleaner, so only new ids count."""
    _, _, before, after = cold
    assert not after - before


def test_load_runs_no_spark_job(spark, cold):
    """`load` reads both tables with the schema in their Parquet
    footers: no schema-inference job, and the schemas Spark would
    infer."""
    store = cold[1]
    eng, n = _jobs(spark, "store-load", lambda: tile_store.load(spark, store))
    assert n == 0
    for df, table in ((eng.boundaries, "boundaries"), (eng.tiles, "tiles")):
        assert df.schema == spark.read.parquet(
            os.path.join(store, table)).schema, table


def test_load_caches_tiles_only_past_a_ceiling(spark, cold, tmp_path):
    store = cold[1]
    fits = tile_store.load(spark, store)
    assert not fits.tiles.is_cached

    past = str(tmp_path / "past")
    shutil.copytree(store, past)
    meta_path = os.path.join(past, "_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    meta["boundary_wkb_bytes"] = fits.broadcast_wkb_budget + 1
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    eng = tile_store.load(spark, past)
    try:
        assert eng._one_pass_indexes() is None
        assert eng.tiles.is_cached
    finally:
        eng.tiles.unpersist()


def test_store_engine_builds_indexes_with_no_spark_job(spark,
                                                       null_deep_store):
    loaded = tile_store.load(spark, null_deep_store)
    (iidx, bidx), n = _jobs(spark, "store-index-build",
                            loaded._one_pass_indexes)
    assert n == 0

    frames = SpatialEngine(spark, loaded.boundaries, loaded.tiles,
                           base_res=DENSE_BASE_RES)
    frames._kind_counts = loaded._kind_counts
    frames._wkb_bytes = loaded._wkb_bytes
    want_i, n_i = _jobs(spark, "frame-interior-build", frames._interior_index)
    (want_b, _), n_b = _jobs(spark, "frame-boundary-build",
                             frames._boundary_index)
    assert (n_i, n_b) == (1, 1)

    got_b = bidx.value
    assert (got_b["deep"] == np.iinfo(np.int64).min).any()
    # the build's sort key is total, so row order cannot matter
    key = np.rec.fromarrays([np.repeat(got_b["cells"],
                                       np.diff(got_b["cell_ptr"])),
                             got_b["region"], got_b["minx"], got_b["miny"]])
    assert len(np.unique(key)) == len(key)
    for got, want in ((iidx.value, want_i.value), (got_b, want_b.value)):
        assert got.keys() == want.keys()
        for k in want:
            assert got[k].dtype == want[k].dtype, k
            assert got[k].shape == want[k].shape, k
            assert got[k].tobytes() == want[k].tobytes(), k


@pytest.mark.parametrize("interior", [True, False])
def test_parquet_reader_equals_spark_read(spark, cold, interior):
    store = cold[1]
    cols = INTERIOR_COLS if interior else BOUNDARY_COLS
    fmt = ParquetStoreFormat()
    kind = F.col("kind")
    spark_tbl = (fmt.read_tiles(spark, store)
                 .filter(kind == 1 if interior else kind != 1)
                 .select(*cols).toArrow())
    arrow_tbl, n = _jobs(spark, f"arrow-read-{interior}",
                         lambda: fmt.read_tiles_arrow(store, cols, interior))
    assert n == 0
    assert arrow_tbl.num_rows > 0
    assert arrow_tbl.column_names == cols
    assert _sorted(arrow_tbl).equals(_sorted(spark_tbl))
