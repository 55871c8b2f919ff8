"""Persisted tile/boundary store — the Spark-native replacement for the
reference's `.wkbs` structured cache file
(/root/reference/AreaCityQuery.java:509-511): build once from GeoJSON,
reuse on every start; a cached store is only valid if its metadata
matches the requested build parameters, exactly like the wkbs
`@Version`/`@GridFactor` header check (`AvailableWkbsFile`,
AreaCityQuery.java:1100-1120).

Layout:
    <path>/boundaries/   parquet
    <path>/tiles/        parquet, partitioned-ready (sorted by cell_id)
    <path>/_meta.json    {grid_version, base_res, max_res, seg_budget,
                          n_features, n_tiles}

The physical table format is pluggable (store_format.StoreFormat): the
default is parquet + JSON sidecar; an Iceberg catalog swaps in via ONE
constructor argument (`fmt=IcebergStoreFormat(spark, "lake")`) with no
engine changes — this container ships no Iceberg runtime jar, so the
default stays parquet with the same snapshot-style validation (the
limitation and the swap point are documented in README/SCALE.md).

An engine loaded from a Parquet store reads the tile rows of its two
broadcast indexes with `ParquetStoreFormat.read_tiles_arrow` (a pyarrow
read, no Spark job). On the one-pass plans nothing else reads the tile
table, so `load` caches it only for an engine past either index
ceiling at load, whose join fallbacks read it on every query.
"""
from __future__ import annotations

from functools import partial

from pyspark.sql import SparkSession

from .. import GRID_VERSION, tiler
from ..engine import SpatialEngine
from . import geojson_source
from .store_format import IcebergStoreFormat, ParquetStoreFormat, StoreFormat

__all__ = [
    "save", "available", "load", "save_bucketed", "load_bucketed",
    "load_or_build", "StoreFormat", "ParquetStoreFormat",
    "IcebergStoreFormat",
]

_DEFAULT_FMT = ParquetStoreFormat()


def save(engine: SpatialEngine, path: str, params: dict,
         fmt: StoreFormat | None = None) -> None:
    fmt = fmt or _DEFAULT_FMT
    fmt.write_boundaries(engine.boundaries, path)
    fmt.write_tiles(engine.tiles, path)
    meta = {
        "grid_version": GRID_VERSION,
        "n_features": engine.boundaries.count(),
        "n_tiles": engine.tiles.count(),
        # the statistics behind the two index ceilings (seed the loaded
        # engine's plan choice without re-scanning the tile table)
        "boundary_wkb_bytes": engine._boundary_wkb_bytes(),
        "tiles_by_kind": engine._tile_counts_by_kind(),
        **params,
    }
    fmt.write_meta(engine.spark, path, meta)


def available(path: str, base_res: int, max_res: int, seg_budget: int,
              fmt: StoreFormat | None = None,
              spark: SparkSession | None = None) -> bool:
    """The AvailableWkbsFile analog: metadata must match exactly."""
    meta = (fmt or _DEFAULT_FMT).read_meta(spark, path)
    if meta is None:
        return False
    return (
        meta.get("grid_version") == GRID_VERSION
        and meta.get("base_res") == base_res
        and meta.get("max_res") == max_res
        and meta.get("seg_budget") == seg_budget
    )


def load(spark: SparkSession, path: str,
         fmt: StoreFormat | None = None) -> SpatialEngine:
    fmt = fmt or _DEFAULT_FMT
    meta = fmt.read_meta(spark, path)
    if meta is None:
        raise FileNotFoundError(f"no valid store metadata at {path}")
    boundaries = fmt.read_boundaries(spark, path).cache()
    eng = SpatialEngine(spark, boundaries, fmt.read_tiles(spark, path),
                        base_res=meta["base_res"])
    # a format without a direct reader leaves the engine to collect
    # the index rows from its tile DataFrame through Spark
    reader = getattr(fmt, "read_tiles_arrow", None)
    if reader is not None:
        eng._read_store_tiles = partial(reader, path)
    # seed the plan-choice statistics from the store metadata so
    # loading costs no extra jobs (older stores lack the keys → the
    # ceiling check below computes them from the parquet)
    if "boundary_wkb_bytes" in meta:
        eng._wkb_bytes = int(meta["boundary_wkb_bytes"])
    if "tiles_by_kind" in meta:
        eng._kind_counts = {int(k): int(v)
                            for k, v in meta["tiles_by_kind"].items()}
    if not (eng._interior_fits() and eng._boundary_fits()):
        eng.tiles = eng.tiles.cache()
    # DataFromWkbsFile analog (QueryInitInfo, AreaCityQuery.java:1562-1565)
    eng._init_meta = {"data_from_store": True, "store_path": path,
                      "polygon_count": meta.get("n_tiles"), **meta}
    return eng


def save_bucketed(engine: SpatialEngine, table: str, n_buckets: int = 64) -> None:
    """Persist the tile set as a BUCKETED table on `cell_id` (Hive-style
    bucketing in the session warehouse). At scale this is the
    shuffle-free co-located join path: a sort-merge join of probes
    against a cell_id-bucketed tile table reads the tile side without
    any Exchange — only the skinny probe rows shuffle (SURVEY.md §4
    "co-locate joins via bucketing"). The bucketed scan serves the join
    fallback only: while both broadcast tile indexes fit their budgets
    the engine answers from them in one pass and never reads the table
    through a join. This is the 100TB tile-table variant (e.g.
    township-level boundaries at fine resolution)."""
    (engine.tiles.write.mode("overwrite")
        .bucketBy(n_buckets, "cell_id")
        .sortBy("cell_id")
        .format("parquet")
        .saveAsTable(table))


def load_bucketed(spark: SparkSession, table: str, base_res: int,
                  boundaries=None) -> SpatialEngine:
    """Engine over the bucketed tile table. The bucketed scan serves
    the join fallback, which runs only when a broadcast tile index is
    over its budget (`broadcast_wkb_budget`, `interior_broadcast_rows`);
    otherwise the one-pass index plans answer without the scan."""
    tiles = spark.table(table)
    return SpatialEngine(spark, boundaries, tiles, base_res=base_res)


def load_or_build(
    spark: SparkSession,
    geojson_path: str,
    store_path: str,
    base_res: int = 10,
    max_res: int | None = None,
    seg_budget: int = 48,
) -> SpatialEngine:
    """Init_* analog with autoUseExistsWkbsFile=True
    (AreaCityQuery.java:663-669): reuse the persisted store when its
    parameters match, else rebuild and persist. Like the reference's
    `dataFilePath` (`*.wkbs` | `*.json`, AreaCityQuery.java:509-511),
    the data file may be line-delimited GeoJSON, an existing reference
    `.wkbs` cache (sources/wkbs_source.py), or a GeoParquet boundary
    dataset directory (sources/geoparquet.py on-boarding)."""
    from .. import grid

    if max_res is None:
        max_res = min(grid.MAX_RES, base_res + 4)
    if available(store_path, base_res, max_res, seg_budget):
        return load(spark, store_path)
    from . import geoparquet as geoparquet_source

    if geojson_path.endswith(".wkbs"):
        from . import wkbs_source

        boundaries = wkbs_source.read_boundaries(spark, geojson_path).cache()
    elif geoparquet_source.is_geoparquet_dataset(geojson_path):
        boundaries = geoparquet_source.read_boundaries(
            spark, geojson_path).cache()
    else:
        boundaries = geojson_source.read_boundaries(spark, geojson_path).cache()
    tiles = tiler.build_tiles(boundaries, base_res, max_res, seg_budget).cache()
    tiles.count()
    engine = SpatialEngine(spark, boundaries, tiles, base_res)
    save(engine, store_path,
         {"base_res": base_res, "max_res": max_res, "seg_budget": seg_budget})
    boundaries.unpersist()
    tiles.unpersist()
    return load(spark, store_path)
