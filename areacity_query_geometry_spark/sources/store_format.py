"""Pluggable physical format for the persisted tile/boundary store.

The engine's store semantics (build once, validate by metadata, reload
fast — the `.wkbs` cache analog, /root/reference/AreaCityQuery.java:509-511,
1100-1120) are format-agnostic; this module is the ONE seam where the
bytes hit a table format:

- `ParquetStoreFormat` (default): plain parquet directories + a JSON
  sidecar for metadata. What this container can actually run.
- `IcebergStoreFormat`: the production path named by the deployment
  target — `df.writeTo(ident).using("iceberg").createOrReplace()` with
  table properties instead of the JSON sidecar, giving snapshot
  isolation, hidden partitioning on cell_id buckets, and compaction.
  The container ships NO Iceberg runtime jar, so instantiation is
  guarded: it raises a clear error unless a Spark catalog is
  configured. Swapping formats is exactly one constructor argument in
  `tile_store.save/load` — no engine code changes.

`ParquetStoreFormat` reads both tables with the schema Spark wrote into
each table's first part file (`_spark_schema`), so `tile_store.load`
runs no Spark job: without it, each `spark.read.parquet` runs one
schema-inference job.

`ParquetStoreFormat.read_tiles_arrow` hands the engine's two broadcast
index builds their tile rows as one Arrow table, read from its own
files with pyarrow, so an engine loaded from a Parquet store builds both
indexes with no Spark job on the tile table, and `tile_store.load`
caches that table only when an index is past its ceiling. A format
without the method (Iceberg) leaves the engine to collect the rows
from its tile DataFrame through Spark.
"""
from __future__ import annotations

import json
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# the footer key under which Spark's Parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _spark_schema(table_dir: str) -> StructType | None:
    """The Spark schema that Spark's Parquet writer stored in the footer
    of `table_dir`'s first part file, read with pyarrow on the driver
    (no Spark job); None when the directory has no part file of its own
    (a partitioned layout) or the footer lacks the key, and the caller
    leaves the schema to Spark's inference."""
    # imported here for the reason given in `read_tiles_arrow`
    import pyarrow.parquet as pq

    try:
        names = sorted(n for n in os.listdir(table_dir)
                       if n.endswith(".parquet")
                       and not n.startswith(("_", ".")))
    except OSError:
        return None
    if not names:
        return None
    meta = pq.read_metadata(os.path.join(table_dir, names[0])).metadata or {}
    raw = meta.get(_SPARK_SCHEMA_KEY)
    return None if raw is None else StructType.fromJson(json.loads(raw))


def _read_parquet(spark: SparkSession, table_dir: str) -> DataFrame:
    """`spark.read.parquet(table_dir)`, given the footer schema
    (`_spark_schema`) when there is one, so no inference job runs."""
    schema = _spark_schema(table_dir)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(table_dir)


class StoreFormat:
    """Interface: how boundary/tile DataFrames and store metadata are
    persisted. Implementations must make `read_*` return DataFrames
    with the exact schemas `write_*` received."""

    def write_boundaries(self, df: DataFrame, store: str) -> None:
        raise NotImplementedError

    def write_tiles(self, df: DataFrame, store: str) -> None:
        raise NotImplementedError

    def write_meta(self, spark: SparkSession, store: str, meta: dict) -> None:
        raise NotImplementedError

    def read_boundaries(self, spark: SparkSession, store: str) -> DataFrame:
        raise NotImplementedError

    def read_tiles(self, spark: SparkSession, store: str) -> DataFrame:
        raise NotImplementedError

    def read_meta(self, spark: SparkSession, store: str) -> dict | None:
        raise NotImplementedError


class ParquetStoreFormat(StoreFormat):
    """Default: parquet directories under `store`, cell_id-sorted tiles
    (rowgroup pruning on the join key), JSON metadata sidecar."""

    def write_boundaries(self, df: DataFrame, store: str) -> None:
        df.write.mode("overwrite").parquet(os.path.join(store, "boundaries"))

    def write_tiles(self, df: DataFrame, store: str) -> None:
        (df.repartition("cell_id")
           .sortWithinPartitions("cell_id")
           .write.mode("overwrite")
           .parquet(os.path.join(store, "tiles")))

    def write_meta(self, spark: SparkSession, store: str, meta: dict) -> None:
        with open(os.path.join(store, "_meta.json"), "w") as f:
            json.dump(meta, f)

    def read_boundaries(self, spark: SparkSession, store: str) -> DataFrame:
        return _read_parquet(spark, os.path.join(store, "boundaries"))

    def read_tiles(self, spark: SparkSession, store: str) -> DataFrame:
        return _read_parquet(spark, os.path.join(store, "tiles"))

    def read_meta(self, spark: SparkSession, store: str) -> dict | None:
        p = os.path.join(store, "_meta.json")
        if not os.path.exists(p):
            return None
        try:
            with open(p) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None

    def read_tiles_arrow(self, store: str, columns,
                         interior: bool) -> pa.Table:
        """The kind = 1 (`interior`) or kind ≠ 1 tile rows, `columns`
        only, as one Arrow table in no particular order: a pyarrow read
        of the tiles directory, no Spark job. Local paths only, like
        `read_meta`."""
        # imported here, not at module level: pyarrow.dataset would add
        # ~5 MB to every Python worker that imports this module
        import pyarrow.dataset as pds

        kind = pds.field("kind")
        return pds.dataset(os.path.join(store, "tiles"),
                           format="parquet").to_table(
            columns=list(columns),
            filter=kind == 1 if interior else kind != 1)


class IcebergStoreFormat(StoreFormat):
    """Iceberg tables `<store>.boundaries` / `<store>.tiles` where
    `store` is a catalog-qualified namespace (e.g. `lake.aqgs_cn`).
    Metadata rides in table properties of the tiles table, so the
    `available()` validation reads one catalog call instead of a file.

    Requires an Iceberg-enabled Spark session (catalog configured,
    runtime jar on the classpath); raises RuntimeError otherwise so
    misconfiguration fails loudly at construction, not mid-write."""

    def __init__(self, spark: SparkSession, catalog: str):
        self.catalog = catalog
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        if not impl:
            raise RuntimeError(
                f"no Spark catalog '{catalog}' configured "
                f"(set spark.sql.catalog.{catalog}=org.apache.iceberg."
                "spark.SparkCatalog and ship the iceberg-spark-runtime "
                "jar); this container has no Iceberg runtime — use "
                "ParquetStoreFormat here"
            )

    def _ident(self, store: str, table: str) -> str:
        return f"{self.catalog}.{store}.{table}"

    def write_boundaries(self, df: DataFrame, store: str) -> None:
        df.writeTo(self._ident(store, "boundaries")).using("iceberg") \
          .createOrReplace()

    def write_tiles(self, df: DataFrame, store: str) -> None:
        # hidden bucket partitioning on the join key: co-located scans
        # for the sort-merge leg without a user-visible bucket column
        from pyspark.sql import functions as F

        (df.sortWithinPartitions("cell_id")
           .writeTo(self._ident(store, "tiles")).using("iceberg")
           .partitionedBy(F.bucket(64, F.col("cell_id")))
           .createOrReplace())

    def write_meta(self, spark: SparkSession, store: str, meta: dict) -> None:
        # json.dumps each value (symmetric with read_meta's json.loads)
        # and escape single quotes so a quoted value can't break out of
        # the SQL string literal
        props = ", ".join(
            "'aqgs.{}' = '{}'".format(k, json.dumps(v).replace("'", "''"))
            for k, v in sorted(meta.items()))
        spark.sql(f"ALTER TABLE {self._ident(store, 'tiles')} "
                  f"SET TBLPROPERTIES ({props})")

    def read_boundaries(self, spark: SparkSession, store: str) -> DataFrame:
        return spark.table(self._ident(store, "boundaries"))

    def read_tiles(self, spark: SparkSession, store: str) -> DataFrame:
        return spark.table(self._ident(store, "tiles"))

    def read_meta(self, spark: SparkSession, store: str) -> dict | None:
        try:
            rows = spark.sql(
                f"SHOW TBLPROPERTIES {self._ident(store, 'tiles')}").collect()
        except Exception:
            return None
        meta: dict = {}
        for r in rows:
            if r["key"].startswith("aqgs."):
                v = r["value"]
                try:
                    v = json.loads(v)
                except (ValueError, TypeError):
                    pass
                meta[r["key"][5:]] = v
        return meta or None
