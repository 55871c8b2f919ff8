"""Leg-level profile of the dense-fixture Q1 path (round-4 tuning aid).

Times, at steady state in one session:
  A. probe gen + cell_id + interior join only      (JVM codegen leg)
  B. boundary semi-join + repartition (no refine)  (shuffle leg)
  C. boundary full (semi-join + refine)            (Arrow refine leg)
  D. full query_points                             (everything)
plus tile/probe volume stats, so dense-headline tuning targets the
right leg instead of guessing.

Usage: python tools/profile_dense.py [n_probes] [cpus] [base_res]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
# glibc malloc tunables BEFORE the JVM starts (workers inherit): large
# numpy temporaries otherwise mmap/munmap per call and the page-fault
# churn serializes concurrent Arrow kernels (hostload.MALLOC_TUNING)
os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    base_res = int(sys.argv[3]) if len(sys.argv) > 3 else 13

    from pyspark.sql import SparkSession, functions as F

    from areacity_query_geometry_spark import fixtures_dense
    from areacity_query_geometry_spark.engine import PROBE_SALT, SpatialEngine
    from areacity_query_geometry_spark.hostload import driver_memory_conf

    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions", str(cpus))
             .config(map=driver_memory_conf())
             .config("spark.ui.enabled", "false")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    path = fixtures_dense.ensure()
    t0 = time.time()
    eng = SpatialEngine.from_geojson(spark, path, base_res=base_res)
    print(f"build_sec={time.time() - t0:.1f}")
    kinds = eng._tile_counts_by_kind()
    print(f"tiles by kind={kinds} interior_fits={eng._interior_fits()} "
          f"boundary_fits={eng._boundary_fits()}")

    probes = spark.range(n).select(
        F.col("id").alias("point_id"),
        (73.0 + (F.col("id") * 37 % 62000) / 1000.0).alias("lng"),
        (18.0 + (F.col("id") * 101 % 36000) / 1000.0).alias("lat"),
    )
    probe = eng._probe_cells(probes)
    base = eng._tiles_for(None)
    ti = F.broadcast(base.filter(F.col("kind") == 1)
                     .select("cell_id", "region_id"))
    tb = F.broadcast(base.filter(F.col("kind") != 1))
    bcells = F.broadcast(tb.select("cell_id").distinct())

    def bench(label, df):
        df.count()  # warm
        best = 1e9
        for _ in range(2):
            t = time.time()
            c = df.count()
            best = min(best, time.time() - t)
        print(f"{label}: {best:.2f}s  rows={c}")
        return best

    interior = probe.join(ti, "cell_id").select("point_id", "region_id")
    bench("A interior join only", interior)

    bpts = probe.join(bcells, "cell_id", "left_semi")
    bench("B1 boundary semi-join only", bpts)

    n_parts = spark.sparkContext.defaultParallelism
    salt = F.pmod(F.xxhash64(F.col("lng"), F.col("lat")),
                  F.lit(PROBE_SALT)).cast("int")
    bpts_r = bpts.repartition(n_parts, F.col("cell_id"), salt)
    brows = bpts_r.join(tb, "cell_id")
    bench("B2 semi+repart+tile join (no refine)", brows)

    from areacity_query_geometry_spark.engine import _make_point_refine_fn
    from pyspark.sql.types import LongType, StructField, StructType

    boundary = brows.select(
        "point_id", F.col("lng"), F.col("lat"),
        "cell_id", "region_id", "kind", "minx", "miny", "maxx", "maxy",
        "tile_wkb")
    schema = StructType([probes.schema["point_id"],
                         StructField("region_id", LongType())])
    refined = boundary.mapInPandas(
        _make_point_refine_fn(("point_id",)), schema)
    bench("C boundary + refine", refined)

    full = eng.query_points(probes, with_props=False)
    bench("D full query_points", full)

    # volume stats
    fan = brows.groupBy().agg(F.count("*").alias("pairs"),
                              F.countDistinct("point_id").alias("pts")).collect()[0]
    print(f"boundary pairs={fan['pairs']} boundary_pts={fan['pts']} "
          f"fanout={fan['pairs'] / max(1, fan['pts']):.2f}")
    kinds = brows.groupBy("kind").count().collect()
    print("pair kinds:", {r["kind"]: r["count"] for r in kinds})
    spark.stop()


if __name__ == "__main__":
    main()
