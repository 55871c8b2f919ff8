"""Township-scale tiler stress (VERDICT r1 "next" #9): replace
SCALE.md row 3's linear extrapolation with MEASURED numbers.

Synthesizes a deterministic township-like boundary set (n_features
star-shaped polygons with jittered radii on a grid over the China
bbox — the shape mix that actually stresses the clip kernels: every
edge is oblique, nothing is axis-aligned), builds the tile index at
base_res 13, and reports build throughput + tile counts. Then runs the
SAME 2M-probe Q1 through two engines — the default one (whatever plan
its two index ceilings choose for this set) and the all-shuffle join
fallback (both ceilings 0: both tile sides sort-merge joined) — and
hash-compares their hit-sets, the at-scale equality proof for the
shuffled fallback over a multi-million tile index.

Usage: python tools/township_stress.py [n_features] [pts_per_feature] [cpus]
cpus defaults to the host's CPU count and the driver gets a third of
the host's memory (2-8 GB), as perfbench sizes its session.
Prints one JSON line; append to BENCH/TOWNSHIP.md via tee.
"""
from __future__ import annotations

import json
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

BASE_RES = 13

X0, X1, Y0, Y1 = 73.0, 135.0, 18.0, 54.0


def _driver_mem_g() -> int:
    """A third of the host's memory, 2-8 GB (perfbench's session)."""
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return max(2, min(8, int(mem_kb / 2**20 // 3)))


def session(app: str, cpus: int):
    """local[cpus] with AQE on, shuffle partitions = cpus and a third
    of the host's memory for the driver."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", f"{_driver_mem_g()}g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def township_tiles(spark, n_features: int, pts: int):
    """(boundaries, tiles, build seconds): the synthetic townships and
    their tiles at BASE_RES, both checkpointed."""
    from areacity_query_geometry_spark import tiler

    boundaries = township_boundaries(spark, n_features, pts)
    boundaries = boundaries.localCheckpoint(eager=True)
    t0 = time.time()
    tiles = tiler.build_tiles(boundaries, base_res=BASE_RES)
    tiles = tiles.localCheckpoint(eager=True)
    return boundaries, tiles, time.time() - t0


def hit_agg(df):
    """One row (n, h): a hit set's rows and Σ xxhash64(point_id,
    region_id)."""
    from pyspark.sql import functions as F

    return df.select(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(CAST(xxhash64(point_id, region_id) AS DECIMAL(38,0)))")
         .alias("h"))


def hit_hash(df):
    row = hit_agg(df).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def township_boundaries(spark, n_features: int, pts: int):
    """Deterministic synthetic townships: feature i sits in a grid cell
    over the China bbox and is a star polygon of `pts` vertices whose
    radii jitter with a per-feature seeded RNG (reproducible across
    runs and partitionings)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from areacity_query_geometry_spark.geom import wkb as wkb_codec
    from areacity_query_geometry_spark.sources.geojson_source import (
        BOUNDARY_SCHEMA,
    )

    import math

    gx = int(math.ceil(math.sqrt(n_features * (X1 - X0) / (Y1 - Y0))))
    gy = int(math.ceil(n_features / gx))
    cw = (X1 - X0) / gx
    ch = (Y1 - Y0) / gy

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ang = np.linspace(0.0, 2.0 * np.pi, pts, endpoint=False)
        ca, sa = np.cos(ang), np.sin(ang)
        for pdf in it:
            rows = []
            for fid in pdf["id"]:
                fid = int(fid)
                cx = X0 + (fid % gx + 0.5) * cw
                cy = Y0 + (fid // gx + 0.5) * ch
                rng = np.random.default_rng(fid + 1)
                r = (0.25 + 0.2 * rng.random(pts)) * min(cw, ch)
                ring = np.empty((pts + 1, 2))
                ring[:pts, 0] = cx + r * ca
                ring[:pts, 1] = cy + r * sa
                ring[pts] = ring[0]
                gwkb = wkb_codec.dumps({"type": "Polygon", "rings": [ring]})
                code = f"T{fid}"
                rows.append((fid + 1, code, "0", 3, code, code, "",
                             f'{{"id":"{code}"}}', gwkb))
            yield pd.DataFrame(
                rows, columns=[f.name for f in BOUNDARY_SCHEMA.fields])

    return spark.range(n_features).mapInPandas(gen, BOUNDARY_SCHEMA)


def main():
    from pyspark.sql import functions as F

    from areacity_query_geometry_spark.engine import SpatialEngine

    n_features = int(sys.argv[1]) if len(sys.argv) > 1 else 40_000
    pts_per_feature = int(sys.argv[2]) if len(sys.argv) > 2 else 250
    cpus = (int(sys.argv[3]) if len(sys.argv) > 3
            else len(os.sched_getaffinity(0)))
    spark = session("township-stress", cpus)
    boundaries, tiles, build_s = township_tiles(spark, n_features,
                                                pts_per_feature)
    n_pts_total = n_features * pts_per_feature
    n_tiles = tiles.count()
    by_kind = {int(r["kind"]): int(r["count"])
               for r in tiles.groupBy("kind").count().collect()}

    # same probes, both physical legs, hash-compared
    n_probes = 2_000_000
    probes = spark.range(n_probes).select(
        F.col("id").alias("point_id"),
        (X0 + (F.col("id") * 37 % 62000) / 1000.0).alias("lng"),
        (Y0 + (F.col("id") * 101 % 36000) / 1000.0).alias("lat"))

    legs = {}
    default = SpatialEngine(spark, boundaries, tiles, BASE_RES)
    engines = [("default", default),
               ("all_shuffle", SpatialEngine(
                   spark, boundaries, tiles, BASE_RES,
                   broadcast_wkb_budget=0, interior_broadcast_rows=0))]
    for name, eng in engines:
        out = eng.query_points(probes, with_props=False)
        # warm Python workers on a sample (never .limit() — it
        # collapses partitions) before the timed full runs
        eng.query_points(probes.sample(0.02, seed=1),
                         with_props=False).count()
        # best-of-2: the FIRST heavy job in a fresh JVM additionally
        # pays lazy heap growth (-Xmx without -Xms, see CLAUDE.md), so a
        # single timing biases whichever leg runs first
        runs = []
        for _ in range(2):
            t1 = time.time()
            n, h = hit_hash(out)
            runs.append(round(time.time() - t1, 2))
        legs[name] = {"sec": min(runs), "runs_sec": runs,
                      "hits": n, "hit_hash": h}

    vals = list(legs.values())
    equal = all(v["hits"] == vals[0]["hits"]
                and v["hit_hash"] == vals[0]["hit_hash"] for v in vals)
    print(json.dumps({
        "metric": "township_tiler_stress",
        "n_features": n_features,
        "pts_per_feature": pts_per_feature,
        "boundary_points": n_pts_total,
        "base_res": BASE_RES,
        "cpus": cpus,
        "build_sec": round(build_s, 2),
        "boundary_pts_per_sec": round(n_pts_total / build_s, 1),
        "n_tiles": n_tiles,
        "tiles_by_kind": by_kind,
        "boundary_wkb_bytes": default._boundary_wkb_bytes(),
        "default_fits": {"interior": default._interior_fits(),
                         "boundary": default._boundary_fits()},
        "probe_n": n_probes,
        "legs": legs,
        "legs_hitset_equal": equal,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
