"""Skew on the shuffled boundary side: a probe cloud with half its
points packed into a few boundary cells (the dense-city shape) runs
through Q1 on the synthetic township set of tools/township_stress.py,
whose boundary WKB (0.4 GB at 40,000 x 250) is past the 128 MB
`broadcast_wkb_budget`. So the default engine takes the join fallback
with the boundary tiles sort-merge joined, and the hot cells' probes
meet them in one reducer partition unless AQE's skew join splits it.

Three legs over the same engine and probes, each a session setting:
  skew_join_off   spark.sql.adaptive.skewJoin.enabled=false
  spark_default   Spark's skew-join thresholds (256 MB, 5x the median)
  low_threshold   skew threshold and advisory size at `low_mb` MB
Each leg reports its best-of-2 warm wall time, the hit count and hash
(equal across legs) and whether the executed plan split a skewed
partition (`SortMergeJoin(skew=true)`).

The session runs 4 shuffle partitions per core: AQE calls a partition
skewed only against the median one (5x), and with one partition per
core the hot cells' partitions are most of them. AQE sizes partitions
in compressed shuffle bytes, which grow far slower than a hot cell's
refine cost; `low_mb` defaults to 1, a size at which AQE splits the
1-cell shape of the default set.

Usage: python tools/skew_bench.py [n_probes] [hot_cells] [n_features]
                                  [pts_per_feature] [cpus] [low_mb]
Prints one JSON line.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")

from township_stress import (  # noqa: E402
    BASE_RES, X0, Y0, hit_agg, session, township_tiles,
)

SKEW = "spark.sql.adaptive.skewJoin.enabled"
THRESHOLD = "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def main():
    from areacity_query_geometry_spark import grid
    from areacity_query_geometry_spark.engine import SpatialEngine

    argv = [int(a) for a in sys.argv[1:]]
    n, n_hot, n_features, pts, cpus, low_mb = argv + [
        4_000_000, 3, 40_000, 250, len(os.sched_getaffinity(0)),
        1][len(argv):]
    spark = session("skew-bench", cpus)
    spark.conf.set("spark.sql.shuffle.partitions", str(4 * cpus))
    boundaries, tiles, _ = township_tiles(spark, n_features, pts)
    eng = SpatialEngine(spark, boundaries, tiles, BASE_RES)

    # n_hot boundary cells (a dense downtown sits on district borders),
    # half of all probes spread over them
    hot = [r.cell_id for r in tiles.filter("kind = 0").select("cell_id")
           .distinct().orderBy("cell_id").limit(n_hot).collect()]
    bounds = [grid.cell_bounds(c) for c in hot]
    hot_sql = " ".join(
        f"WHEN {i} THEN named_struct("
        f"'lng', {b[0]!r} + (id % 1000) * {(b[2] - b[0]) / 1000!r}, "
        f"'lat', {b[1]!r} + ((id * 7) % 1000) * {(b[3] - b[1]) / 1000!r})"
        for i, b in enumerate(bounds))
    probes = spark.range(n).selectExpr(
        "id AS point_id",
        f"""CASE WHEN id % 2 = 0
             THEN (CASE CAST(id % {2 * n_hot} / 2 AS INT) {hot_sql} END)
             ELSE named_struct('lng', {X0} + (id * 37 % 62000) / 1000.0,
                               'lat', {Y0} + (id * 101 % 36000) / 1000.0)
           END AS p""",
    ).select("point_id", "p.lng", "p.lat")
    out = eng.query_points(probes, with_props=False)
    eng.query_points(probes.sample(0.02, seed=1), with_props=False).count()

    legs = {}
    low = f"{low_mb}m"
    for name, conf in (("skew_join_off", {SKEW: "false"}),
                       ("spark_default", {}),
                       ("low_threshold", {THRESHOLD: low, ADVISORY: low})):
        saved = {k: spark.conf.get(k) for k in (SKEW, THRESHOLD, ADVISORY)}
        for k, v in conf.items():
            spark.conf.set(k, v)
        runs = []
        for _ in range(2):
            # a fresh DataFrame per run: AQE plans each one anew
            agg = hit_agg(out)
            t0 = time.time()
            row = agg.collect()[0]
            runs.append(round(time.time() - t0, 2))
        hits, h = int(row["n"]), int(row["h"] or 0)
        split = "skew=true" in agg._jdf.queryExecution().executedPlan() \
            .toString()
        legs[name] = {"sec": min(runs), "runs_sec": runs, "hits": hits,
                      "hit_hash": h, "skew_split": split}
        for k, v in saved.items():
            spark.conf.set(k, v)

    vals = list(legs.values())
    print(json.dumps({
        "metric": "skew_bench", "n_probes": n, "hot_cells": len(hot),
        "n_features": n_features, "pts_per_feature": pts, "cpus": cpus,
        "shuffle_partitions": 4 * cpus,
        "boundary_wkb_bytes": eng._boundary_wkb_bytes(),
        "one_pass": eng._one_pass_indexes() is not None,
        "low_threshold_mb": low_mb, "legs": legs,
        "legs_hitset_equal": all(
            (v["hits"], v["hit_hash"]) == (vals[0]["hits"],
                                           vals[0]["hit_hash"])
            for v in vals)}))
    spark.stop()


if __name__ == "__main__":
    main()
