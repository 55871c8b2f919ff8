"""Single-thread profile of the one-pass Q1 kernel, `_index_point_hits`
with both the boundary and the interior index, as `_make_regions_udf`
runs it, on the reference-density set (fixtures_dense). Spark only
builds the two indexes; the kernel then runs on the driver over
deterministic probes placed inside the boundary index's cells, so the
figure is pure kernel time with no scheduling or Arrow handoff.

Prints the index stats (tiles, cells, arrays and bytes), the
single-thread rate and the top of a cProfile by cumulative time.

Usage: python tools/kernel_profile.py [n_probes] [batch] [base_res]
"""
from __future__ import annotations

import cProfile
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

import numpy as np  # noqa: E402

from areacity_query_geometry_spark import hostload  # noqa: E402


def _stats(name: str, idx: dict) -> None:
    arrays = ", ".join(f"{k} {v.nbytes / 1e6:.1f}" for k, v in idx.items())
    print(f"{name}: {len(idx['region'])} tile rows, {len(idx['cells'])} "
          f"cells, {sum(v.nbytes for v in idx.values()) / 1e6:.1f} MB "
          f"({arrays} MB)")


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_300_000
    batch = int(sys.argv[2]) if len(sys.argv) > 2 else 65536
    base_res = int(sys.argv[3]) if len(sys.argv) > 3 else 13
    hostload.apply_malloc_tuning()  # before the JVM starts

    from pyspark.sql import SparkSession

    from areacity_query_geometry_spark import fixtures_dense, grid
    from areacity_query_geometry_spark.engine import (
        SpatialEngine, _index_point_hits,
    )

    cpus = len(os.sched_getaffinity(0))
    builder = (SparkSession.builder.master(f"local[{cpus}]")
               .config("spark.sql.shuffle.partitions", str(cpus))
               .config("spark.ui.enabled", "false"))
    for k, v in hostload.driver_memory_conf().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    eng = SpatialEngine.from_geojson(
        spark, fixtures_dense.ensure(), base_res=base_res)
    t0 = time.time()
    I, J = eng._boundary_index()[0].value, eng._interior_index().value
    print(f"index_build_sec={time.time() - t0:.1f} on local[{cpus}]")
    spark.stop()
    _stats("boundary", I)
    _stats("interior", J)

    # deterministic probes in boundary cells: the index's own cells,
    # jittered inside each cell
    rng = np.arange(n, dtype=np.int64)
    cells = I["cells"][rng % len(I["cells"])]
    bx0, by0, bx1, by1 = grid.cells_bounds(cells)
    px = bx0 + (bx1 - bx0) * (((rng * 2654435761) % 1000) / 1000.0)
    py = by0 + (by1 - by0) * (((rng * 40503) % 1000) / 1000.0)

    def run():
        hits = 0
        for s in range(0, n, batch):
            e = s + batch
            (ir, _), (br, _) = _index_point_hits(
                I, px[s:e], py[s:e], cells[s:e], None, J)
            hits += len(ir) + len(br)
        return hits

    run()  # warm
    t0 = time.time()
    hits = run()
    el = time.time() - t0
    print(f"kernel_single_thread: {el:.2f}s for {n} probes in boundary "
          f"cells ({n / el / 1e6:.2f}M probes/s/core), hits={hits}")
    pr = cProfile.Profile()
    pr.enable()
    run()
    pr.disable()
    pstats.Stats(pr).sort_stats("cumulative").print_stats(18)


if __name__ == "__main__":
    main()
