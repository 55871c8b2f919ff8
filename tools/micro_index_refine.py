"""Driver-side microbenchmark of the broadcast-index refine kernel —
isolates pure-Python kernel time from Spark scheduling/Arrow overhead
so index-path tuning targets the right layer.

Usage: python tools/micro_index_refine.py [n_boundary_pts] [batch]
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

import numpy as np
import pandas as pd


class FakeBroadcast:
    def __init__(self, v):
        self.value = v


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_300_000
    batch = int(sys.argv[2]) if len(sys.argv) > 2 else 65536

    from pyspark.sql import SparkSession

    from areacity_query_geometry_spark import fixtures_dense
    from areacity_query_geometry_spark.engine import (
        SpatialEngine, _make_index_refine_fn,
    )

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.driver.memory", "32g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    eng = SpatialEngine.from_geojson(
        spark, fixtures_dense.ensure(), base_res=13)
    t0 = time.time()
    bc, _ = eng._boundary_index()
    print(f"index_build_sec={time.time() - t0:.1f}")
    idx = bc.value
    print(f"index tiles={len(idx['region'])} cells={len(idx['cells'])} "
          f"seg_rows={len(idx['SEG'])} tile_refs={len(idx['tile_seg'])} "
          f"bytes={sum(a.nbytes for a in idx.values())/1e6:.0f}MB")

    # deterministic probes biased into boundary cells: take the index's
    # own cells and jitter points inside them
    from areacity_query_geometry_spark import grid

    rng = np.arange(n, dtype=np.int64)
    cells = idx["cells"][rng % len(idx["cells"])]
    bx0, by0, bx1, by1 = grid.cells_bounds(cells)
    fx = ((rng * 2654435761) % 1000) / 1000.0
    fy = ((rng * 40503) % 1000) / 1000.0
    px = bx0 + (bx1 - bx0) * fx
    py = by0 + (by1 - by0) * fy

    fn = _make_index_refine_fn(("point_id",), FakeBroadcast(idx))

    def batches():
        for s in range(0, n, batch):
            yield pd.DataFrame({
                "point_id": rng[s:s + batch],
                "lng": px[s:s + batch],
                "lat": py[s:s + batch],
                "cell_id": cells[s:s + batch],
            })

    # warm numpy
    total = 0
    t0 = time.time()
    for out in fn(batches()):
        total += len(out)
    el = time.time() - t0
    print(f"kernel_single_thread: {el:.2f}s for {n} boundary pts "
          f"({n/el/1e6:.2f}M pts/s/core), hits={total}")
    spark.stop()


if __name__ == "__main__":
    main()
