"""The broadcast index path across executor JVMs.

Every other test runs Spark in `local[N]`, where the broadcast indexes
are unpickled by Python workers of the driver's own JVM. Here a child
process runs one-pass Q1 and Q2 under `local-cluster[2,1,1024]` (two
executor JVMs), so the packed segment store and its int32 slab CSR
are shipped to and unpickled in separate executors; its rows must
equal the `local[N]` session's. Skips, naming the reason, when
local-cluster cannot start on the host.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from areacity_query_geometry_spark import fixtures_dense as fd
from areacity_query_geometry_spark.engine import SpatialEngine

BASE_RES = 9
MASTER = "local-cluster[2,1,1024]"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys, time
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master({master!r})
         .config("spark.ui.enabled", "false")
         .config("spark.executorEnv.PYTHONPATH", {root!r})
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .getOrCreate())
sc = spark.sparkContext
sc.setLogLevel("ERROR")
status = sc._jsc.sc().getExecutorMemoryStatus  # the driver counts too
t0 = time.time()
while status().size() < 3 and time.time() - t0 < 120:
    time.sleep(0.5)
if status().size() < 3:
    sys.exit("executors registered: %d of 2" % (status().size() - 1))
print("STARTED", flush=True)
sys.path.insert(0, {root!r})
from areacity_query_geometry_spark.engine import SpatialEngine
eng = SpatialEngine.from_geojson(spark, {geojson!r}, base_res={base_res})
assert eng._one_pass_indexes() is not None
pts = spark.read.parquet({probes!r})
q1 = eng.query_points(pts, with_props=False).collect()
q2 = eng.query_points_with_tolerance(pts, 25000.0).select(
    "point_id", "region_id", "point_distance").collect()
with open({out!r}, "w") as f:
    json.dump({{"q1": [list(r) for r in q1], "q2": [list(r) for r in q2]}}, f)
spark.stop()
"""


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    d = tmp_path_factory.mktemp("lcluster")
    geojson = str(d / "dense.json")
    fd.generate(geojson, nx=8, ny=8, city_bx=2, city_by=2,
                prov_bx=4, prov_by=4, pts_per_edge=6)
    rng = np.random.default_rng(17)
    n = 1600
    lng = rng.uniform(fd.X0 - 1.0, fd.X1 + 1.0, n)
    lat = rng.uniform(fd.Y0 - 1.0, fd.Y1 + 1.0, n)
    lng[:2] = np.nan  # read back as null coordinates below
    probes = d / "probes"
    probes.mkdir()
    for part in range(4):  # four files, so tasks spread over executors
        sl = slice(part * n // 4, (part + 1) * n // 4)
        pq.write_table(pa.table({
            "point_id": np.arange(n, dtype=np.int64)[sl],
            "lng": pa.array(lng[sl], mask=np.isnan(lng[sl])),
            "lat": lat[sl]}), str(probes / f"part-{part}.parquet"))
    return geojson, str(probes), str(d / "out.json")


def _rows(rows):
    return Counter(tuple(r) for r in rows)


def test_one_pass_q1_q2_same_rows_across_executor_jvms(spark, inputs):
    geojson, probes, out = inputs
    script = CHILD.format(root=ROOT, master=MASTER, geojson=geojson,
                          base_res=BASE_RES, probes=probes, out=out)
    env = dict(os.environ, PYTHONPATH=ROOT,
               SPARK_LOCAL_IP=os.environ.get("SPARK_LOCAL_IP", "127.0.0.1"))
    try:
        proc = subprocess.run([sys.executable, "-c", script], env=env,
                              capture_output=True, text=True, timeout=600)
    except subprocess.TimeoutExpired as e:
        if b"STARTED" not in (e.stdout or b""):
            pytest.skip(f"{MASTER} did not start within 600 s")
        raise
    if "STARTED" not in proc.stdout:
        tail = " | ".join(proc.stderr.strip().splitlines()[-3:])
        pytest.skip(f"{MASTER} could not start: {tail}")
    assert proc.returncode == 0, proc.stderr[-3000:]

    with open(out) as f:
        got = json.load(f)
    eng = SpatialEngine.from_geojson(spark, geojson, base_res=BASE_RES)
    assert eng._one_pass_indexes() is not None
    pts = spark.read.parquet(probes)
    q1 = _rows(eng.query_points(pts, with_props=False).collect())
    q2 = _rows(eng.query_points_with_tolerance(pts, 25000.0).select(
        "point_id", "region_id", "point_distance").collect())
    assert q1 and q1 == _rows(got["q1"])
    assert q2 and q2 == _rows(got["q2"])
    assert any(d is not None for _, _, d in q2)  # tolerance rows present
