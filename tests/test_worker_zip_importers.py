"""Engine tasks leave no Spark-archive zip importer on their Python
worker, so the next task's `importlib.invalidate_caches()` rereads no
archive directory (see `engine._drop_spark_zip_importers`).

A child process runs Spark in `local[1]`, so one reused Python worker
serves every task. Before and after one-pass Q1, Q2 at 25 km and the
Q3 index path, a probe Arrow UDF lists the zip importers cached at the
start of its batch. Each probe then recreates the importers of the
archives on `sys.path` (as an import of any new top-level module does),
so each operation must drop them itself. The rows must equal the
`local[4]` session's.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys
sys.path.insert(0, {root!r})
import pyarrow as pa
from pyspark.sql import SparkSession, functions as F
from areacity_query_geometry_spark.engine import SpatialEngine

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")


def zip_importers(ids: pa.Array) -> pa.Array:
    import importlib.machinery, os, zipimport
    found = sorted({{imp.archive for imp in sys.path_importer_cache.values()
                    if isinstance(imp, zipimport.zipimporter)}})
    # a lookup that walks sys.path recreates the archives' importers
    importlib.machinery.PathFinder.find_spec("aqgs_no_such_module")
    return pa.array([json.dumps([os.getpid(), found])] * len(ids))


probe = F.arrow_udf(zip_importers, "string")


def cached():
    return json.loads(spark.range(1, numPartitions=1)
                      .select(probe("id")).first()[0])


out = {{"before": cached()}}
eng = SpatialEngine.from_geojson(spark, {geojson!r}, base_res={base_res})
assert eng._one_pass_indexes() is not None
pts = spark.read.parquet({probes!r})
wkts = spark.read.parquet({wkts!r})
out["q1"] = [list(r) for r in
             eng.query_points(pts, with_props=False).collect()]
out["after_q1"] = cached()
out["q2"] = [list(r) for r in eng.query_points_with_tolerance(
    pts, 25000.0).select("point_id", "region_id", "point_distance").collect()]
out["after_q2"] = cached()
out["q3"] = [list(r) for r in
             eng.query_geometry(wkts, with_props=False).collect()]
out["after_q3"] = cached()
with open({out!r}, "w") as f:
    json.dump(out, f)
spark.stop()
"""


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    d = tmp_path_factory.mktemp("zipimp")
    rng = np.random.default_rng(23)
    n = 800
    pq.write_table(pa.table({
        "point_id": np.arange(n, dtype=np.int64),
        "lng": rng.uniform(fd.X0 - 1.0, fd.X1 + 1.0, n),
        "lat": rng.uniform(fd.Y0 - 1.0, fd.Y1 + 1.0, n)}),
        str(d / "probes.parquet"))
    x = rng.uniform(fd.X0, fd.X1 - 4.0, 40)
    y = rng.uniform(fd.Y0, fd.Y1 - 4.0, 40)
    w = rng.uniform(0.1, 4.0, 40)
    wkt = [f"POLYGON(({a} {b}, {a + s} {b}, {a + s} {b + s}, {a} {b + s}, "
           f"{a} {b}))" if i % 2 else f"LINESTRING({a} {b}, {a + s} {b + s})"
           for i, (a, b, s) in enumerate(zip(x, y, w))]
    pq.write_table(pa.table({"probe_id": np.arange(40, dtype=np.int64),
                             "wkt": wkt}), str(d / "wkts.parquet"))
    return str(d / "probes.parquet"), str(d / "wkts.parquet"), \
        str(d / "out.json")


def _rows(rows):
    return Counter(tuple(r) for r in rows)


def test_engine_tasks_leave_no_spark_zip_importer(dense_geojson,
                                                  dense_engine, inputs):
    probes, wkts, out = inputs
    script = CHILD.format(root=ROOT, geojson=dense_geojson,
                          base_res=dense_engine.base_res, probes=probes,
                          wkts=wkts, out=out)
    env = dict(os.environ, PYTHONPATH=ROOT,
               SPARK_LOCAL_IP=os.environ.get("SPARK_LOCAL_IP", "127.0.0.1"))
    proc = subprocess.run([sys.executable, "-c", script], env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    with open(out) as f:
        got = json.load(f)

    pid, before = got["before"]
    if not before:
        pytest.skip("the Python workers import nothing from a zip archive")
    for op in ("q1", "q2", "q3"):
        assert got[f"after_{op}"] == [pid, []], op  # same worker, none left

    eng = dense_engine
    pts = eng.spark.read.parquet(probes)
    q1 = _rows(eng.query_points(pts, with_props=False).collect())
    q2 = _rows(eng.query_points_with_tolerance(pts, 25000.0).select(
        "point_id", "region_id", "point_distance").collect())
    q3 = _rows(eng.query_geometry(eng.spark.read.parquet(wkts),
                                  with_props=False).collect())
    assert q1 and q1 == _rows(got["q1"])
    assert q2 and q2 == _rows(got["q2"])
    assert any(d is not None for _, _, d in q2)  # tolerance rows present
    assert q3 and q3 == _rows(got["q3"])
