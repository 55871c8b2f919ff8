"""The Q1 join fallback returns each (point, region) once, however
Arrow splits its refine input into batches. Several boundary tiles of
one region can share a base cell (sub-tiles of a dense cell), so a
point on their common corner is accepted by each of them, and those
joined rows can sit in different batches: batches split every
`spark.sql.execution.arrow.maxRecordsPerBatch` rows, and AQE may make
the probe side the broadcast build side. The fallback therefore dedups
its refined rows globally. Probes sit on the corners of such tiles and
batches are 3 rows long; Q1 and Q2 (whose Q1 rows pass through) must
give the one-pass plan's rows. No external files needed."""
from __future__ import annotations

from collections import Counter

import numpy as np
import pytest

from areacity_query_geometry_spark import fixtures_dense
from areacity_query_geometry_spark.engine import SpatialEngine

BASE_RES = 6


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("multi_tile") / "dense.json")
    fixtures_dense.generate(path, nx=4, ny=4, city_bx=2, city_by=2,
                            prov_bx=4, prov_by=4, pts_per_edge=120)
    one = SpatialEngine.from_geojson(spark, path, base_res=BASE_RES)
    # the join fallback's two sub-legs: boundary tile side broadcast
    # (the interior index off) and shuffled (the boundary index off)
    joins = [SpatialEngine(spark, one.boundaries, one.tiles, BASE_RES, **kw)
             for kw in ({"interior_broadcast_rows": 0},
                        {"broadcast_wkb_budget": 0})]
    assert one._one_pass_indexes() is not None
    assert all(j._one_pass_indexes() is None for j in joins)
    return one, *joins


@pytest.fixture(scope="module")
def corner_probes(spark, engines):
    """300 probes drawn from the corners of the boundary tiles of
    (cell, region) keys that have more than one boundary tile."""
    tiles = engines[0].tiles.filter("kind != 1")
    multi = (tiles.groupBy("cell_id", "region_id").count()
             .filter("count > 1"))
    assert multi.count() > 50
    rows = tiles.join(multi, ["cell_id", "region_id"]).collect()
    corners = sorted({(x, y) for r in rows for x in (r.minx, r.maxx)
                      for y in (r.miny, r.maxy)})
    pick = np.random.default_rng(3).choice(len(corners), 300)
    return spark.createDataFrame(
        [(i, float(corners[j][0]), float(corners[j][1]))
         for i, j in enumerate(pick)],
        "point_id long, lng double, lat double")


@pytest.fixture
def small_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    yield
    spark.conf.set(key, old)


def test_q1_fallback_rows_equal_one_pass(engines, corner_probes,
                                         small_batches):
    got = [Counter(tuple(r) for r in e.query_points(
        corner_probes, with_props=False)
        .select("point_id", "region_id").collect()) for e in engines]
    assert got[0] == got[1] == got[2]
    assert max(got[0].values()) == 1
    assert len(got[0]) > 300


def test_q2_fallback_rows_equal_one_pass(engines, corner_probes,
                                         small_batches):
    got = [Counter(tuple(r) for r in e.query_points_with_tolerance(
        corner_probes, 5000.0)
        .select("point_id", "region_id", "point_distance").collect())
        for e in engines]
    assert got[0] == got[1] == got[2]
    assert max(got[0].values()) == 1
