"""r5 anisotropy-corrected tolerance distances: at high latitude the
degree-planar argmin can sit tens of km (in metres) from the
meter-nearest boundary point — the REFPARITY continents sweep measured
a +25.9 km error at lat 84°. The engine now also evaluates the
cos-scaled (locally metric-correct) argmin per piece and reports the
haversine min of both candidates.
"""
from __future__ import annotations

import numpy as np
import pytest

from areacity_query_geometry_spark.engine import SpatialEngine
from areacity_query_geometry_spark.geom import distance, predicates


def _true_min(px, py, segs, n=8193):
    t = np.linspace(0.0, 1.0, n)
    best = np.inf
    for ax, ay, bx, by in segs:
        x = ax + t * (bx - ax)
        y = ay + t * (by - ay)
        best = min(best, float(np.asarray(
            distance.haversine(px, py, x, y)).min()))
    return best


def test_scaled_argmin_beats_planar_at_high_latitude():
    segs = np.array([[10.0, 83.0, 20.0, 83.5]])  # oblique polar edge
    px, py = np.array([14.0]), np.array([83.1])
    nx, ny, _ = predicates.nearest_on_segments(px, py, segs)
    sx, sy, _ = predicates.nearest_on_segments_scaled(px, py, segs)
    d_planar = float(np.asarray(
        distance.haversine(nx, ny, px, py))[0])
    d_scaled = float(np.asarray(
        distance.haversine(sx, sy, px, py))[0])
    truth = _true_min(14.0, 83.1, segs)
    # the scaled candidate lands within metres of the true geodesic
    # minimum; the planar one is off by hundreds of metres here
    assert abs(d_scaled - truth) < 5.0
    assert d_planar > truth + 100.0


def test_scaled_argmin_coincides_on_axis_aligned_segments():
    # per-axis clamping: the scaled projection parameter equals the
    # unscaled one exactly, so rect-fixture gate outputs cannot move
    segs = np.array([[1.0, 2.0, 5.0, 2.0],      # horizontal
                     [3.0, -1.0, 3.0, 4.0]])    # vertical
    px = np.array([2.25, 6.5, 3.75])
    py = np.array([3.5, 1.0, -2.0])
    nx, ny, _ = predicates.nearest_on_segments(px, py, segs)
    sx, sy, _ = predicates.nearest_on_segments_scaled(px, py, segs)
    assert np.array_equal(nx, sx)
    assert np.array_equal(ny, sy)


@pytest.fixture(scope="module")
def polar_engine(spark, tmp_path_factory):
    ring = [(10.0, 83.0), (20.0, 83.5), (12.0, 85.0), (10.0, 83.0)]
    coords = ",".join(f"[{x},{y}]" for x, y in ring)
    p = tmp_path_factory.mktemp("polar") / "polar.json"
    p.write_text(
        '{"type":"FeatureCollection","features":[\n'
        '{"type":"Feature","properties":{"id":"1","pid":"0","deep":"0",'
        '"name":"polar","ext_path":"polar"},"geometry":{"type":"Polygon",'
        f'"coordinates":[[{coords}]]}}}}\n'
        "]}")
    eng = SpatialEngine.from_geojson(spark, str(p), base_res=6)
    eng.geodesic_refine = True  # exercise the -1 long-range refinement
    return eng


def test_polar_tolerance_distance_near_geodesic_truth(spark, polar_engine):
    probes = spark.createDataFrame(
        [(1, 14.0, 83.1)], "point_id long, lng double, lat double")
    rows = polar_engine.query_points_with_tolerance(probes, 25_000).collect()
    assert len(rows) == 1
    d = float(rows[0]["point_distance"])
    segs = np.array([[ring[i][0], ring[i][1],
                      ring[i + 1][0], ring[i + 1][1]]
                     for ring in [[(10.0, 83.0), (20.0, 83.5),
                                   (12.0, 85.0), (10.0, 83.0)]]
                     for i in range(3)])
    truth = _true_min(14.0, 83.1, segs)
    # within a few metres of the true geodesic minimum (pre-r5 the
    # degree-planar answer here was hundreds of metres high)
    assert truth - 0.01 <= d <= truth + 5.0


def test_polar_unlimited_tolerance_distance_near_geodesic_truth(
        spark, polar_engine):
    # tolerance=-1 runs the unlimited search (_unlimited_pairs), which
    # min-reduces the same second candidate across tiles in its own
    # metric; this engine is in geodesic_refine mode
    probes = spark.createDataFrame(
        [(1, 14.0, 82.0)], "point_id long, lng double, lat double")
    rows = polar_engine.query_points_with_tolerance(probes, -1).collect()
    assert len(rows) == 1
    d = float(rows[0]["point_distance"])
    segs = np.array([[ring[i][0], ring[i][1],
                      ring[i + 1][0], ring[i + 1][1]]
                     for ring in [[(10.0, 83.0), (20.0, 83.5),
                                   (12.0, 85.0), (10.0, 83.0)]]
                     for i in range(3)])
    truth = _true_min(14.0, 82.0, segs)
    # long range (124 km at lat 82): the scaled argmin uses the
    # PROBE's cos(lat) while the winning point sits ~1° away, so the
    # bound is relative — measured 0.09% high here vs the km-scale
    # error of the raw planar argmin
    assert truth - 0.01 <= d <= truth * 1.002
