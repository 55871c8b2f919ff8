"""Observe-metrics, kNN k>1, and hypothesis property tests for the
geometry kernel."""
import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from areacity_query_geometry_spark.geom import core, predicates, wkb, wkt


class TestMetrics:
    def test_query_metrics_counts(self, spark, province_engine):
        pts = spark.range(2000).select(
            F.col("id").alias("point_id"),
            (73.0 + (F.col("id") * 37 % 62000) / 1000.0).alias("lng"),
            (18.0 + (F.col("id") * 101 % 36000) / 1000.0).alias("lat"),
        )
        df, obs = province_engine.query_points_with_metrics(pts)
        total = df.count()
        interior = obs["interior"].get["rows"]
        refined = obs["refined"].get["rows"]
        assert interior + refined == total
        assert interior > 0
        # equals plain query_points
        assert total == province_engine.query_points(pts, with_props=False).count()


class TestKnn:
    def test_k2_returns_two_per_level(self, spark, dense_engine):
        # west of the generated extent: every level has a strict first
        # and second nearest region
        pts = spark.createDataFrame(
            [(0, 72.0, 25.0)], "point_id long, lng double, lat double")
        r1 = dense_engine.query_points_with_tolerance(pts, -1, k=1).collect()
        r2 = dense_engine.query_points_with_tolerance(pts, -1, k=2).collect()
        assert sorted(r.deep for r in r1) == [0, 1, 2]
        assert sorted(r.deep for r in r2) == [0, 0, 1, 1, 2, 2]
        for r in r1:
            d = sorted(x.point_distance for x in r2 if x.deep == r.deep)
            assert r.point_distance == d[0]  # k=1 winner is the nearest
            assert d[0] < d[1]


coord = st.floats(min_value=-179.0, max_value=179.0, allow_nan=False,
                  width=64).map(lambda v: round(v, 6))


class TestKernelProperties:
    @given(st.lists(st.tuples(coord, coord), min_size=3, max_size=20))
    @settings(max_examples=200, deadline=None)
    def test_wkb_roundtrip(self, pts):
        g = core.polygon(pts + [pts[0]])
        g2 = wkb.loads(wkb.dumps(g))
        np.testing.assert_array_equal(g2["rings"][0], g["rings"][0])

    @given(st.lists(st.tuples(coord, coord), min_size=2, max_size=12))
    @settings(max_examples=200, deadline=None)
    def test_wkt_roundtrip_linestring(self, pts):
        g = core.linestring(pts)
        g2 = wkt.loads(wkt.dumps(g))
        np.testing.assert_allclose(g2["xy"], g["xy"], rtol=0, atol=0)

    @given(
        st.floats(min_value=-10, max_value=10, allow_nan=False),
        st.floats(min_value=-10, max_value=10, allow_nan=False),
        st.floats(min_value=0.1, max_value=5),
        st.floats(min_value=0.1, max_value=5),
    )
    @settings(max_examples=200, deadline=None)
    def test_rect_pip_matches_interval_logic(self, x0, y0, w, h):
        """PIP on an axis-aligned rect == closed interval containment."""
        ring = core.ensure_closed(np.array(
            [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]))
        rng = np.random.default_rng(0)
        px = rng.uniform(x0 - 1, x0 + w + 1, 64)
        py = rng.uniform(y0 - 1, y0 + h + 1, 64)
        got = predicates.points_intersect_rings(px, py, [ring])
        want = (px >= x0) & (px <= x0 + w) & (py >= y0) & (py <= y0 + h)
        assert np.array_equal(got, want)

    @given(st.integers(min_value=0, max_value=10_000_000),
           st.integers(min_value=4, max_value=20))
    @settings(max_examples=200, deadline=None)
    def test_cell_contains_its_point(self, seed, res):
        from areacity_query_geometry_spark import grid

        rng = np.random.default_rng(seed)
        lon = float(rng.uniform(-179.9, 179.9))
        lat = float(rng.uniform(-89.9, 89.9))
        cid = int(grid.cell_of(lon, lat, res))
        minx, miny, maxx, maxy = grid.cell_bounds(cid)
        assert minx <= lon < maxx + 1e-9
        assert miny <= lat < maxy + 1e-9

    @given(st.lists(st.tuples(coord, coord), min_size=3, max_size=15))
    @settings(max_examples=100, deadline=None)
    def test_clip_stays_within_window(self, pts):
        ring = core.ensure_closed(np.asarray(pts + [pts[0]], dtype=float))
        out = predicates.clip_ring_to_rect(ring, -50, -50, 50, 50)
        if len(out):
            assert out[:, 0].min() >= -50 - 1e-9 and out[:, 0].max() <= 50 + 1e-9
            assert out[:, 1].min() >= -50 - 1e-9 and out[:, 1].max() <= 50 + 1e-9

    @given(st.integers(min_value=0, max_value=10_000_000))
    @settings(max_examples=150, deadline=None)
    def test_seg_rect_kernel_matches_scalar(self, seed):
        """Vectorized segs_intersect_rects ≡ scalar geoms_intersect
        (seg as LineString vs rect polygon) on random configurations,
        including snapped-to-grid cases that force touches."""
        from areacity_query_geometry_spark.geom import distance

        rng = np.random.default_rng(seed)
        n = 32
        snap = lambda a: np.round(a * 4) / 4  # force exact touches often
        px1 = snap(rng.uniform(-10, 10, n)); py1 = snap(rng.uniform(-10, 10, n))
        px2 = snap(rng.uniform(-10, 10, n)); py2 = snap(rng.uniform(-10, 10, n))
        rx0 = snap(rng.uniform(-10, 8, n)); ry0 = snap(rng.uniform(-10, 8, n))
        rx1 = rx0 + snap(rng.uniform(0.25, 4, n)); ry1 = ry0 + snap(rng.uniform(0.25, 4, n))
        got = predicates.segs_intersect_rects(px1, py1, px2, py2, rx0, ry0, rx1, ry1)
        for i in range(n):
            seg = {"type": "LineString",
                   "xy": np.array([[px1[i], py1[i]], [px2[i], py2[i]]])}
            want = predicates.geoms_intersect(seg, distance.rect(rx0[i], ry0[i], rx1[i], ry1[i]))
            assert bool(got[i]) == want, (i, px1[i], py1[i], px2[i], py2[i],
                                          rx0[i], ry0[i], rx1[i], ry1[i])

    @given(st.integers(min_value=0, max_value=10_000_000))
    @settings(max_examples=100, deadline=None)
    def test_seg_vs_segs_kernel_matches_scalar(self, seed):
        rng = np.random.default_rng(seed)
        snap = lambda a: np.round(a * 4) / 4
        segs = np.column_stack([snap(rng.uniform(-5, 5, 12)) for _ in range(4)])
        px1 = snap(rng.uniform(-6, 6, 16)); py1 = snap(rng.uniform(-6, 6, 16))
        px2 = snap(rng.uniform(-6, 6, 16)); py2 = snap(rng.uniform(-6, 6, 16))
        got = predicates.segs_intersect_segs_any(px1, py1, px2, py2, segs)
        for i in range(16):
            a = np.array([[px1[i], py1[i], px2[i], py2[i]]])
            want = predicates.any_segment_intersection(a, segs)
            assert bool(got[i]) == want
