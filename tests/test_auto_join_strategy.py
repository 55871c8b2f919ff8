"""Plan choice by the two index ceilings (engine.py `_interior_fits`,
`_boundary_fits`): the byte-aware join strategy. Measured basis
(BENCH/TOWNSHIP.md r4 re-measure): at 1.04M tiles / 0.3 GB boundary
WKB, broadcasting the tile WKB is the losing leg although the row count
is small, so the boundary ceiling is in bytes. Q1, Q2 and Q3 choose
their plan through `_one_pass_indexes()` alone. Runs on a generated
`fixtures_dense` boundary set (no external files).
"""
import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from areacity_query_geometry_spark.engine import SpatialEngine


def _pts(spark, pts):
    return spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "point_id long, lng double, lat double")


# four probes inside the fixture extent (lng 73-135, lat 18-54), each
# in a district, a city and a province, and one far outside it
PROBES = [(80.3, 24.1), (97.7, 41.2), (121.4, 31.2), (0.0, 0.0),
          (128.9, 50.6)]


class TestAutoResolution:
    def test_fixture_resolves_broadcast(self, dense_engine):
        # the generated fixture is tiny on both axes → both indexes fit
        assert dense_engine._interior_fits()
        assert dense_engine._boundary_fits()

    def test_byte_budget_refuses_broadcast(self, spark, dense_engine):
        eng = SpatialEngine(
            spark, dense_engine.boundaries, dense_engine.tiles,
            base_res=dense_engine.base_res, broadcast_wkb_budget=0)
        assert not eng._boundary_fits()
        assert eng._interior_fits()

    def test_rect_side_priced_at_its_row_width(self, spark, dense_engine):
        """The overlay rect side carries kind 1 and 2 rows of 48 bytes,
        three times a (cell_id, region_id) pair: a ceiling that admits
        the interior pairs but not the rect rows keeps that side on
        sort-merge, and the areas do not change."""
        from areacity_query_geometry_spark import overlay

        c = dense_engine._tile_counts_by_kind()
        eng = SpatialEngine(
            spark, dense_engine.boundaries, dense_engine.tiles,
            base_res=dense_engine.base_res,
            interior_broadcast_rows=3 * (c.get(1, 0) + c.get(2, 0)) - 1)
        assert eng._interior_fits()
        assert not eng._rect_tiles_fit()
        assert dense_engine._rect_tiles_fit()
        probes = spark.createDataFrame(
            [(0, 80.0, 24.0, 99.0, 42.0)],
            "probe_id long, x0 double, y0 double, x1 double, y1 double")
        got = overlay.overlay_rect_area(eng, probes)
        assert _plan_nodes(got, "SortMergeJoin") == 1
        want = overlay.overlay_rect_area(dense_engine, probes)
        assert _plan_nodes(want, "SortMergeJoin") == 0

        def areas(df):
            return sorted((r["region_id"], round(r["area"], 9))
                          for r in df.collect())

        assert areas(got) == areas(want)
        assert areas(want)

    def test_wkb_stat_cached_once(self, dense_engine):
        a = dense_engine._boundary_wkb_bytes()
        assert a > 0
        assert dense_engine._boundary_wkb_bytes() is not None
        assert dense_engine._wkb_bytes == a


class TestAutoFallbackParity:
    def test_per_branch_leg_matches_broadcast(self, spark, dense_engine):
        """Byte budget 0 turns the boundary index off and shuffles the
        boundary tile side (the interior side still broadcasts); the
        fallback must give the one-pass engine's hits — the same
        cross-leg equality TOWNSHIP hash-checks at 1M tiles."""
        eng = SpatialEngine(
            spark, dense_engine.boundaries, dense_engine.tiles,
            base_res=dense_engine.base_res, broadcast_wkb_budget=0)
        assert not eng._boundary_fits()
        probes = _pts(spark, PROBES)
        got = sorted((r["point_id"], r["region_id"]) for r in
                     eng.query_points(probes, with_props=False).collect())
        want = sorted((r["point_id"], r["region_id"]) for r in
                      dense_engine.query_points(
                          probes, with_props=False).collect())
        assert got == want
        assert len({p for p, _ in want}) >= 3  # in-extent probes resolve

    def test_store_meta_seeds_stats(self, spark, dense_engine, tmp_path):
        from areacity_query_geometry_spark.sources import tile_store

        path = str(tmp_path / "store")
        tile_store.save(dense_engine, path,
                        {"base_res": dense_engine.base_res,
                         "max_res": 14, "seg_budget": 48})
        eng = tile_store.load(spark, path)
        # stats seeded from _meta.json — the plan choice runs no job
        assert eng._wkb_bytes == dense_engine._boundary_wkb_bytes()
        assert eng._kind_counts == dense_engine._tile_counts_by_kind()
        assert eng._boundary_fits()


def _plan_nodes(df, name):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return len(re.findall(rf"\(\d+\) {name}\n", buf.getvalue()))


def _geoms(spark):
    return spark.createDataFrame(
        [(1, "POLYGON ((113 30, 113 33, 117 33, 117 30, 113 30))"),
         (2, "LINESTRING (80 24, 98 41)"),
         (3, "POINT (121.4 31.2)")],
        "probe_id long, wkt string")


class TestPlanChoice:
    def test_one_pass_iff_both_indexes_fit_their_ceilings(
            self, spark, dense_engine):
        """The only plan switch is `_one_pass_indexes()`: each index is
        gated by the ceiling that prices it (interior rows by
        `interior_broadcast_rows`, boundary WKB bytes by
        `broadcast_wkb_budget`). Q1, Q2 at 25 km and Q3 agree: the
        default engine takes the index plans, either ceiling at 0
        takes the join fallbacks, and every plan returns the same
        rows."""
        def variant(**kw):
            return SpatialEngine(
                spark, dense_engine.boundaries, dense_engine.tiles,
                base_res=dense_engine.base_res, **kw)

        engines = {"default": dense_engine,
                   "no_interior": variant(interior_broadcast_rows=0),
                   "no_boundary": variant(broadcast_wkb_budget=0)}
        probes = _pts(spark, PROBES)
        geoms = _geoms(spark)
        queries = {
            "q1": lambda e: e.query_points(probes, with_props=False),
            "q2": lambda e: e.query_points_with_tolerance(
                probes, 25000.0).select("point_id", "region_id",
                                        "point_distance"),
            "q3": lambda e: e.query_geometry(geoms, with_props=False),
        }
        # the Python node each index plan runs, absent on the fallbacks
        index_node = {"q1": "ArrowEvalPython", "q2": "ArrowEvalPython",
                      "q3": "MapInPandas"}

        assert dense_engine._one_pass_indexes() is not None
        assert engines["no_interior"]._interior_index() is None
        assert engines["no_boundary"]._boundary_index() is None
        for name, eng in engines.items():
            one_pass = name == "default"
            assert (eng._one_pass_indexes() is not None) == one_pass
            for q, run in queries.items():
                plan = run(eng)
                # Q1's fallback unions its interior and boundary
                # branches; Q2's unions its Q1 rows and nearest rows;
                # Q3's fallback adds a cover MapInPandas
                if q == "q3":
                    assert _plan_nodes(plan, "MapInPandas") == \
                        (1 if one_pass else 2), (name, q)
                else:
                    assert _plan_nodes(plan, index_node[q]) == \
                        (1 if one_pass else 0), (name, q)
                    assert _plan_nodes(plan, "Union") == \
                        (0 if one_pass else 1), (name, q)

        for q, run in queries.items():
            rows = {name: sorted(tuple(r) for r in run(eng).collect())
                    for name, eng in engines.items()}
            assert rows["default"], q
            assert rows["no_interior"] == rows["default"], q
            assert rows["no_boundary"] == rows["default"], q
