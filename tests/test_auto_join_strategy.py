"""broadcast_tiles="auto" resolution (engine.py) — the byte-aware join
strategy. Measured basis (BENCH/TOWNSHIP.md r4 re-measure): at 1.04M
tiles / 0.3 GB boundary WKB, whole-table broadcast is the losing leg
even though the row count sits far under the 3M ceiling — so "auto"
must look at bytes, and the per-branch boundary broadcast must too.
Runs on a generated `fixtures_dense` boundary set (no external files).
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
        # the generated fixture is tiny on both axes → broadcast
        assert dense_engine._broadcast_tiles_cfg == "auto"
        assert dense_engine.broadcast_tiles is True

    def test_byte_budget_refuses_broadcast(self, spark, dense_engine):
        eng = SpatialEngine(
            spark, dense_engine.boundaries, dense_engine.tiles,
            base_res=dense_engine.base_res, broadcast_wkb_budget=0)
        assert eng.broadcast_tiles is False

    def test_explicit_pin_wins(self, spark, dense_engine):
        eng = SpatialEngine(
            spark, dense_engine.boundaries, dense_engine.tiles,
            base_res=dense_engine.base_res, broadcast_tiles=True,
            broadcast_wkb_budget=0)
        assert eng.broadcast_tiles is True

    def test_setter_revalidates(self, spark, dense_engine):
        eng = SpatialEngine(
            spark, dense_engine.boundaries, dense_engine.tiles,
            base_res=dense_engine.base_res)
        with pytest.raises(ValueError):
            eng.broadcast_tiles = 1  # int is not a pin

    def test_wkb_stat_cached_once(self, dense_engine):
        a = dense_engine._boundary_wkb_bytes()
        assert a > 0
        assert dense_engine._boundary_wkb_bytes() is not None
        assert dense_engine._wkb_bytes == a


class TestAutoFallbackParity:
    def test_per_branch_leg_matches_broadcast(self, spark, dense_engine):
        """Force the auto rule onto the per-branch path (byte budget 0
        also disables the boundary-branch broadcast AND the boundary
        index) and require identical hits to the broadcast engine —
        the same cross-leg equality TOWNSHIP hash-checks at 1M tiles."""
        eng = SpatialEngine(
            spark, dense_engine.boundaries, dense_engine.tiles,
            base_res=dense_engine.base_res, broadcast_wkb_budget=0)
        assert eng.broadcast_tiles is False
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
        # stats seeded from _meta.json — resolving "auto" runs no job
        assert eng._wkb_bytes == dense_engine._boundary_wkb_bytes()
        assert eng._kind_counts == dense_engine._tile_counts_by_kind()
        assert eng.broadcast_tiles is True


def _plan_nodes(df, name):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return len(re.findall(rf"\(\d+\) {name}\n", buf.getvalue()))


class TestPlanChoice:
    def test_one_pass_iff_both_indexes_fit_their_ceilings(
            self, spark, dense_engine):
        """The only plan switch is `_one_pass_indexes()`: each index is
        gated by the broadcast ceiling that prices it (interior rows by
        `interior_broadcast_rows`, boundary WKB bytes by
        `broadcast_wkb_budget`). With either one over, Q1 takes the
        join fallback, and every plan returns the same hits."""
        def variant(**kw):
            return SpatialEngine(
                spark, dense_engine.boundaries, dense_engine.tiles,
                base_res=dense_engine.base_res, **kw)

        no_interior = variant(interior_broadcast_rows=0)
        no_boundary = variant(broadcast_tiles=True, broadcast_wkb_budget=0)
        probes = _pts(spark, PROBES)

        def q1(eng):
            return eng.query_points(probes, with_props=False)

        assert dense_engine._one_pass_indexes() is not None
        assert _plan_nodes(q1(dense_engine), "ArrowEvalPython") == 1
        assert _plan_nodes(q1(dense_engine), "Union") == 0

        assert no_interior._interior_index() is None
        assert no_interior._one_pass_indexes() is None
        plan = q1(no_interior)
        assert _plan_nodes(plan, "Union") == 1
        assert _plan_nodes(plan, "MapInPandas") == 1
        assert _plan_nodes(plan, "ArrowEvalPython") == 0

        assert no_boundary._boundary_index() is None
        assert no_boundary._one_pass_indexes() is None

        def hits(eng):
            return sorted((r["point_id"], r["region_id"])
                          for r in q1(eng).collect())

        want = hits(dense_engine)
        assert len({p for p, _ in want}) >= 3  # in-extent probes resolve
        assert hits(no_interior) == want
        assert hits(no_boundary) == want
