"""Golden tests on the reference's SECOND committed fixture (world
continents, 9 features) plus the multi-instance registry — the
reference serves several datasets side by side via Instances[0-9]
(/root/reference/AreaCityQuery.java:62-66)."""
import pytest
from pyspark.sql import functions as F

from areacity_query_geometry_spark import registry
from areacity_query_geometry_spark.engine import SpatialEngine

from conftest import CONTINENT_FIXTURE, reference_file


@pytest.fixture(scope="module")
def continent_engine(spark):
    # continent polygons are planet-sized — coarser base grid
    return SpatialEngine.from_geojson(
        spark, reference_file(CONTINENT_FIXTURE), base_res=7)


def _lookup(engine, lng, lat):
    pts = engine.spark.createDataFrame(
        [(0, lng, lat)], "point_id long, lng double, lat double")
    return {r.name for r in engine.query_points(pts).collect()}


class TestContinents:
    def test_continental_goldens(self, continent_engine):
        assert _lookup(continent_engine, 116.4, 39.9) == {"亚洲"}      # Beijing
        assert _lookup(continent_engine, 10.0, 51.0) == {"欧洲"}       # Germany
        assert _lookup(continent_engine, -100.0, 40.0) == {"北美洲"}   # Kansas
        assert _lookup(continent_engine, -60.0, -10.0) == {"南美洲"}   # Brazil
        assert _lookup(continent_engine, 134.0, -24.0) == {"澳洲"}     # Australia
        assert _lookup(continent_engine, 20.0, 6.0) == {"非洲"}        # C.A.R.

    def test_mid_ocean_misses(self, continent_engine):
        assert _lookup(continent_engine, -40.0, 30.0) == set()   # Atlantic
        assert _lookup(continent_engine, -150.0, 0.0) == set()   # Pacific

    def test_numeric_deep_encoding_parses(self, continent_engine):
        # this fixture encodes deep as a NUMBER ("deep": 0) where the
        # province fixture uses a STRING — both must land in the typed
        # column (SURVEY §1.1: the reference's regex accepts both)
        deeps = {r.deep for r in continent_engine.boundaries.select("deep").collect()}
        assert deeps == {0}


class TestRegistry:
    def test_two_instances_side_by_side(self, spark, province_engine, continent_engine):
        registry.register("0", province_engine)
        registry.register("1", continent_engine)
        try:
            assert set(registry.instances()) >= {"0", "1"}
            # same coordinate, different instance → different answer
            assert "广东省" in _lookup(registry.get("0"), 114.044346, 22.691963)
            assert _lookup(registry.get("1"), 114.044346, 22.691963) == {"亚洲"}
            with pytest.raises(KeyError):
                registry.get("9")
        finally:
            registry.unregister("0")
            registry.unregister("1")
