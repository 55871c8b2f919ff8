"""Parity tests for the two debug/introspection surfaces:

- Set_EnvelopeHitResult analog (coarse-stage candidates with
  `_PolygonPointNum_`-prefixed props, /root/reference/AreaCityQuery.java:300-304)
- QueryInitInfo analog (build counts + durations,
  /root/reference/AreaCityQuery.java:1513-1604)
- OnInitProgress row-skip analog (`init_where`,
  /root/reference/AreaCityQuery.java:600, 858-863)
"""
import json

from tests.conftest import PROVINCE_FIXTURE, reference_file


def _points_df(spark, pts):
    return spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "point_id long, lng double, lat double",
    )


class TestEnvelopeHits:
    def test_point_candidates_superset_of_exact(self, province_engine):
        pts = _points_df(province_engine.spark, [(114.044346, 22.691963)])
        exact = {r.region_id for r in
                 province_engine.query_points(pts, with_props=False).collect()}
        cand = province_engine.query_points_envelope_hits(pts).collect()
        assert exact  # golden point does hit
        assert exact <= {r.region_id for r in cand}

    def test_prop_prefix_and_point_num(self, province_engine):
        # interior-cell candidate: Beijing center sits deep inside 北京市,
        # so at least one candidate is an interior tile (rect ⇒ 5 points,
        # the reference's 4-point-rectangle piece + closing vertex)
        pts = _points_df(province_engine.spark, [(116.407387, 39.904179)])
        rows = province_engine.query_points_envelope_hits(pts).collect()
        assert rows
        for r in rows:
            assert r.prop_json.startswith('{"_PolygonPointNum_": ')
            d = json.loads(r.prop_json)
            assert d["_PolygonPointNum_"] == r.n_points >= 4
            assert "name" in d  # original props preserved after the prefix

    def test_geometry_candidates_superset_of_exact(self, province_engine):
        spark = province_engine.spark
        wkt = "POLYGON((113.3 30.5, 117.3 30.5, 117.3 32.8, 113.3 32.8, 113.3 30.5))"
        probes = spark.createDataFrame([(0, wkt)], "probe_id long, wkt string")
        exact = {r.region_id for r in province_engine.query_geometry(
            probes, with_props=False).collect()}
        cand = {r.region_id for r in
                province_engine.query_geometry_envelope_hits(probes).collect()}
        assert exact and exact <= cand

    def test_where_filter_applies_to_candidates(self, province_engine):
        pts = _points_df(province_engine.spark, [(114.044346, 22.691963)])
        rows = province_engine.query_points_envelope_hits(
            pts, where="name = '北京市'").collect()
        names = {json.loads(r.prop_json).get("name") for r in rows}
        assert names <= {"北京市"}


class TestInitInfo:
    def test_counts_and_durations(self, province_engine):
        info = province_engine.init_info()
        assert info["feature_count"] == 34  # committed fixture: 34 provinces
        assert info["geometry_count"] == 34
        assert info["polygon_count"] == province_engine.tiles.count()
        assert (info["interior_tiles"] + info["boundary_tiles"]
                == info["polygon_count"])
        assert info["duration_total_s"] > 0
        assert info["data_from_store"] is False
        text = province_engine.format_init_info()
        assert "34" in text and "base_res" in text

    def test_store_load_flags_from_store(self, spark, tmp_path):
        from areacity_query_geometry_spark.sources import tile_store

        eng = tile_store.load_or_build(
            spark, reference_file(PROVINCE_FIXTURE), str(tmp_path / "store"),
            base_res=8)
        info = eng.init_info(with_tile_stats=False)
        assert info["data_from_store"] is True
        assert info["store_path"].endswith("store")


class TestInitWhere:
    def test_init_where_skips_features(self, spark):
        from areacity_query_geometry_spark.engine import SpatialEngine

        eng = SpatialEngine.from_geojson(
            spark, reference_file(PROVINCE_FIXTURE), base_res=8,
            init_where="name = '北京市'")
        assert eng.init_info(with_tile_stats=False)["feature_count"] == 1
        # Beijing point still resolves; Guangdong point was never indexed
        pts = _points_df(spark, [(116.407387, 39.904179),
                                 (114.044346, 22.691963)])
        hits = {r.point_id: r.name
                for r in eng.query_points(pts).collect()}
        assert hits == {0: "北京市"}
