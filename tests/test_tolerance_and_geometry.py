"""Q2/Q3/Q4/Q5 golden parity tests (reference expectations from
/root/reference/Test.java:323-401)."""
import pytest
from pyspark.sql import functions as F

from conftest import PROVINCE_FIXTURE, reference_file


def _points_df(spark, pts):
    return spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "point_id long, lng double, lat double",
    )


class TestTolerance:
    def test_offshore_xiangshan(self, province_engine):
        # Test.java:323-338 — offshore (121.993491, 29.524288) with 2500m
        # tolerance must match 象山县's province 浙江省 with a distance
        rows = province_engine.query_points_with_tolerance(
            _points_df(province_engine.spark, [(121.993491, 29.524288)]), 2500
        ).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r.name == "浙江省"
        # the TRUE geodesic nearest-boundary distance on this simplified
        # file is 1449.434 m (brute force: every source segment sampled
        # at 8193 parameters, haversine min). Since the r5
        # anisotropy-corrected second argmin candidate the engine
        # reports exactly that (pre-r5 it reported 1456.68 — the
        # degree-planar argmin's point, 7.2 m high). Either way it must
        # NOT sit at a tile clip artifact: before the window-run
        # filter, Sutherland–Hodgman bridge runs along the expanded cell
        # window (OUTSIDE the region) reported 785 m at base_res 13 and
        # 126 m at base_res 9 — resolution-dependent and geometrically
        # impossible. Pin the honest band [true, old planar answer].
        assert r.point_distance is not None
        assert 1449.0 < r.point_distance < 1465.0
        assert '"PointDistance":' in r.prop_json_out
        assert f'"PointDistanceID": {r.region_id}' in r.prop_json_out

    def test_distance_segs_drops_clip_bridges(self):
        """Kernel regression for the offshore-distance bug: clipping a
        DISCONNECTED region (two islands) to one cell makes
        Sutherland–Hodgman emit bridge runs along the expanded window
        that lie outside the region; the boundary index's distance-fit
        segments (`fseg`, built here through the join fallbacks'
        `_batch_index`) must drop every window-collinear run so
        nearest-distance sees only true boundary segments."""
        import numpy as np
        import pandas as pd

        from areacity_query_geometry_spark import tiler
        from areacity_query_geometry_spark.engine import (
            _batch_index, _seg_rows,
        )
        from areacity_query_geometry_spark.geom import predicates, wkb

        # ONE ring with two prongs dipping into the cell [0,8]² from
        # above (the connector runs at y=9, outside the window) — the
        # clip is disconnected, so S–H bridges the prongs along the
        # window's top line
        ring = np.array([(1.0, 10.0), (1.0, 4.0), (2.0, 4.0), (2.0, 9.0),
                         (5.0, 9.0), (5.0, 4.0), (6.0, 4.0), (6.0, 10.0),
                         (1.0, 10.0)])
        minx, miny, maxx, maxy = 0.0, 0.0, 8.0, 8.0
        e = tiler.CLIP_EPS
        c = predicates.clip_ring_to_rect(
            ring, minx - e, miny - e, maxx + e, maxy + e)
        piece = wkb.dumps({"type": "Polygon", "rings": [c]})
        raw = predicates.segments_of_rings([c])
        top = (raw[:, 1] == maxy + e) & (raw[:, 3] == maxy + e)
        # the artifact exists: runs along the expanded window top,
        # including the bridge across the gap x∈(2,5) which is NOT in
        # the region
        assert top.any()
        nx0, ny0, d0 = predicates.nearest_on_segments(
            np.array([3.5]), np.array([9.5]), raw)
        assert d0[0] < 1.51  # the bridge, geometrically impossible

        I, _ = _batch_index(pd.DataFrame({
            "cell_id": [0], "region_id": [0], "minx": [minx],
            "miny": [miny], "maxx": [maxx], "maxy": [maxy],
            "tile_wkb": [piece]}))
        segs = _seg_rows(I["SEG"], I["fseg"])
        assert len(segs)
        x1, y1, x2, y2 = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
        assert not (((x1 == x2) & ((x1 == minx - e) | (x1 == maxx + e)))
                    | ((y1 == y2) & ((y1 == miny - e) | (y1 == maxy + e)))
                    ).any()
        # filtered nearest from the probe above the gap = the prong
        # corner (2, 8+e): sqrt(1.5² + (1.5−e)²)
        nx, ny, d = predicates.nearest_on_segments(
            np.array([3.5]), np.array([9.5]), segs)
        want = np.hypot(1.5, 9.5 - (maxy + e))
        assert d[0] == want

    def test_q3_probe_through_bridge_gap_not_intersecting(self, spark):
        """Q3 regression twin of the bridge bug: a two-prong region
        whose prongs dip across a cell gridline is DISCONNECTED in the
        lower cell, so its clip carries a bridge run along the cell
        line across the prong gap. A line probe crossing the gridline
        inside the gap touches ONLY that bridge — it must NOT report
        the region; a probe through a prong must."""
        import numpy as np

        from areacity_query_geometry_spark import tiler
        from areacity_query_geometry_spark.engine import SpatialEngine
        from areacity_query_geometry_spark.geom import core, wkb
        from areacity_query_geometry_spark.sources.geojson_source import (
            BOUNDARY_SCHEMA,
        )

        # res-6 gridline at y = 5.625 runs through the prong gap
        ring = np.array([(1.0, 7.0), (1.0, 4.0), (2.0, 4.0), (2.0, 6.5),
                         (5.0, 6.5), (5.0, 4.0), (6.0, 4.0), (6.0, 7.0),
                         (1.0, 7.0)])
        gwkb = wkb.dumps({"type": "Polygon",
                          "rings": [core.ensure_closed(ring)]})
        prop = ('{"id":"P","pid":"0","deep":"0","name":"P",'
                '"ext_path":"P"}')
        b = spark.createDataFrame(
            [(1, "P", "0", 0, "P", "P", "", prop, gwkb)], BOUNDARY_SCHEMA)
        tiles = tiler.build_tiles(b, base_res=6, max_res=6).cache()
        tiles.count()
        eng = SpatialEngine(spark, b, tiles, base_res=6)

        probes = spark.createDataFrame(
            [(0, "LINESTRING (3.5 5.0, 3.5 6.0)"),    # gap: bridge only
             (1, "LINESTRING (1.5 5.0, 1.5 6.0)"),    # through a prong
             (2, "LINESTRING (3.5 6.75, 4.0 6.75)")], # inside connector
            "probe_id long, wkt string")
        rows = eng.query_geometry(probes, with_props=False).collect()
        got = {}
        for r in rows:
            got.setdefault(int(r["probe_id"]), set()).add(int(r["region_id"]))
        assert 0 not in got or 1 not in got.get(0, set()), \
            "bridge-only probe falsely intersects the region"
        assert got.get(1) == {1}
        assert got.get(2) == {1}

    def test_offshore_sweep_distance_band(self, province_engine):
        """Q2 differential on real geometry: every returned distance
        must land in the region's honest haversine band, computed from
        the SOURCE rings — lower bound = min over segments of haversine
        at the per-segment planar argmin, upper bound = haversine at
        the region's global planar argmin. A clip-window artifact
        (bridge/closure run) undercuts the lower bound and fails."""
        import numpy as np

        from areacity_query_geometry_spark.geom import (
            core, distance, geojson, predicates,
        )

        rng = np.random.RandomState(83)
        pts = [(122.0 + rng.rand() * 1.5, 27.5 + rng.rand() * 10.0)
               for _ in range(40)]  # sea strip east of the coast
        rows = province_engine.query_points_with_tolerance(
            _points_df(province_engine.spark, pts), 80_000).collect()
        hits = [(int(r.point_id), r.name, float(r.point_distance))
                for r in rows if r.point_distance is not None]
        assert hits, "sweep produced no tolerance matches — widen strip"

        feats = {}
        for line in open(
                reference_file(PROVINCE_FIXTURE),
                encoding="utf-8"):
            r = geojson.parse_feature_line(line)
            if r:
                prop, g = r
                feats[geojson.extract_str(prop, "name")] = g

        for pid, name, d in hits:
            px, py = pts[pid]
            segs = predicates.segments_of_rings(core.all_rings(feats[name]))
            # per-segment planar argmin points, haversine at each
            x1, y1, x2, y2 = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
            dx, dy = x2 - x1, y2 - y1
            ll = dx * dx + dy * dy
            with np.errstate(invalid="ignore", divide="ignore"):
                t = np.clip(((px - x1) * dx + (py - y1) * dy)
                            / np.where(ll == 0.0, 1.0, ll), 0.0, 1.0)
            cx = x1 + t * dx
            cy = y1 + t * dy
            h = np.asarray(distance.haversine(
                np.full(len(segs), px), np.full(len(segs), py), cx, cy))
            # r5: the engine also evaluates the cos-scaled (locally
            # metric-correct) argmin per piece — extend the band's
            # lower bound with those candidates. A sub-segment's scaled
            # argmin can still undercut the full segment's two
            # candidates by the equirectangular approximation error
            # (~cm at this scale) — hence the 0.5 m slack, still far
            # above any clip-bridge artifact (hundreds of metres off).
            w = np.cos(np.radians(py))
            dxw = dx * w
            lls = dxw * dxw + dy * dy
            with np.errstate(invalid="ignore", divide="ignore"):
                ts = np.clip(((px - x1) * w * dxw + (py - y1) * dy)
                             / np.where(lls == 0.0, 1.0, lls), 0.0, 1.0)
            cxs = x1 + ts * dx
            cys = y1 + ts * dy
            hs = np.asarray(distance.haversine(
                np.full(len(segs), px), np.full(len(segs), py), cxs, cys))
            lower = float(min(h.min(), hs.min()))
            planar = np.hypot(cx - px, cy - py)
            upper = float(h[int(np.argmin(planar))])
            assert lower - 0.5 <= d <= upper + 1e-6, \
                (pid, name, d, lower, upper)
        rows = province_engine.query_points_with_tolerance(
            _points_df(province_engine.spark, [(114.044346, 22.691963)]), 2500
        ).collect()
        assert len(rows) == 1
        assert rows[0].name == "广东省"
        assert rows[0].point_distance is None

    def test_tolerance_zero_is_plain_q1(self, province_engine):
        rows = province_engine.query_points_with_tolerance(
            _points_df(province_engine.spark, [(121.993491, 29.524288)]), 0
        ).collect()
        assert rows == []

    def test_one_winner_per_deep(self, province_engine):
        # province fixture has a single deep level (0) → exactly 1 row
        rows = province_engine.query_points_with_tolerance(
            _points_df(province_engine.spark, [(121.993491, 29.524288)]), 100000
        ).collect()
        assert len(rows) == 1
        assert rows[0].deep == 0

    def test_unlimited_tolerance(self, province_engine):
        # far offshore point; -1 must still find the nearest feature
        rows = province_engine.query_points_with_tolerance(
            _points_df(province_engine.spark, [(130.0, 25.0)]), -1
        ).collect()
        assert len(rows) == 1
        assert rows[0].point_distance > 100000


class TestGeometryProbe:
    def test_polygon_probe_three_provinces(self, province_engine, spark):
        # Test.java:340-373 — rect (113.305514,30.564249)-(117.32651,32.881526)
        # with deep==0 must hit exactly 湖北省 + 河南省 + 安徽省
        wkt = ("POLYGON ((113.305514 30.564249, 113.305514 32.881526, "
               "117.32651 32.881526, 117.32651 30.564249, 113.305514 30.564249))")
        probes = spark.createDataFrame([(1, wkt)], "probe_id long, wkt string")
        rows = province_engine.query_geometry(probes, where="deep = 0").collect()
        assert {r.name for r in rows} == {"湖北省", "河南省", "安徽省"}

    def test_rotated_polygon_fully_containing_region(self, province_engine, spark):
        """tile⊂probe containment with ZERO boundary crossings: a
        diamond enclosing all of Hainan island — the pkind-3
        containment rows are the only way this region can match."""
        wkt = "POLYGON ((104 19.5, 110 26, 116 19.5, 110 13, 104 19.5))"
        probes = spark.createDataFrame([(1, wkt)], "probe_id long, wkt string")
        rows = province_engine.query_geometry(probes).collect()
        names = {r.name for r in rows}
        assert "海南省" in names
        assert "北京市" not in names  # far outside the diamond

    def test_point_probe_equals_q1(self, province_engine, spark):
        probes = spark.createDataFrame(
            [(1, "POINT (114.044346 22.691963)")], "probe_id long, wkt string")
        rows = province_engine.query_geometry(probes).collect()
        assert {r.name for r in rows} == {"广东省"}

    def test_linestring_probe(self, province_engine, spark):
        # a line from Wuhan to Beijing crosses several provinces
        probes = spark.createDataFrame(
            [(1, "LINESTRING (114.3 30.6, 116.4 39.9)")], "probe_id long, wkt string")
        rows = province_engine.query_geometry(probes).collect()
        names = {r.name for r in rows}
        assert "湖北省" in names and "北京市" in names and "河南省" in names
        assert "广东省" not in names

    def test_multilinestring_probe_unions_parts(self, province_engine, spark):
        # part 1 crosses Hubei→Beijing; part 2 sits wholly inside
        # Guangdong — the union must include both hit-sets
        probes = spark.createDataFrame(
            [(1, "MULTILINESTRING ((114.3 30.6, 116.4 39.9), "
                 "(113.2 23.1, 113.3 23.2))")], "probe_id long, wkt string")
        rows = province_engine.query_geometry(probes).collect()
        names = {r.name for r in rows}
        assert {"湖北省", "北京市", "河南省", "广东省"} <= names

    def test_multilinestring_equals_two_linestrings(self, province_engine, spark):
        """A MultiLineString's hit-set must equal the union of its
        parts queried separately."""
        parts = ["LINESTRING (114.3 30.6, 116.4 39.9)",
                 "LINESTRING (108 34, 120 28)"]
        sep = spark.createDataFrame(
            [(i, w) for i, w in enumerate(parts)], "probe_id long, wkt string")
        merged = spark.createDataFrame(
            [(1, "MULTILINESTRING ((114.3 30.6, 116.4 39.9), (108 34, 120 28))")],
            "probe_id long, wkt string")
        union = {r.region_id for r in province_engine.query_geometry(
            sep, with_props=False).collect()}
        got = {r.region_id for r in province_engine.query_geometry(
            merged, with_props=False).collect()}
        assert got == union

    def test_multipoint_probe(self, province_engine, spark):
        probes = spark.createDataFrame(
            [(1, "MULTIPOINT ((114.044346 22.691963), (116.4 39.9))")],
            "probe_id long, wkt string")
        rows = province_engine.query_geometry(probes).collect()
        assert {r.name for r in rows} == {"广东省", "北京市"}

    def test_multipoint_bare_spelling(self, province_engine, spark):
        # WKT's other MULTIPOINT spelling (no per-point parens)
        probes = spark.createDataFrame(
            [(1, "MULTIPOINT (114.044346 22.691963, 116.4 39.9)")],
            "probe_id long, wkt string")
        rows = province_engine.query_geometry(probes).collect()
        assert {r.name for r in rows} == {"广东省", "北京市"}

    def test_geometrycollection_probe(self, province_engine, spark):
        # point in Guangdong + line Hubei→Beijing + diamond over Hainan
        wkt = ("GEOMETRYCOLLECTION (POINT (114.044346 22.691963), "
               "LINESTRING (114.3 30.6, 116.4 39.9), "
               "POLYGON ((104 19.5, 110 26, 116 19.5, 110 13, 104 19.5)))")
        probes = spark.createDataFrame([(1, wkt)], "probe_id long, wkt string")
        rows = province_engine.query_geometry(probes).collect()
        names = {r.name for r in rows}
        assert {"广东省", "湖北省", "北京市", "海南省"} <= names

    def test_geometrycollection_two_polygons_one_probe(self, province_engine, spark):
        """Two disjoint polygon members under ONE probe_id — each needs
        its own pkind-3 containment row (WKT-keyed probe cache)."""
        wkt = ("GEOMETRYCOLLECTION ("
               "POLYGON ((104 19.5, 110 26, 116 19.5, 110 13, 104 19.5)), "
               "POLYGON ((115 39, 117.5 39, 117.5 41, 115 41, 115 39)))")
        probes = spark.createDataFrame([(1, wkt)], "probe_id long, wkt string")
        rows = province_engine.query_geometry(probes).collect()
        names = {r.name for r in rows}
        assert "海南省" in names and "北京市" in names


class TestAttributeScan:
    def test_read_wkt_filter(self, province_engine):
        rows = province_engine.read_wkt_features(where="name = '北京市'").collect()
        assert len(rows) == 1
        assert rows[0].wkt.startswith(("POLYGON", "MULTIPOLYGON"))

    def test_ext_path_like(self, province_engine):
        rows = province_engine.read_wkt_features(
            where="ext_path LIKE '%湖北%'", with_wkt=False).collect()
        assert [r.name for r in rows] == ["湖北省"]

    def test_scan_keeps_empty_features(self, province_engine):
        total = province_engine.read_wkt_features(with_wkt=False).count()
        assert total == 34  # every feature incl. any EMPTY geometry ones


class TestTileDebug:
    def test_tile_splits_roundtrip(self, province_engine):
        rows = province_engine.debug_tile_splits_wkt(where="name = '广东省'").collect()
        assert len(rows) == 1
        assert rows[0].n_tiles > 10
        assert rows[0].tiles_wkt.startswith("MULTIPOLYGON")

    def test_tile_union_covers_golden_point(self, province_engine):
        # the reassembled tiling must still contain the golden point
        import numpy as np

        from areacity_query_geometry_spark.geom import core, predicates, wkt as wkt_codec

        row = province_engine.debug_tile_splits_wkt(where="name = '广东省'").collect()[0]
        g = wkt_codec.loads(row.tiles_wkt)
        hit = False
        for rings in core.polygons_of(g):
            if predicates.points_intersect_rings(
                np.array([114.044346]), np.array([22.691963]), rings
            )[0]:
                hit = True
                break
        assert hit


class TestReturnWktEcho:
    def test_prop_json_gains_full_wkt(self, province_engine, spark):
        """Set_ReturnWKTKey parity (AreaCityQuery.java:277-289): matched
        props gain the FULL feature geometry WKT under the caller's key,
        and it round-trips through the WKT codec."""
        import json

        from areacity_query_geometry_spark.geom import core, wkt as wkt_codec

        pts = spark.createDataFrame(
            [(0, 114.044346, 22.691963)], "point_id long, lng double, lat double")
        rows = province_engine.query_points(
            pts, return_wkt_key="polygon_wkt").collect()
        assert rows
        for r in rows:
            prop = json.loads(r.prop_json)
            assert prop["name"] == "广东省"
            g = wkt_codec.loads(prop["polygon_wkt"])
            assert not core.is_empty(g)
            # the echoed geometry must actually contain the probe
            from areacity_query_geometry_spark.geom import predicates
            import numpy as np
            assert predicates.points_intersect_rings(
                np.array([114.044346]), np.array([22.691963]),
                core.all_rings(g))[0]
