"""Q1 golden parity tests against the reference's committed province
fixture — expectations transcribed from /root/reference/Test.java
(golden point lookups, Test.java:306-338; the fixture is
province-level, so district-level goldens assert their province).
"""
import pytest

from conftest import PROVINCE_FIXTURE, reference_file


def _points_df(spark, pts):
    return spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "point_id long, lng double, lat double",
    )


def _hits(engine, pts, where=None):
    df = engine.query_points(_points_df(engine.spark, pts), where=where)
    rows = df.select("point_id", "name").collect()
    out = {}
    for r in rows:
        out.setdefault(r.point_id, set()).add(r.name)
    return out


class TestGoldenPoints:
    def test_longhua_golden(self, province_engine):
        # Test.java:306-320 — (114.044346, 22.691963) is in 龙华区, Shenzhen
        # → province level: 广东省
        hits = _hits(province_engine, [(114.044346, 22.691963)])
        assert hits.get(0) == {"广东省"}

    def test_offshore_no_plain_hit(self, province_engine):
        # Test.java:323-338 — offshore point must return 0 rows without tolerance
        hits = _hits(province_engine, [(121.993491, 29.524288)])
        assert 0 not in hits

    def test_beijing_center(self, province_engine):
        hits = _hits(province_engine, [(116.407387, 39.904179)])
        assert hits.get(0) == {"北京市"}

    def test_enclave_points_map_to_provinces(self, province_engine):
        # Test.java:454-476 hard cases, at province level
        pts = [
            (117.286491, 30.450399),  # 铜陵市郊区 enclave → 安徽省
            (116.055588, 39.709385),  # 北京市房山区 exclave → 北京市
            (130.277487, 47.331960),  # 鹤岗市南山区 → 黑龙江省
            (118.180213, 39.630867),  # 唐山市路北区 → 河北省
            (82.045865, 41.787138),   # 阿克苏拜城县 → 新疆维吾尔自治区
        ]
        hits = _hits(province_engine, pts)
        assert hits.get(0) == {"安徽省"}
        assert hits.get(1) == {"北京市"}
        assert hits.get(2) == {"黑龙江省"}
        assert hits.get(3) == {"河北省"}
        assert hits.get(4) == {"新疆维吾尔自治区"}

    def test_where_filter(self, province_engine):
        hits = _hits(province_engine, [(114.044346, 22.691963)], where="deep = 0")
        assert hits.get(0) == {"广东省"}
        hits2 = _hits(province_engine, [(114.044346, 22.691963)], where="deep = 1")
        assert 0 not in hits2

    def test_batch_many_points(self, province_engine):
        pts = [(114.044346, 22.691963), (116.407387, 39.904179), (0.0, 0.0)]
        hits = _hits(province_engine, pts)
        assert hits.get(0) == {"广东省"}
        assert hits.get(1) == {"北京市"}
        assert 2 not in hits


class TestLatticeSweepInvariants:
    """Scaled-down analog of Test.java:405-436's deterministic lattice:
    tile-join result must equal direct per-feature PIP on every lattice
    point (engine vs kernel oracle)."""

    def test_lattice_parity(self, province_engine, spark):
        import numpy as np

        from areacity_query_geometry_spark.geom import core, geojson, predicates

        lons = np.linspace(98, 135, 25)
        lats = np.linspace(18, 42, 25)
        gx, gy = np.meshgrid(lons, lats)
        px, py = gx.ravel(), gy.ravel()
        pts = list(zip(px.tolist(), py.tolist()))
        engine_hits = _hits(province_engine, pts)

        feats = [
            r
            for line in open(
                reference_file(PROVINCE_FIXTURE),
                encoding="utf-8",
            )
            if (r := geojson.parse_feature_line(line))
        ]
        oracle = {}
        for prop, g in feats:
            if core.is_empty(g):
                continue
            name = geojson.extract_str(prop, "name")
            hit = predicates.points_intersect_rings(px, py, core.all_rings(g))
            for i in np.nonzero(hit)[0].tolist():
                oracle.setdefault(i, set()).add(name)
        assert engine_hits == oracle


class TestRectProbeSweepParity:
    """Q3 differential on REAL curved geometry: random rect probes vs a
    direct per-feature oracle (any source segment touches the rect, or
    a rect corner lies inside the region). Catches tile-clip artifacts
    the fixture worlds can't — the Sutherland–Hodgman bridge runs along
    cell gridlines live exactly where coastal rects straddle cells."""

    def test_random_rects_parity(self, province_engine, spark):
        import numpy as np

        from areacity_query_geometry_spark.geom import (
            core, geojson, predicates,
        )

        rng = np.random.RandomState(41)
        n = 200
        x0 = 98.0 + rng.rand(n) * 36.0
        y0 = 18.0 + rng.rand(n) * 23.0
        wdt = 10.0 ** (rng.rand(n) * 3 - 2)   # 0.01° .. 10°
        hgt = 10.0 ** (rng.rand(n) * 3 - 2)
        x1, y1 = x0 + wdt, y0 + hgt

        probes = spark.createDataFrame(
            [(int(i),
              f"POLYGON (({a} {b}, {c} {b}, {c} {d}, {a} {d}, {a} {b}))")
             for i, (a, b, c, d) in enumerate(zip(x0, y0, x1, y1))],
            "probe_id long, wkt string")
        rows = province_engine.query_geometry(
            probes, with_props=False).collect()
        got = {}
        for r in rows:
            got.setdefault(int(r["probe_id"]), set()).add(
                int(r["region_id"]))

        feats = [
            r for line in open(
                reference_file(PROVINCE_FIXTURE),
                encoding="utf-8",
            ) if (r := geojson.parse_feature_line(line))
        ]
        names = {int(r["region_id"]): r["name"]
                 for r in province_engine.boundaries.select(
                     "region_id", "name").collect()}
        oracle = {}
        for prop, g in feats:
            if core.is_empty(g):
                continue
            name = geojson.extract_str(prop, "name")
            segs = predicates.segments_of_rings(core.all_rings(g))
            touch = predicates.segments_in_cells(segs, x0, y0, x1, y1)
            corner = predicates.points_intersect_rings(
                x0, y0, core.all_rings(g))
            hit = np.asarray(touch) | np.asarray(corner)
            for i in np.nonzero(hit)[0].tolist():
                oracle.setdefault(i, set()).add(name)
        got_names = {i: {names[rid] for rid in s} for i, s in got.items()}
        assert got_names == oracle


class TestLineProbeSweepParity:
    """Q3 line-probe differential on real curved geometry: random
    segments vs a direct per-feature oracle (probe crosses any source
    segment, or an endpoint lies inside the region)."""

    def test_random_lines_parity(self, province_engine, spark):
        import numpy as np

        from areacity_query_geometry_spark.geom import (
            core, geojson, predicates,
        )

        rng = np.random.RandomState(59)
        n = 200
        x1 = 98.0 + rng.rand(n) * 36.0
        y1 = 18.0 + rng.rand(n) * 23.0
        ln = 10.0 ** (rng.rand(n) * 3 - 2)
        ang = rng.rand(n) * 2 * np.pi
        x2 = x1 + ln * np.cos(ang)
        y2 = y1 + ln * np.sin(ang)

        probes = spark.createDataFrame(
            [(int(i), f"LINESTRING ({a} {b}, {c} {d})")
             for i, (a, b, c, d) in enumerate(zip(x1, y1, x2, y2))],
            "probe_id long, wkt string")
        rows = province_engine.query_geometry(
            probes, with_props=False).collect()
        names = {int(r["region_id"]): r["name"]
                 for r in province_engine.boundaries.select(
                     "region_id", "name").collect()}
        got = {}
        for r in rows:
            got.setdefault(int(r["probe_id"]), set()).add(
                names[int(r["region_id"])])

        feats = [
            r for line in open(
                reference_file(PROVINCE_FIXTURE),
                encoding="utf-8",
            ) if (r := geojson.parse_feature_line(line))
        ]
        oracle = {}
        for prop, g in feats:
            if core.is_empty(g):
                continue
            name = geojson.extract_str(prop, "name")
            rings = core.all_rings(g)
            segs = predicates.segments_of_rings(rings)
            cross = predicates.segs_intersect_segs_any(x1, y1, x2, y2, segs)
            inside = (predicates.points_intersect_rings(x1, y1, rings)
                      | predicates.points_intersect_rings(x2, y2, rings))
            hit = np.asarray(cross) | np.asarray(inside)
            for i in np.nonzero(hit)[0].tolist():
                oracle.setdefault(i, set()).add(name)
        assert got == oracle


class TestTileGolden:
    def test_fixture_tile_stats_snapshot(self, spark):
        """Pins the tiler's per-region (n_tiles, n_interior) on the
        fixture world to a committed golden — the q5 gate query has no
        SQL oracle, so this snapshot is its regression check. A
        deliberate tiler change must regenerate the golden AND bump
        GRID_VERSION (the /tmp fixture-store cache key)."""
        import json
        import os

        import __spark_entry__ as entrymod

        rows = entrymod.queries()["q5_tile_stats"](
            spark, "/root/testdata/sf0.001").collect()
        got = {r.region_code: [r.n_tiles, r.n_interior] for r in rows}
        golden_path = os.path.join(os.path.dirname(__file__),
                                   "golden_tile_stats.json")
        want = json.load(open(golden_path))
        assert got == want


class TestCoordinateRobustness:
    def test_nan_and_null_coordinates_are_dropped(self, spark, province_engine):
        """Docs tables at corpus scale contain broken geo spans; NaN or
        NULL coordinates must not crash the join — the cell expression
        yields a null key, which the equi-join drops."""
        pts = spark.createDataFrame(
            [(1, 116.4, 39.9),
             (2, float("nan"), 30.0),
             (3, None, 30.0),
             (4, 114.0, None)],
            "point_id long, lng double, lat double")
        rows = province_engine.query_points(pts, with_props=False).collect()
        assert {r.point_id for r in rows} == {1}


class TestSqlViews:
    def test_pure_sql_interior_lookup(self, spark, province_engine):
        """create_views + cell_expr: the interior fast path is reachable
        from pure spark.sql, and agrees with the engine's interior
        branch on interior-cell probes."""
        b, t = province_engine.create_views("aqgtest")
        spark.range(200).selectExpr(
            "id AS point_id",
            "73.0 + (id * 37 % 62000) / 1000.0 AS lng",
            "18.0 + (id * 101 % 36000) / 1000.0 AS lat",
        ).createOrReplaceTempView("aqgtest_probes")
        sql_hits = spark.sql(f"""
            SELECT p.point_id, t.region_id
            FROM aqgtest_probes p
            JOIN {t} t ON t.cell_id = {province_engine.cell_expr('p.lng', 'p.lat')}
             AND t.kind = 1
        """).collect()
        got = sorted((r.point_id, r.region_id) for r in sql_hits)
        # reference: the engine's full answer restricted to interior hits
        pts = spark.table("aqgtest_probes")
        full = province_engine.query_points(pts, with_props=False)
        df, obs = province_engine.query_points_with_metrics(pts)
        all_rows = sorted((r.point_id, r.region_id) for r in df.collect())
        assert set(got) <= set(all_rows)
        assert obs["interior"].get["rows"] == len(got)


class TestRandomWorldProperty:
    @pytest.mark.parametrize("seed", [3, 17, 41])
    def test_engine_matches_direct_pip_on_random_world(self, spark, seed):
        """Property: on a RANDOM polygon world (dyadic coordinates,
        random rect regions, one with a hole), the full engine pipeline
        (tiler → cell join → Arrow refine) agrees with direct numpy
        point-in-polygon on every probe — including probes snapped onto
        region borders (edge-touch duality)."""
        import numpy as np

        from areacity_query_geometry_spark import tiler
        from areacity_query_geometry_spark.engine import SpatialEngine
        from areacity_query_geometry_spark.geom import core, predicates, wkb
        from areacity_query_geometry_spark.sources.geojson_source import BOUNDARY_SCHEMA

        rng = np.random.default_rng(seed)
        snap = lambda a: np.round(np.asarray(a) * 64) / 64  # dyadic

        regions = []
        for i in range(12):
            x0, y0 = snap(rng.uniform(0, 30, 2))
            w, h = snap(rng.uniform(1, 12, 2))
            shell = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h), (x0, y0)]
            rings = [core.ensure_closed(np.asarray(shell, dtype=np.float64))]
            if i == 0 and w > 2 and h > 2:  # carve a hole
                hx0, hy0 = x0 + w / 4, y0 + h / 4
                hx1, hy1 = x0 + w / 2, y0 + h / 2
                rings.append(core.ensure_closed(np.asarray(
                    [(hx0, hy0), (hx1, hy0), (hx1, hy1), (hx0, hy1), (hx0, hy0)],
                    dtype=np.float64)))
            geom = {"type": "Polygon", "rings": rings}
            prop = f'{{"id":"{i}","deep":"0"}}'
            regions.append((i, str(i), "0", 0, f"R{i}", f"R{i}", "", prop,
                            wkb.dumps(geom)))

        boundaries = spark.createDataFrame(regions, BOUNDARY_SCHEMA)
        tiles = tiler.build_tiles(boundaries, base_res=6, max_res=8)
        eng = SpatialEngine(spark, boundaries, tiles, base_res=6)

        n = 300
        px = snap(rng.uniform(-1, 45, n))
        py = snap(rng.uniform(-1, 45, n))
        # force some probes EXACTLY onto region borders
        for j in range(0, n, 7):
            ridx = int(rng.integers(0, len(regions)))
            g = wkb.loads(regions[ridx][8])
            ring = g["rings"][0]
            px[j], py[j] = ring[0][0], ring[j % (len(ring) - 1)][1]

        pts = spark.createDataFrame(
            [(int(j), float(px[j]), float(py[j])) for j in range(n)],
            "point_id long, lng double, lat double")
        got = sorted((r.point_id, r.region_id)
                     for r in eng.query_points(pts, with_props=False).collect())

        want = []
        for rid, *_rest in regions:
            g = wkb.loads(regions[rid][8])
            hit = predicates.points_intersect_rings(px, py, core.all_rings(g))
            want.extend((int(j), rid) for j in np.nonzero(hit)[0])
        assert got == sorted(want)


class TestRandomSlopedWorld:
    @pytest.mark.parametrize("seed", [5, 23])
    def test_engine_matches_direct_pip_on_sloped_polygons(self, spark, seed):
        """Property: random TRIANGLE regions (sloped edges — the tiler
        must clip non-axis-aligned rings correctly) — engine ≡ direct
        numpy PIP. Probes within 1e-7° of any edge are excluded: the
        clip stage interpolates vertices ON the edges, so razor-edge
        parity is defined only up to fp interpolation there."""
        import numpy as np

        from areacity_query_geometry_spark import tiler
        from areacity_query_geometry_spark.engine import SpatialEngine
        from areacity_query_geometry_spark.geom import core, predicates, wkb
        from areacity_query_geometry_spark.sources.geojson_source import BOUNDARY_SCHEMA

        rng = np.random.default_rng(seed)
        regions = []
        for i in range(10):
            cx, cy = rng.uniform(5, 35, 2)
            ang = rng.uniform(0, 2 * np.pi, 3) + np.array([0, 2.2, 4.4])
            rad = rng.uniform(2, 8, 3)
            tri = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
            ring = core.ensure_closed(tri)
            geom = {"type": "Polygon", "rings": [ring]}
            regions.append((i, str(i), "0", 0, f"T{i}", f"T{i}", "",
                            f'{{"id":"{i}"}}', wkb.dumps(geom)))

        boundaries = spark.createDataFrame(regions, BOUNDARY_SCHEMA)
        tiles = tiler.build_tiles(boundaries, base_res=6, max_res=8)
        eng = SpatialEngine(spark, boundaries, tiles, base_res=6)

        n = 400
        px = rng.uniform(0, 40, n)
        py = rng.uniform(0, 40, n)
        # drop probes razor-close to any edge
        keep = np.ones(n, dtype=bool)
        for rid, *_r in regions:
            g = wkb.loads(regions[rid][8])
            segs = predicates.segments_of_rings(core.all_rings(g))
            _, _, d = predicates.nearest_on_segments(px, py, segs)
            keep &= d > 1e-7
        px, py = px[keep], py[keep]
        n = len(px)
        assert n > 300  # sanity: the filter removes almost nothing

        pts = spark.createDataFrame(
            [(int(j), float(px[j]), float(py[j])) for j in range(n)],
            "point_id long, lng double, lat double")
        got = sorted((r.point_id, r.region_id)
                     for r in eng.query_points(pts, with_props=False).collect())
        want = []
        for rid, *_rest in regions:
            g = wkb.loads(regions[rid][8])
            hit = predicates.points_intersect_rings(px, py, core.all_rings(g))
            want.extend((int(j), rid) for j in np.nonzero(hit)[0])
        assert got == sorted(want)
