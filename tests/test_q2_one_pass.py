"""Q2's (tolerance) two plans agree on generated boundary sets (no
external files): the one-pass plan (one scalar Arrow UDF over the
probe, then explode and the props join) and the cover-join fallback
(an index over its ceiling, the boundary tile side shuffled or, with
only the interior index off, broadcast: checkpointed Q1, miss
anti-join, 24-gon cover joined to the tiles, distance kernel,
min-agg + window) return the same full rows — `point_distance` and
`prop_json_out` text bit-equal — at 2.5, 25 and 250 km, k=1 and k=2,
`where`-filtered, at tolerance 0 and at tolerance -1 (whose fallback
runs the one-pass kernel over the anti-joined misses). Probes include
shared-edge vertices (Q1 hits), misses near the 24-gon radius (the
ambiguous-circle branch), far misses and null coordinates. A small
symmetric set pins the region_id tie-break.
Reference semantics: QueryPointWithTolerance
(AreaCityQuery.java:102-163).
"""
from __future__ import annotations

import contextlib
import io
import math
import re
from collections import Counter

import numpy as np
import pytest

from areacity_query_geometry_spark import engine as engine_mod
from areacity_query_geometry_spark import fixtures_dense as fd
from areacity_query_geometry_spark.engine import SpatialEngine
from areacity_query_geometry_spark.geom import distance

BASE_RES = 9
TOLS = (2500.0, 25000.0, 250000.0)
N_RANDOM, N_NEAR, N_FAR = 600, 150, 40
M_PER_DEG = float(distance.haversine(0.0, 0.0, 1.0, 0.0))  # at the equator


def _variants(spark, one):
    def variant(**kw):
        return SpatialEngine(spark, one.boundaries, one.tiles, BASE_RES, **kw)

    return {"one_pass": one,
            "cover_join": variant(broadcast_wkb_budget=0),
            "cover_join_bcast": variant(interior_broadcast_rows=0)}


@pytest.fixture(scope="module")
def engines(spark, dense_engine):
    return _variants(spark, dense_engine)


def _near_radius(tol_m, n, seed):
    """Points just outside the warped west / east edges of the lattice,
    offset by 0.8-1.1 × tol_m along the parallel: their nearest
    boundary distances straddle the circle radius."""
    rng = np.random.default_rng(seed)
    y = rng.uniform(fd.Y0 + 1.0, fd.Y1 - 1.0, n)
    side = np.where(rng.random(n) < 0.5, fd.X0, fd.X1)
    bx, by = fd._displace(side, y)
    off = rng.uniform(0.8, 1.1, n) * tol_m \
        / (M_PER_DEG * np.cos(np.radians(by)))
    return np.where(side == fd.X0, bx - off, bx + off), by


def _edge_vertices(eng, n):
    """District ring vertices shared by two districts (Q1 hits on a
    shared edge), read back from the boundaries table."""
    from areacity_query_geometry_spark.geom import wkb

    owners: dict[tuple, int] = {}
    for r in eng.boundaries.filter("deep = 2").select("geom_wkb").collect():
        for x, y in wkb.loads(bytes(r.geom_wkb))["rings"][0][:-1]:
            owners[(x, y)] = owners.get((x, y), 0) + 1
    shared = sorted((float(x), float(y)) for (x, y), c in owners.items()
                    if c == 2)
    pick = np.random.default_rng(5).choice(len(shared), n, replace=False)
    return [shared[i] for i in sorted(pick)]


@pytest.fixture(scope="module")
def probes(spark, engines):
    rng = np.random.default_rng(11)
    xs = [rng.uniform(fd.X0 - 3, fd.X1 + 3, N_RANDOM)]
    ys = [rng.uniform(fd.Y0 - 3, fd.Y1 + 3, N_RANDOM)]
    for i, tol in enumerate(TOLS):
        x, y = _near_radius(tol, N_NEAR, seed=i)
        xs.append(x)
        ys.append(y)
    # far misses: beyond every tolerance here
    xs.append(rng.uniform(20.0, 60.0, N_FAR))
    ys.append(rng.uniform(-40.0, 0.0, N_FAR))
    rows = [(float(x), float(y)) for x, y in
            zip(np.concatenate(xs), np.concatenate(ys))]
    rows += _edge_vertices(engines["one_pass"], 100)
    rows += [(None, 30.0), (100.0, None), (None, None)]
    return spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(rows)],
        "point_id long, lng double, lat double")


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _nodes(plan: str, name: str) -> int:
    return len(re.findall(rf"\(\d+\) {name}\n", plan))


def test_index_switches(engines):
    assert engines["one_pass"]._one_pass_indexes() is not None
    assert engines["cover_join"]._one_pass_indexes() is None
    assert engines["cover_join"]._boundary_index() is None
    assert engines["cover_join_bcast"]._one_pass_indexes() is None
    assert engines["cover_join_bcast"]._interior_index() is None


@pytest.mark.parametrize("tol,k,where", [
    (2500.0, 1, None), (25000.0, 1, None), (250000.0, 1, None),
    (25000.0, 2, None), (250000.0, 2, None), (250000.0, 1, "deep = 1"),
    (0.0, 1, None), (-1.0, 1, None), (-1.0, 2, None), (-1.0, 1, "deep = 1")])
def test_three_plans_return_identical_rows(engines, probes, tol, k, where):
    outs = {key: e.query_points_with_tolerance(probes, tol, where=where, k=k)
            for key, e in engines.items()}
    cols = outs["one_pass"].columns
    assert all(o.columns == cols for o in outs.values())
    got = {key: _rows(o) for key, o in outs.items()}
    assert got["one_pass"] == got["cover_join"] == got["cover_join_bcast"]
    rows = [dict(zip(cols, r)) for r in got["one_pass"]]
    assert max(got["one_pass"].values()) == 1  # no duplicate rows
    near = [r for r in rows if r["point_distance"] is not None]
    n_hit = len({r["point_id"] for r in rows
                 if r["point_distance"] is None})
    assert n_hit > 300
    if tol == 0:
        assert not near
        return
    assert near, "probe set must contain tolerance matches"
    assert all(0 < r["point_distance"] <= (tol if tol > 0 else math.inf)
               for r in near)
    per_deep = Counter((r["point_id"], r["deep"]) for r in near)
    assert max(per_deep.values()) == k
    if where:
        keep = {r.region_id for r in engines["one_pass"].boundaries
                .filter(where).select("region_id").collect()}
        assert {r["region_id"] for r in rows} <= keep
    # null coordinates return nothing; far misses only at -1, where
    # every miss gets k regions per level
    n = probes.count()
    far = set(range(N_RANDOM + len(TOLS) * N_NEAR,
                    N_RANDOM + len(TOLS) * N_NEAR + N_FAR))
    ids = {r["point_id"] for r in rows}
    assert not ids & {n - 3, n - 2, n - 1}
    if tol > 0:
        assert not ids & far
    else:
        assert {pd[0] for pd in per_deep} >= far
        assert set(per_deep.values()) == {k}


def test_near_radius_probes_reach_the_ambiguous_branch(engines,
                                                       monkeypatch):
    """The near-radius probes run the exact 24-gon test (planar
    distance between the inscribed and escribed radii), and the test
    both keeps and drops candidates."""
    I = engines["one_pass"]._boundary_index()[0].value
    verdicts = []
    real = engine_mod._ambiguous_circle_keep

    def spy(*args, **kw):
        out = real(*args, **kw)
        verdicts.extend(out.tolist())
        return out

    monkeypatch.setattr(engine_mod, "_ambiguous_circle_keep", spy)
    for i, tol in enumerate(TOLS):
        px, py = _near_radius(tol, N_NEAR, seed=i)
        engine_mod._tolerance_pairs(I, px, py, tol, BASE_RES)
    assert True in verdicts and False in verdicts


def test_one_pass_plan_shape(spark, engines, probes, tmp_path):
    path = str(tmp_path / "probes.parquet")
    probes.write.parquet(path)
    pts = spark.read.parquet(path)
    n_rdd = _nodes(_plan(engines["one_pass"].query_points(pts)),
                   r"Scan ExistingRDD\s*")
    for tol in (25000.0, -1.0):
        one = _plan(engines["one_pass"].query_points_with_tolerance(
            pts, tol, k=2))
        assert _nodes(one, r"Scan parquet\s*") == 1
        assert _nodes(one, "ArrowEvalPython") == 1
        assert _nodes(one, "BroadcastExchange") == 1  # the props dim
        for name in ("Exchange", "MapInPandas", "Window", "Union"):
            assert _nodes(one, name) == 0, (tol, name)
        # no checkpointed Q1: the only in-memory scan is the props
        # dim's, as in Q1 with props
        assert _nodes(one, r"Scan ExistingRDD\s*") == n_rdd
    # the fallback: a checkpoint job builds Q1, then cover and distance
    # MapInPandas, the min-agg Window and the Union with the Q1 rows
    sc = spark.sparkContext
    sc.setJobGroup("q2-fallback-plan", "fallback plan construction")
    try:
        two = _plan(engines["cover_join"].query_points_with_tolerance(
            pts, 25000.0))
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(
            "q2-fallback-plan"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n_jobs > 0
    assert _nodes(two, r"Scan ExistingRDD\s*") > n_rdd
    assert _nodes(two, "MapInPandas") == 2
    for name in ("Window", "Union"):
        assert _nodes(two, name) == 1, name


def _square(x0, y0, x1, y1):
    return [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]


@pytest.fixture(scope="module")
def tie_engines(spark, tmp_path_factory):
    """Squares mirrored about lng 0: a probe on that meridian is
    bit-exactly as far from the west square as from the east one, at
    both levels. The east squares come first, so they get the smaller
    region_ids."""
    feats = [("0", "120000", _square(1, -0.5, 2, 0.5)),
             ("0", "110000", _square(-2, -0.5, -1, 0.5)),
             ("0", "130000", _square(3, -0.5, 4, 0.5)),
             ("1", "120100", _square(1, -0.5, 2, 0.5)),
             ("1", "110100", _square(-2, -0.5, -1, 0.5))]
    lines = ['{"type":"FeatureCollection","features":[']
    for i, (deep, fid, ring) in enumerate(feats):
        coords = ",".join(f"[{x},{y}]" for x, y in ring)
        lines.append(
            '{"type":"Feature","properties":{'
            f'"id":"{fid}","pid":"0","deep":"{deep}","name":"N{fid}",'
            f'"ext_path":"N{fid}","geo_wkt":"POINT (0 0)"'
            '},"geometry":{"type":"Polygon","coordinates":[['
            + coords + "]]}}" + ("," if i < len(feats) - 1 else ""))
    lines.append("]}")
    path = tmp_path_factory.mktemp("q2tie") / "tie.json"
    path.write_text("\n".join(lines))
    return _variants(spark, SpatialEngine.from_geojson(
        spark, str(path), base_res=BASE_RES))


def test_distance_ties_break_by_region_id(spark, tie_engines):
    pts = spark.createDataFrame(
        [(i, 0.0, y) for i, y in enumerate((-0.4, -0.1, 0.0, 0.2, 0.45))],
        "point_id long, lng double, lat double")
    ids = {r.id: r.region_id for r in
           tie_engines["one_pass"].boundaries.select("id", "region_id")
           .collect()}
    for tol, k in ((250000.0, 1), (250000.0, 2), (-1.0, 1), (-1.0, 2)):
        got = {key: _rows(e.query_points_with_tolerance(pts, tol, k=k)
                          .select("point_id", "deep", "region_id",
                                  "point_distance"))
               for key, e in tie_engines.items()}
        assert got["one_pass"] == got["cover_join"] == got["cover_join_bcast"]
        best = {}
        for pid, deep, region, d in got["one_pass"]:
            best.setdefault((pid, deep), []).append((d, region))
        assert len(best) == 10
        for (pid, deep), found in best.items():
            dists = {d for d, _ in found}
            assert len(dists) == 1 and math.isclose(
                dists.pop(), M_PER_DEG, rel_tol=1e-3)
            pair = ({ids["120000"], ids["110000"]} if deep == 0
                    else {ids["120100"], ids["110100"]})
            if k == 1:  # the exact tie goes to the smaller region_id
                assert [r for _, r in found] == [min(pair)]
            else:
                assert {r for _, r in found} == pair
