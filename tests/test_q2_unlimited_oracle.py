"""Q2 with tolerance -1 against a brute-force numpy oracle on the
generated `dense_engine` set (no external files).

The oracle applies the distance definition directly to every kind-0
tile's distance-fit segments: per tile, the planar and the cos-scaled
argmin (`predicates.nearest_on_segments_idx` / `_scaled_idx`, the probe
x unrolled to within 180° of the tile); per region, each argmin
min-reduced across its tiles in its own metric with ties broken by
(d, x, y); the region's distance is haversine at both winners under
the 1e-12 guard (`geodesic_refine`: the min over tiles of the per-tile
meters); per deep, the first k regions by (distance, region_id).
Probes miss the extent: just outside its warped edges, up to ~50°
outside on every side, across the antimeridian and at lat 75-85.

The search visits tiles in order of a great-circle lower bound
(`engine._gc_bound`). Over this extent every antimeridian probe is
more than 90° of longitude from every tile the other way round, so an
unwrapped bound would be flat and the search would still visit every
tile it needs; the second test therefore checks the bound itself
against each tile's distance. The third runs the search without Spark
on small random indexes seen from near the pole, where a region's
planar winner can sit in a tile that the bound alone would not visit.
Reference semantics: QueryPointWithTolerance with -1
(AreaCityQuery.java:100-163).
"""
from __future__ import annotations

import numpy as np
import pytest

from areacity_query_geometry_spark import engine as engine_mod
from areacity_query_geometry_spark import fixtures_dense as fd
from areacity_query_geometry_spark import tiler
from areacity_query_geometry_spark.engine import SpatialEngine
from areacity_query_geometry_spark.geom import distance, predicates


def _probes() -> list[tuple[float, float]]:
    rng = np.random.default_rng(23)
    pts = []
    # just outside the warped edges (the warp moves them by < 0.3°)
    for _ in range(12):
        y = rng.uniform(fd.Y0, fd.Y1)
        pts.append((fd.X0 - rng.uniform(0.3, 2.0), y))
        pts.append((fd.X1 + rng.uniform(0.3, 2.0), y))
        x = rng.uniform(fd.X0, fd.X1)
        pts.append((x, fd.Y0 - rng.uniform(0.3, 2.0)))
        pts.append((x, fd.Y1 + rng.uniform(0.3, 2.0)))
    # up to ~50° outside on every side
    for _ in range(8):
        y = rng.uniform(fd.Y0 - 20, fd.Y1 + 20)
        pts.append((fd.X0 - rng.uniform(5, 50), y))
        pts.append((fd.X1 + rng.uniform(5, 40), y))
        x = rng.uniform(fd.X0 - 20, fd.X1 + 20)
        pts.append((x, fd.Y0 - rng.uniform(5, 50)))
        pts.append((x, fd.Y1 + rng.uniform(5, 30)))
    # across the antimeridian, and near the pole
    for _ in range(15):
        pts.append((-rng.uniform(170, 178), rng.uniform(fd.Y0 - 10,
                                                        fd.Y1 + 10)))
        pts.append((rng.uniform(fd.X0 - 60, fd.X1 + 60),
                    rng.uniform(75, 85)))
    return pts


def _oracle(I: dict, px, py, k: int, keep, refine: bool) -> dict:
    """{(probe, deep): [(region, dist), ...]} in rank order."""
    fptr = I["fseg_ptr"]
    tiles = [t for t in range(len(I["region"]))
             if I["kind"][t] == 0 and fptr[t + 1] > fptr[t]
             and (keep is None or I["region"][t] in keep)]
    best: dict[int, list] = {}  # region → per-probe winners
    for t in tiles:
        segs = engine_mod._seg_rows(I["SEG"],
                                    I["fseg"][fptr[t]:fptr[t + 1]])
        cx = (I["minx"][t] + I["maxx"][t]) / 2.0
        pxa = px - 360.0 * np.round((px - cx) / 360.0)
        nx, ny, d, jn = predicates.nearest_on_segments_idx(pxa, py, segs)
        sx, sy, sd, js = predicates.nearest_on_segments_scaled_idx(
            pxa, py, segs)
        if refine:
            ax, ay, bx, by = (segs[:, i][None, :] for i in range(4))
            P, Q = pxa[:, None], py[:, None]
            hav = distance.haversine
            jp = np.minimum(np.minimum(hav(ax, ay, P, Q), hav(bx, by, P, Q)),
                            hav((ax + bx) / 2, (ay + by) / 2, P, Q)
                            ).argmin(axis=1)
            v = np.minimum(hav(nx, ny, px, py), hav(sx, sy, px, py))
            for j in (jp, jn, js):
                v = np.minimum(v, engine_mod._refine_hav_on_segments(
                    segs[j], px, py))
        else:
            v = np.full(len(px), np.nan)
        r = int(I["region"][t])
        new = [(d[i], nx[i], ny[i], sd[i], sx[i], sy[i], v[i])
               for i in range(len(px))]
        if r not in best:
            best[r] = new
            continue
        for i, (b, c) in enumerate(zip(best[r], new)):
            best[r][i] = (min(b[:3], c[:3]) + min(b[3:6], c[3:6])
                          + (min(b[6], c[6]),))
    deep_of = {int(I["region"][t]): int(I["deep"][t]) for t in tiles}
    out: dict = {}
    for r, per in best.items():
        for i, (_, nx, ny, _, sx, sy, v) in enumerate(per):
            if refine:
                dist = v
            else:
                d0 = float(distance.haversine(nx, ny, px[i], py[i]))
                d1 = float(distance.haversine(sx, sy, px[i], py[i]))
                dist = d1 if d1 < d0 * (1.0 - 1e-12) else d0
            out.setdefault((i, deep_of[r]), []).append((dist, r))
    return {key: [(r, d) for d, r in sorted(v)[:k]]
            for key, v in out.items()}


@pytest.fixture(scope="module")
def probe_df(spark):
    return spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(_probes())],
        "point_id long, lng double, lat double")


@pytest.fixture(scope="module", params=[False, True],
                ids=["default", "geodesic_refine"])
def mode_engine(request, spark, dense_engine):
    if not request.param:
        return dense_engine
    return SpatialEngine(spark, dense_engine.boundaries, dense_engine.tiles,
                         dense_engine.base_res, geodesic_refine=True)


@pytest.mark.parametrize("k,where", [(1, None), (2, None), (1, "deep = 1")])
def test_unlimited_matches_brute_force_oracle(mode_engine, probe_df, k, where):
    rows = mode_engine.query_points_with_tolerance(
        probe_df, -1, where=where, k=k).select(
        "point_id", "deep", "region_id", "point_distance").collect()
    assert all(r.point_distance is not None for r in rows)  # all misses
    got: dict = {}
    for r in rows:
        got.setdefault((r.point_id, int(r.deep)), []).append(
            (r.region_id, r.point_distance))
    pts = _probes()
    px = np.array([p[0] for p in pts])
    py = np.array([p[1] for p in pts])
    keep = mode_engine._keep_region_ids(where)
    want = _oracle(mode_engine._boundary_index()[0].value, px, py, k,
                   None if keep is None else set(keep.tolist()),
                   mode_engine.geodesic_refine)
    assert len(want) == len(pts) * (1 if where else 3)
    assert set(got) == set(want)
    for key, w in want.items():
        g = sorted(got[key], key=lambda rd: (rd[1], rd[0]))
        assert [r for r, _ in g] == [r for r, _ in w], key
        np.testing.assert_allclose([d for _, d in g], [d for _, d in w],
                                   rtol=1e-9, err_msg=str(key))


def test_bound_never_exceeds_a_tile_distance(dense_engine):
    """`_gc_bound` to a tile's CLIP_EPS-expanded rect is at most the
    haversine at the tile's planar and scaled nearest points, for every
    probe and kind-0 tile."""
    I = dense_engine._boundary_index()[0].value
    pts = _probes()
    px = np.array([p[0] for p in pts])
    py = np.array([p[1] for p in pts])
    fptr, eps = I["fseg_ptr"], tiler.CLIP_EPS
    n = 0
    for t in np.nonzero((I["kind"] == 0) & (fptr[1:] > fptr[:-1]))[0]:
        segs = engine_mod._seg_rows(I["SEG"],
                                    I["fseg"][fptr[t]:fptr[t + 1]])
        cx = (I["minx"][t] + I["maxx"][t]) / 2.0
        pxa = px - 360.0 * np.round((px - cx) / 360.0)
        nx, ny, _ = predicates.nearest_on_segments(pxa, py, segs)
        sx, sy, _ = predicates.nearest_on_segments_scaled(pxa, py, segs)
        d = np.minimum(distance.haversine(nx, ny, px, py),
                       distance.haversine(sx, sy, px, py))
        lb = engine_mod._gc_bound(px, py, I["minx"][t] - eps,
                                  I["miny"][t] - eps, I["maxx"][t] + eps,
                                  I["maxy"][t] + eps)
        assert (lb <= d).all(), t
        n += 1
    assert n > 500


def _polar_index(seed: int):
    """A random boundary index of 3-11 one-to-three-segment tiles of
    three regions at lat 50-81, and one probe at lat 80-89."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(3, 12))
    x0, y0 = rng.uniform(-60, 60, n), rng.uniform(50, 78, n)
    x1, y1 = x0 + rng.uniform(0.5, 4, n), y0 + rng.uniform(0.5, 3, n)
    cnt = rng.integers(1, 4, n)
    t = np.repeat(np.arange(n), cnt)
    segs = rng.uniform(np.column_stack((x0, y0, x0, y0))[t],
                       np.column_stack((x1, y1, x1, y1))[t])
    I = {"kind": np.zeros(n, np.int64), "deep": np.zeros(n, np.int64),
         "region": rng.integers(0, 3, n), "minx": x0, "miny": y0,
         "maxx": x1, "maxy": y1,
         "SEG": segs, "fseg": np.arange(len(t)),
         "fseg_ptr": np.concatenate(([0], np.cumsum(cnt)))}
    return I, rng.uniform(-30, 30, 1), rng.uniform(80, 89, 1)


def test_search_matches_oracle_near_the_pole():
    for seed in range(1500):
        I, px, py = _polar_index(seed)
        _, reg, dist = engine_mod._nearest_per_deep(
            *engine_mod._unlimited_pairs(I, px, py, 1), 1)
        ((want_reg, want_dist),) = _oracle(I, px, py, 1, None,
                                           False)[(0, 0)]
        assert int(reg[0]) == want_reg, seed
        np.testing.assert_allclose(dist[0], want_dist, rtol=1e-9,
                                   err_msg=str(seed))
