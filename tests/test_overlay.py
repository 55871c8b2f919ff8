"""Overlay-area join (overlay.py): unit kernels + exact end-to-end
equality against rect-algebra brute force on the fixture world."""
import numpy as np
import pytest

from areacity_query_geometry_spark import fixtures, grid, overlay, tiler
from areacity_query_geometry_spark.engine import _build_boundary_index
from areacity_query_geometry_spark.geom import core, predicates, wkb


def _ring(pts):
    return core.ensure_closed(np.asarray(pts, dtype=np.float64))


def _index(pieces):
    """Boundary index with one tile per piece (a list of (rings, rect));
    tile i is pieces[i]."""
    segs = [predicates.segments_of_rings(rings) for rings, _ in pieces]
    rects = np.array([rect for _, rect in pieces], dtype=np.float64)
    n = len(pieces)
    tiles = {"cell_id": np.arange(n), "region_id": np.zeros(n),
             "deep": np.zeros(n), "kind": np.zeros(n),
             "minx": rects[:, 0], "miny": rects[:, 1],
             "maxx": rects[:, 2], "maxy": rects[:, 3]}
    return _build_boundary_index(
        tiles, np.array([len(s) for s in segs]), np.vstack(segs))


def _areas(rings, windows):
    """`overlay.piece_areas` of one piece over (k, 4) windows."""
    w = np.asarray(windows, dtype=np.float64)
    b = np.array([min(r[:, 0].min() for r in rings),
                  min(r[:, 1].min() for r in rings),
                  max(r[:, 0].max() for r in rings),
                  max(r[:, 1].max() for r in rings)])
    return overlay.piece_areas(_index([(rings, b)]),
                               np.zeros(len(w), np.int64),
                               w[:, 0], w[:, 1], w[:, 2], w[:, 3])


class TestKernels:
    """Ring roles: the tile WKB flattens them away, and the even-odd
    band kernel needs none, whatever the ring order and orientation."""

    def test_ring_signs_shell_hole_same_orientation(self):
        # fixture convention: hole ring has the SAME (CCW) orientation
        # as the shell — the sign must come from nesting, not winding
        shell = _ring([(0, 0), (10, 0), (10, 10), (0, 10)])
        hole = _ring([(2, 2), (3, 2), (3, 3), (2, 3)])
        win = [(0.0, 0.0, 10.0, 10.0), (2.5, 0.0, 10.0, 2.5)]
        assert _areas([shell, hole], win).tolist() == [99.0, 18.75 - 0.25]
        assert _areas([hole, shell], win).tolist() == [99.0, 18.75 - 0.25]

    def test_ring_signs_island_in_lake(self):
        shell = _ring([(0, 0), (10, 0), (10, 10), (0, 10)])
        lake = _ring([(1, 1), (9, 1), (9, 9), (1, 9)])
        island = _ring([(4, 4), (6, 4), (6, 6), (4, 6)])
        assert _areas([shell, lake, island],
                      [(0.0, 0.0, 10.0, 10.0), (5.0, 5.0, 6.0, 6.0),
                       (3.0, 3.0, 5.0, 5.0)]).tolist() == [40.0, 1.0, 1.0]

    def test_ring_signs_single(self):
        assert _areas([_ring([(0, 0), (1, 0), (1, 1), (0, 1)])],
                      [(0.0, 0.0, 1.0, 1.0)]).tolist() == [1.0]

    def test_empty_windows_and_pairs(self):
        sq = [_ring([(0, 0), (4, 0), (4, 4), (0, 4)])]
        assert _areas(sq, [(1.0, 1.0, 1.0, 3.0), (1.0, 3.0, 2.0, 1.0),
                           (5.0, 5.0, 6.0, 6.0)]).tolist() == [0.0] * 3
        assert len(_areas(sq, np.zeros((0, 4)))) == 0


def _wiggly(rng, cx, cy, r, n, ccw):
    """A star-shaped ring with n oblique edges, radius within
    r · [0.85, 1.2]; CCW or CW."""
    a = np.linspace(0, 2 * np.pi, n, endpoint=False)
    rr = r * (1 + 0.15 * np.sin(3 * a + rng.rand()) + 0.05 * rng.rand(n))
    pts = np.c_[cx + rr * np.cos(a), cy + rr * np.sin(a)]
    return core.ensure_closed(pts if ccw else pts[::-1])


def _shoelace(vx, vy, offs):
    """Signed area per CSR slice of open rings, each about its first
    vertex (so that coordinates near 100° lose no digits to
    cancellation)."""
    out = np.zeros(len(offs) - 1)
    for i in range(len(out)):
        x, y = vx[offs[i]:offs[i + 1]], vy[offs[i]:offs[i + 1]]
        if len(x):
            x, y = x - x[0], y - y[0]
            out[i] = 0.5 * np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y)
    return out


def _clip_oracle(rings, w):
    """Σ over rings of the signed shoelace area of the ring clipped to
    each window (`predicates.clip_ring_to_rects`): shells CCW and holes
    CW by construction, so the sum is the area of the piece."""
    tot = np.zeros(len(w))
    for r in rings:
        tot += _shoelace(*predicates.clip_ring_to_rects(
            r, w[:, 0], w[:, 1], w[:, 2], w[:, 3]))
    return tot


def _windows(rng, rings, rect, k):
    """k windows inside rect: sides at random x/y and at vertex
    coordinates, so sides cross diagonal edges and y0/y1 land on
    vertex y's."""
    v = np.vstack(rings)
    v = v[(v[:, 0] > rect[0]) & (v[:, 0] < rect[2])
          & (v[:, 1] > rect[1]) & (v[:, 1] < rect[3])]
    c = rect[0] + rng.rand(k, 4) * (rect[2] - rect[0])
    c[:, 1::2] = rect[1] + rng.rand(k, 2) * (rect[3] - rect[1])
    if len(v):
        pick = v[rng.randint(0, len(v), (k, 4))]
        on = rng.rand(k, 4) < 0.5
        c[:, 0::2] = np.where(on[:, 0::2], pick[:, 0::2, 0], c[:, 0::2])
        c[:, 1::2] = np.where(on[:, 1::2], pick[:, 1::2, 1], c[:, 1::2])
    return np.c_[np.minimum(c[:, 0], c[:, 2]), np.minimum(c[:, 1], c[:, 3]),
                 np.maximum(c[:, 0], c[:, 2]), np.maximum(c[:, 1], c[:, 3])]


class TestBandIdentity:
    """`overlay.piece_areas` (Σ band height × mid-line length) against
    the per-ring clip oracle on generated curved pieces, and bit for
    bit on dyadic rectilinear ones."""

    @staticmethod
    def _nested(rng, cx, cy):
        """CCW shell, CW lake, CCW island in the lake: radii and centre
        offsets keep the rings disjoint and nested."""
        shell = _wiggly(rng, cx, cy, 4.0, 40, True)
        hx, hy = cx + 0.6 * rng.rand() - 0.3, cy + 0.6 * rng.rand() - 0.3
        lake = _wiggly(rng, hx, hy, 1.6, 20, False)
        island = _wiggly(rng, hx + 0.4 * rng.rand() - 0.2,
                         hy + 0.4 * rng.rand() - 0.2, 0.4, 12, True)
        return [shell, lake, island]

    def test_curved_pieces_vs_clip_oracle(self):
        rng = np.random.RandomState(5)
        for _ in range(40):
            rings = self._nested(rng, 5.0, 5.0)
            if rng.rand() < 0.5:
                rings = rings[:2]
            rect = (0.0, 0.0, 10.0, 10.0)
            w = _windows(rng, rings, rect, 30)
            got = overlay.piece_areas(
                _index([(rings, rect)]), np.zeros(len(w), np.int64),
                w[:, 0], w[:, 1], w[:, 2], w[:, 3])
            np.testing.assert_allclose(got, _clip_oracle(rings, w),
                                       rtol=0, atol=1e-12)

    def test_tiler_cut_pieces_vs_clip_oracle(self):
        """Pieces as the tiler stores them: CLIP_EPS window runs and
        Sutherland–Hodgman bridges between the clip's disjoint parts.
        Windows lie inside the exact cell, as the overlay kernel's."""
        rng = np.random.RandomState(9)
        res = 6
        w6 = grid.cell_width(res)
        n_pieces = n_runs = 0
        for _ in range(30):
            cid = int(grid.pack(res, 50 + rng.randint(0, 2),
                                20 + rng.randint(0, 2)))
            cell = grid.cell_bounds(cid)
            cx = cell[0] + (rng.rand() - 0.5) * w6
            cy = cell[1] + (rng.rand() - 0.5) * w6
            geom = {"type": "Polygon", "rings": self._nested(
                rng, 0.0, 0.0)}
            geom["rings"] = [r * (w6 / 5.0) + (cx, cy)
                             for r in geom["rings"]]
            b = tiler.clip_geom_to_cell(geom, cid)
            if b is None:
                continue
            n_pieces += 1
            rings = core.all_rings(wkb.loads(b))
            s = predicates.segments_of_rings(rings)
            e = tiler.CLIP_EPS
            n_runs += bool(np.any(
                ((s[:, 0] == s[:, 2])
                 & ((s[:, 0] == cell[0] - e) | (s[:, 0] == cell[2] + e)))
                | ((s[:, 1] == s[:, 3])
                   & ((s[:, 1] == cell[1] - e) | (s[:, 1] == cell[3] + e)))))
            w = _windows(rng, rings, cell, 30)
            got = overlay.piece_areas(
                _index([(rings, cell)]), np.zeros(len(w), np.int64),
                w[:, 0], w[:, 1], w[:, 2], w[:, 3])
            np.testing.assert_allclose(got, _clip_oracle(rings, w),
                                       rtol=0, atol=1e-12)
        assert n_pieces >= 20 and n_runs >= 20

    def test_dyadic_rectilinear_bitexact(self):
        """Rect shell with a rect hole and an island, coordinates and
        windows multiples of 2^-6: every band term is exact, so the
        areas equal rect algebra bit for bit."""
        rng = np.random.RandomState(3)

        def box(x0, y0, x1, y1, ccw=True):
            r = _ring([(x0, y0), (x1, y0), (x1, y1), (x0, y1)])
            return r if ccw else r[::-1]

        def ov(b, w):
            return (np.maximum(0.0, np.minimum(b[2], w[:, 2])
                               - np.maximum(b[0], w[:, 0]))
                    * np.maximum(0.0, np.minimum(b[3], w[:, 3])
                                 - np.maximum(b[1], w[:, 1])))

        for _ in range(50):
            q = rng.randint(0, 64, 6) / 64.0
            shell = (q[0], q[1], 6.0 + q[2], 6.0 + q[3])
            hole = (1.0 + q[4], 1.0 + q[5], 4.5, 4.25)
            isle = (2.0, 2.0, 3.0 + q[0], 3.0 + q[1])
            rings = [box(*shell), box(*hole, ccw=bool(rng.rand() < 0.5)),
                     box(*isle)]
            c = rng.randint(0, 8 * 64, (30, 4)) / 64.0
            w = np.c_[np.minimum(c[:, 0], c[:, 2]),
                      np.minimum(c[:, 1], c[:, 3]),
                      np.maximum(c[:, 0], c[:, 2]),
                      np.maximum(c[:, 1], c[:, 3])]
            got = overlay.piece_areas(
                _index([(rings, shell)]), np.zeros(len(w), np.int64),
                w[:, 0], w[:, 1], w[:, 2], w[:, 3])
            want = ov(shell, w) - ov(hole, w) + ov(isle, w)
            assert got.tolist() == want.tolist()
            assert got.tolist() == _clip_oracle(
                [box(*shell), box(*hole, ccw=False), box(*isle)],
                w).tolist()

    def test_many_tiles_one_call(self):
        """Pairs over several tiles in one call give each pair its own
        tile's area."""
        rng = np.random.RandomState(17)
        pieces = [(self._nested(rng, 5.0, 5.0), (0.0, 0.0, 10.0, 10.0))
                  for _ in range(4)]
        I = _index(pieces)
        tiles = rng.randint(0, 4, 60)
        w = _windows(rng, pieces[0][0], pieces[0][1], 60)
        got = overlay.piece_areas(I, tiles, w[:, 0], w[:, 1], w[:, 2],
                                  w[:, 3])
        for t in range(4):
            m = tiles == t
            np.testing.assert_allclose(
                got[m], _clip_oracle(pieces[t][0], w[m]), rtol=0,
                atol=1e-12)


def brute_overlay(px0, py0, px1, py1):
    """Rect-algebra ground truth straight from the fixture definition."""
    out = {}
    for ordn, code, deep, parts, hole in fixtures.region_rows():
        a = 0.0
        for (x0, y0, x1, y1) in parts:
            a += max(0.0, min(x1, px1) - max(x0, px0)) \
                * max(0.0, min(y1, py1) - max(y0, py0))
            if hole and hole[0] >= x0 and hole[2] <= x1 \
                    and hole[1] >= y0 and hole[3] <= y1:
                a -= max(0.0, min(hole[2], px1) - max(hole[0], px0)) \
                    * max(0.0, min(hole[3], py1) - max(hole[1], py0))
        if a > 0.0:
            out[ordn] = a
    return out


@pytest.fixture(scope="module")
def world_engine(spark):
    from areacity_query_geometry_spark import tiler
    from areacity_query_geometry_spark.engine import SpatialEngine

    boundaries = fixtures.boundaries_df(spark).cache()
    tiles = tiler.build_tiles(boundaries, base_res=7, max_res=9).cache()
    tiles.count()
    return SpatialEngine(spark, boundaries, tiles, base_res=7)


def run_overlay(spark, eng, windows, **kw):
    probes = spark.createDataFrame(
        [(int(i), float(a), float(b), float(c), float(d))
         for i, (a, b, c, d) in enumerate(windows)],
        "probe_id long, x0 double, y0 double, x1 double, y1 double")
    rows = overlay.overlay_rect_area(eng, probes, **kw).collect()
    got = {}
    for r in rows:
        got.setdefault(int(r["probe_id"]), {})[int(r["region_id"])] = \
            float(r["area"])
    return got


class TestOverlayArea:
    def test_targeted_windows_exact(self, spark, world_engine):
        windows = [
            (5.0, 5.0, 10.0, 10.0),       # exactly district D11
            (1.5, 1.5, 4.0, 4.0),         # straddles the hole
            (2.25, 2.25, 2.75, 2.75),     # entirely inside the hole
            (20.0, 0.0, 25.0, 5.0),       # edge-touches P00 (area 0)
            (36.5, 0.5, 39.5, 2.5),       # covers one S1 part
            (0.5, 36.5, 41.0, 39.5),      # other S1 part + world edge
            (-2.0, -2.0, 0.0, 0.0),       # touches world corner only
            (38.0, 38.0, 52.0, 52.0),     # mostly outside the world
        ]
        got = run_overlay(spark, world_engine, windows)
        for i, (a, b, c, d) in enumerate(windows):
            assert got.get(i, {}) == brute_overlay(a, b, c, d), \
                f"window {i} {(a, b, c, d)}"

    def test_hole_window_values(self, spark, world_engine):
        # straddling window: P00/D00 lose exactly the 1x1 hole overlap
        got = run_overlay(spark, world_engine, [(1.5, 1.5, 4.0, 4.0)])[0]
        assert got[1] == 6.25 - 1.0       # P00
        # inside-hole window: P00/D00 absent, city C00 still covers
        got2 = run_overlay(
            spark, world_engine, [(2.25, 2.25, 2.75, 2.75)])[0]
        assert 1 not in got2
        assert got2[5] == 0.25            # C00: 0.5 * 0.5

    def test_pseudorandom_windows_exact(self, spark, world_engine):
        rng = np.random.RandomState(7)
        windows = []
        for _ in range(48):
            x0 = rng.randint(0, 2560) / 64.0
            y0 = rng.randint(0, 2560) / 64.0
            wdt = (1 + rng.randint(0, 96)) / 8.0
            hgt = (1 + rng.randint(0, 96)) / 8.0
            windows.append((x0, y0, x0 + wdt, y0 + hgt))
        got = run_overlay(spark, world_engine, windows)
        for i, (a, b, c, d) in enumerate(windows):
            assert got.get(i, {}) == brute_overlay(a, b, c, d), \
                f"window {i} {(a, b, c, d)}"

    def test_province_total_area_roundtrip(self, spark, dense_engine):
        """Curved geometry end-to-end (the generated dense set's wiggly
        oblique edges): a window covering the whole set must give, per
        region, exactly that region's own polygon area (shell minus
        holes, from the source WKB) — checking the tile partition, the
        exact-cell re-clip (CLIP_EPS undo) and the ring roles on
        non-rectilinear pieces in one identity. The lattice spans
        73–135 × 18–54 and its warp moves edges by < 0.3°, so the
        window is that extent padded by 1°."""
        from areacity_query_geometry_spark.geom import core as gcore

        rows = dense_engine.boundaries.select(
            "region_id", "geom_wkb").collect()
        want = {}
        for r in rows:
            g = wkb.loads(bytes(r["geom_wkb"]))
            a = 0.0
            for rings in gcore.polygons_of(g):
                a += abs(gcore.ring_area(rings[0]))
                for h in rings[1:]:
                    a -= abs(gcore.ring_area(h))
            want[int(r["region_id"])] = a
        got = run_overlay(spark, dense_engine,
                          [(72.0, 17.0, 136.0, 55.0)])[0]
        assert len(got) == 84
        assert set(got) == {k for k, v in want.items() if v > 0}
        for rid, area in got.items():
            assert area == pytest.approx(want[rid], rel=1e-9), rid

    def test_where_filter(self, spark, world_engine):
        probes = spark.createDataFrame(
            [(0, 1.5, 1.5, 4.0, 4.0)],
            "probe_id long, x0 double, y0 double, x1 double, y1 double")
        rows = overlay.overlay_rect_area(
            world_engine, probes, where="deep = 0").collect()
        assert {int(r["region_id"]) for r in rows} == {1}

    def test_real_geometry_res_independent(self, spark, dense_engines_6_8):
        """Random partial windows over curved geometry (the generated
        dense set): engines at base_res 6 and 8 must report the same
        (window, region) areas to rel 1e-9 — the area is a property of
        the geometry, not of the tile grid (the overlay kernel's
        exact-cell re-clip undoes CLIP_EPS, and zero-width bridge runs
        are area-neutral)."""
        eng6, eng8 = dense_engines_6_8
        rng = np.random.RandomState(13)
        wins = []
        for _ in range(40):
            a = 100.0 + rng.rand() * 30.0
            b = 20.0 + rng.rand() * 20.0
            wins.append((a, b, a + 10.0 ** (rng.rand() * 2 - 1),
                         b + 10.0 ** (rng.rand() * 2 - 1)))
        r6 = run_overlay(spark, eng6, wins)
        r8 = run_overlay(spark, eng8, wins)
        assert len(r6) == len(wins)
        assert set(r6) == set(r8)
        for pid in r6:
            assert set(r6[pid]) == set(r8[pid]), pid
            for rid, v in r6[pid].items():
                assert v == pytest.approx(r8[pid][rid], rel=1e-9), \
                    (pid, rid)


class TestDecomposition:
    """max_cells_per_side splits huge windows into grid-aligned
    sub-windows; contributions must be BIT-identical to the
    undecomposed run (sub-window edges lie on cell lines and tiles
    never cross cell lines — only the summation grouping changes, and
    the dyadic sums are order-independent)."""

    def test_pseudorandom_bitexact_all_chunk_sizes(
            self, spark, world_engine):
        rng = np.random.RandomState(11)
        windows = []
        for _ in range(32):
            x0 = rng.randint(0, 2560) / 64.0
            y0 = rng.randint(0, 2560) / 64.0
            wdt = (1 + rng.randint(0, 96)) / 8.0
            hgt = (1 + rng.randint(0, 96)) / 8.0
            windows.append((x0, y0, x0 + wdt, y0 + hgt))
        base = run_overlay(spark, world_engine, windows)
        for m in (1, 3, 16):
            got = run_overlay(spark, world_engine, windows,
                              max_cells_per_side=m)
            assert got == base, f"max_cells_per_side={m}"

    def test_world_window_bitexact(self, spark, world_engine):
        # a window covering the whole fixture world, decomposed into
        # single-cell sub-windows — the extreme fan-out case
        windows = [(-2.0, -2.0, 52.0, 52.0)]
        base = run_overlay(spark, world_engine, windows)
        got = run_overlay(spark, world_engine, windows,
                          max_cells_per_side=1)
        assert got == base
        for rid, area in base[0].items():
            assert area == brute_overlay(*windows[0])[rid]

    def test_rejects_bad_chunk(self, spark, world_engine):
        probes = spark.createDataFrame(
            [(0, 1.0, 1.0, 2.0, 2.0)],
            "probe_id long, x0 double, y0 double, x1 double, y1 double")
        with pytest.raises(ValueError):
            overlay.overlay_rect_area(world_engine, probes,
                                      max_cells_per_side=0)


class TestRectDecompose:
    """Scanline decomposition of rectilinear polygons: exact, disjoint,
    area-preserving."""

    @staticmethod
    def _area(rects):
        return sum((x1 - x0) * (y1 - y0) for x0, y0, x1, y1 in rects)

    @staticmethod
    def _disjoint(rects):
        for i in range(len(rects)):
            for j in range(i + 1, len(rects)):
                a, b = rects[i], rects[j]
                if min(a[2], b[2]) > max(a[0], b[0]) and \
                        min(a[3], b[3]) > max(a[1], b[1]):
                    return False
        return True

    def test_l_shape(self):
        ring = np.array([(0, 0), (4, 0), (4, 2), (2, 2), (2, 5),
                         (0, 5), (0, 0)], dtype=np.float64)
        rects = overlay.rect_decompose([ring])
        assert self._area(rects) == 4 * 2 + 2 * 3
        assert self._disjoint(rects)

    def test_donut(self):
        shell = np.array([(0, 0), (6, 0), (6, 6), (0, 6), (0, 0)],
                         dtype=np.float64)
        hole = np.array([(2, 2), (4, 2), (4, 4), (2, 4), (2, 2)],
                        dtype=np.float64)
        rects = overlay.rect_decompose([shell, hole])
        assert self._area(rects) == 36 - 4
        assert self._disjoint(rects)

    def test_plain_rect_with_collinear_vertex(self):
        ring = np.array([(0, 0), (2, 0), (5, 0), (5, 3), (0, 3), (0, 0)],
                        dtype=np.float64)
        rects = overlay.rect_decompose([ring])
        assert self._area(rects) == 15.0

    def test_rejects_diagonal(self):
        ring = np.array([(0, 0), (4, 0), (2, 3), (0, 0)],
                        dtype=np.float64)
        with pytest.raises(ValueError, match="rectilinear"):
            overlay.rect_decompose([ring])


class TestPolyOverlay:
    def _run(self, spark, eng, rows, **kw):
        probes = spark.createDataFrame(rows, "probe_id long, wkt string")
        out = overlay.overlay_poly_area(eng, probes, **kw).collect()
        got = {}
        for r in out:
            got.setdefault(int(r["probe_id"]), {})[int(r["region_id"])] = \
                float(r["area"])
        return got

    def test_l_shape_equals_rect_sum(self, spark, world_engine):
        # L-shape = rect A ∪ rect B (disjoint): per-region area must be
        # the bit-exact sum of the two rect overlays
        wktxt = ("POLYGON ((1.5 1.5, 6.0 1.5, 6.0 3.25, 3.0 3.25, "
                 "3.0 8.0, 1.5 8.0, 1.5 1.5))")
        got = self._run(spark, world_engine, [(0, wktxt)])[0]
        a = brute_overlay(1.5, 1.5, 6.0, 3.25)
        b = brute_overlay(1.5, 3.25, 3.0, 8.0)
        want = dict(a)
        for rid, ar in b.items():
            want[rid] = want.get(rid, 0.0) + ar
        assert got == {k: v for k, v in want.items() if v > 0}

    def test_donut_probe_excludes_hole(self, spark, world_engine):
        # probe with a hole over the fixture: area contribution of the
        # hole region must vanish
        solid = "POLYGON ((1.0 1.0, 5.0 1.0, 5.0 5.0, 1.0 5.0, 1.0 1.0))"
        donut = ("POLYGON ((1.0 1.0, 5.0 1.0, 5.0 5.0, 1.0 5.0, 1.0 1.0), "
                 "(2.0 2.0, 4.0 2.0, 4.0 4.0, 2.0 4.0, 2.0 2.0))")
        hole = "POLYGON ((2.0 2.0, 4.0 2.0, 4.0 4.0, 2.0 4.0, 2.0 2.0))"
        gs = self._run(spark, world_engine,
                       [(0, solid), (1, donut), (2, hole)])
        for rid, ar in gs[0].items():
            assert ar == gs[1].get(rid, 0.0) + gs[2].get(rid, 0.0), rid


class TestZonalRasterSum:
    """zonal_raster_sum = value-weighted overlay over cell-rect
    windows derived from packed ids (bit-exact vs rect-algebra brute
    force on the fixture world)."""

    @staticmethod
    def _raster(res, cells):
        from areacity_query_geometry_spark import grid
        return [(int(grid.pack(res, ix, iy)), float(v))
                for ix, iy, v in cells]

    @staticmethod
    def _brute(res, cells):
        from areacity_query_geometry_spark import grid
        w = 360.0 / (1 << res)
        want = {}
        for ix, iy, v in cells:
            x0, y0 = ix * w - 180.0, iy * w - 90.0
            areas = brute_overlay(x0, y0, x0 + w, y0 + w)
            for rid, a in areas.items():
                n, s = want.get(rid, (0, 0.0))
                want[rid] = (n + 1, s + v * a)
        return want

    def _run(self, spark, eng, raster, **kw):
        df = spark.createDataFrame(
            raster, "cell_id long, value double")
        rows = overlay.zonal_raster_sum(eng, df, **kw).collect()
        return {int(r["region_id"]): (int(r["n_cells"]),
                                      float(r["weighted_sum"]))
                for r in rows}

    def test_uniform_res_bitexact(self, spark, world_engine):
        rng = np.random.RandomState(3)
        cells = {(128 + rng.randint(0, 30), 64 + rng.randint(0, 30))
                 for _ in range(120)}
        cells = [(ix, iy, (1 + ((ix * 7 + iy * 13) % 32)) / 16.0)
                 for ix, iy in sorted(cells)]
        got = self._run(spark, world_engine, self._raster(8, cells))
        assert got == self._brute(8, cells)

    def test_mixed_res_and_decomposition(self, spark, world_engine):
        # coarse res-5 cells (11.25° ≫ base cell) mixed with fine
        # res-9: exercises multi-cell cover AND the in-operator
        # decomposition path on the same raster
        coarse = [(16 + i, 8 + i, 0.5 + i / 4.0) for i in range(3)]
        fine = [(256 + 3 * i, 128 + 5 * i, 1.0 + i / 8.0)
                for i in range(20)]
        raster = self._raster(5, coarse) + self._raster(9, fine)
        want = self._brute(5, coarse)
        for rid, (n, s) in self._brute(9, fine).items():
            n0, s0 = want.get(rid, (0, 0.0))
            want[rid] = (n0 + n, s0 + s)
        got = self._run(spark, world_engine, raster)
        assert set(got) == set(want)
        for rid, (n, s) in got.items():
            assert n == want[rid][0], rid
            assert s == pytest.approx(want[rid][1], rel=0, abs=0), rid
        # single-cell chunks must not change a single bit
        got_dec = self._run(spark, world_engine, raster,
                            max_cells_per_side=1)
        assert got_dec == got
