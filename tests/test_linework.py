"""Per-region polyline length (linework.py): kernel units + end-to-end
equality against rect-algebra brute force on the fixture world —
bit-exact for axis-aligned probes, rel-tol for diagonals."""
import numpy as np
import pytest

from areacity_query_geometry_spark import fixtures, linework
from areacity_query_geometry_spark.engine import _build_boundary_index
from areacity_query_geometry_spark.geom import predicates


def _square_segs(x0, y0, x1, y1):
    ring = np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)],
                    dtype=np.float64)
    return predicates.segments_of_rings([ring])


def one_tile_index(segs):
    """The boundary index of one tile holding `segs`, its rect their
    bounding box."""
    tile = {"cell_id": [0], "region_id": [0], "deep": [0], "kind": [0],
            "minx": [segs[:, [0, 2]].min()], "miny": [segs[:, [1, 3]].min()],
            "maxx": [segs[:, [0, 2]].max()], "maxy": [segs[:, [1, 3]].max()]}
    return _build_boundary_index(tile, np.array([len(segs)]), segs)


def piece_lengths(sx1, sy1, sx2, sy2, segs):
    """`linework.piece_lengths` of each segment against one tile."""
    return linework.piece_lengths(
        one_tile_index(segs), np.zeros(len(sx1), np.int64),
        sx1, sy1, sx2, sy2)


class TestKernel:
    def test_horizontal_through_square(self):
        segs = _square_segs(1.0, 1.0, 3.0, 3.0)
        out = piece_lengths(
            np.array([0.0]), np.array([2.0]),
            np.array([4.0]), np.array([2.0]), segs)
        assert out[0] == 2.0  # exactly the square's width

    def test_fully_inside_and_outside(self):
        segs = _square_segs(1.0, 1.0, 3.0, 3.0)
        out = piece_lengths(
            np.array([1.25, 5.0]), np.array([2.0, 2.0]),
            np.array([2.75, 6.0]), np.array([2.0, 2.0]), segs)
        assert out[0] == 1.5
        assert out[1] == 0.0

    def test_hole_subtracts_by_parity(self):
        shell = _square_segs(0.0, 0.0, 4.0, 4.0)
        hole = _square_segs(1.0, 1.0, 3.0, 3.0)
        segs = np.vstack([shell, hole])
        out = piece_lengths(
            np.array([0.0]), np.array([2.0]),
            np.array([4.0]), np.array([2.0]), segs)
        assert out[0] == 2.0  # 4 crossing the shell minus 2 in the hole

    def test_diagonal_through_square(self):
        segs = _square_segs(0.0, 0.0, 2.0, 2.0)
        out = piece_lengths(
            np.array([-1.0]), np.array([-1.0]),
            np.array([3.0]), np.array([3.0]), segs)
        assert out[0] == pytest.approx(2.0 * np.sqrt(2.0), rel=1e-12)

    def test_vertex_crossing_counted_once(self):
        # diagonal entering exactly through the square's corner
        segs = _square_segs(1.0, 1.0, 3.0, 3.0)
        out = piece_lengths(
            np.array([0.0]), np.array([2.0]),
            np.array([2.0]), np.array([0.0]), segs)
        # touches only the corner (1,1)..? the line x+y=2 passes through
        # (1,1) — grazes the corner, zero length inside
        assert out[0] == pytest.approx(0.0, abs=1e-12)

    def test_empty_inputs(self):
        segs = _square_segs(0.0, 0.0, 1.0, 1.0)
        assert len(piece_lengths(
            np.array([]), np.array([]), np.array([]), np.array([]),
            segs)) == 0


class TestClip:
    def test_axis_aligned_half_open(self):
        x1 = np.array([0.0, 0.0, 0.0])
        y1 = np.array([2.0, 4.0, 0.0])
        x2 = np.array([8.0, 8.0, 8.0])
        y2 = np.array([2.0, 4.0, 0.0])
        wx0 = np.zeros(3)
        wy0 = np.zeros(3)
        wx1 = np.full(3, 4.0)
        wy1 = np.full(3, 4.0)
        nx1, ny1, nx2, ny2, keep = linework._clip_segs_to_rects(
            x1, y1, x2, y2, wx0, wy0, wx1, wy1)
        assert keep[0] and not keep[1] and keep[2]  # y=4 excluded, y=0 kept
        assert (nx1[0], nx2[0]) == (0.0, 4.0)

    def test_diagonal_clip(self):
        nx1, ny1, nx2, ny2, keep = linework._clip_segs_to_rects(
            np.array([-2.0]), np.array([-2.0]),
            np.array([6.0]), np.array([6.0]),
            np.array([0.0]), np.array([0.0]),
            np.array([4.0]), np.array([4.0]))
        assert keep[0]
        assert (nx1[0], ny1[0], nx2[0], ny2[0]) == (0.0, 0.0, 4.0, 4.0)

    def test_degenerate_dropped(self):
        *_, keep = linework._clip_segs_to_rects(
            np.array([1.0]), np.array([1.0]),
            np.array([1.0]), np.array([1.0]),
            np.array([0.0]), np.array([0.0]),
            np.array([4.0]), np.array([4.0]))
        assert not keep[0]


@pytest.fixture(scope="module")
def world_engine(spark):
    from areacity_query_geometry_spark import tiler
    from areacity_query_geometry_spark.engine import SpatialEngine

    boundaries = fixtures.boundaries_df(spark).cache()
    tiles = tiler.build_tiles(boundaries, base_res=7, max_res=9).cache()
    tiles.count()
    return SpatialEngine(spark, boundaries, tiles, base_res=7)


def brute_line_length(x1, y1, x2, y2):
    """Rect-algebra ground truth for AXIS-ALIGNED segments straight
    from the fixture definition."""
    want = {}
    for ordn, code, deep, parts, hole in fixtures.region_rows():
        tot = 0.0
        for (rx0, ry0, rx1, ry1) in parts:
            boxes = [(rx0, ry0, rx1, ry1, 1.0)]
            if hole and hole[0] >= rx0 and hole[2] <= rx1 \
                    and hole[1] >= ry0 and hole[3] <= ry1:
                boxes.append((*hole, -1.0))
            for (bx0, by0, bx1, by1, sgn) in boxes:
                if y1 == y2:
                    ov = max(0.0, min(bx1, max(x1, x2))
                             - max(bx0, min(x1, x2)))
                    if by0 < y1 < by1:
                        tot += sgn * ov
                else:
                    ov = max(0.0, min(by1, max(y1, y2))
                             - max(by0, min(y1, y2)))
                    if bx0 < x1 < bx1:
                        tot += sgn * ov
        if tot > 0.0:
            want[ordn] = tot
    return want


def brute_diag_length(x1, y1, x2, y2):
    """Exact interval-algebra reference for diagonal probes: per box,
    the segment's inside t-interval is [max(t_lo), min(t_hi)] over the
    two axes; parts are disjoint and each hole sits inside its part,
    so lengths add/subtract directly. Independent of the operator's
    per-tile decomposition."""
    dx, dy = x2 - x1, y2 - y1
    seg_len = float(np.hypot(dx, dy))

    def t_overlap(bx0, by0, bx1, by1):
        tx = sorted(((bx0 - x1) / dx, (bx1 - x1) / dx))
        ty = sorted(((by0 - y1) / dy, (by1 - y1) / dy))
        lo = max(tx[0], ty[0], 0.0)
        hi = min(tx[1], ty[1], 1.0)
        return max(0.0, hi - lo)

    want = {}
    for ordn, code, deep, parts, hole in fixtures.region_rows():
        tot = 0.0
        for (rx0, ry0, rx1, ry1) in parts:
            tot += t_overlap(rx0, ry0, rx1, ry1)
            if hole and hole[0] >= rx0 and hole[2] <= rx1 \
                    and hole[1] >= ry0 and hole[3] <= ry1:
                tot -= t_overlap(*hole)
        if tot > 0.0:
            want[ordn] = tot * seg_len
    return want


def run_lengths(spark, eng, segs, **kw):
    probes = spark.createDataFrame(
        [(int(i), float(a), float(b), float(c), float(d))
         for i, (a, b, c, d) in enumerate(segs)],
        "probe_id long, x1 double, y1 double, x2 double, y2 double")
    rows = linework.line_length_in_regions(eng, probes, **kw).collect()
    got = {}
    for r in rows:
        got.setdefault(int(r["probe_id"]), {})[int(r["region_id"])] = \
            float(r["length"])
    return got


class TestLineLength:
    def test_axis_aligned_bitexact(self, spark, world_engine):
        rng = np.random.RandomState(23)
        segs = []
        for i in range(48):
            a = rng.randint(0, 2432) / 64.0
            c = (2 * rng.randint(0, 2560) + 1) / 128.0
            s = (1 + rng.randint(0, 512)) / 64.0
            if i % 2 == 0:
                segs.append((a, c, a + s, c))        # horizontal
            else:
                segs.append((c, a, c, a + s))        # vertical
        got = run_lengths(spark, world_engine, segs)
        for i, (a, b, c, d) in enumerate(segs):
            assert got.get(i, {}) == brute_line_length(a, b, c, d), \
                f"segment {i} {(a, b, c, d)}"

    def test_reversed_direction_equal(self, spark, world_engine):
        segs = [(2.0, 2.015625, 9.0, 2.015625),
                (9.0, 2.015625, 2.0, 2.015625)]
        got = run_lengths(spark, world_engine, segs)
        assert got[0] == got[1]

    def test_diagonal_vs_dense_sampling(self, spark, world_engine):
        segs = [(0.5, 0.25, 12.75, 9.125),
                (1.25, 38.5, 39.5, 0.75),
                (5.03125, 5.03125, 33.96875, 21.90625)]
        got = run_lengths(spark, world_engine, segs)
        for i, (a, b, c, d) in enumerate(segs):
            want = brute_diag_length(a, b, c, d)
            assert set(got.get(i, {})) == set(want), i
            for rid, ln in got[i].items():
                assert ln == pytest.approx(want[rid], rel=1e-9), (i, rid)

    def test_zero_length_rows_vanish(self, spark, world_engine):
        got = run_lengths(spark, world_engine, [(5.0, 5.0, 5.0, 5.0)])
        assert got == {}

    def test_where_filter(self, spark, world_engine):
        segs = [(2.0, 2.015625, 9.0, 2.015625)]
        full = run_lengths(spark, world_engine, segs)
        prov = run_lengths(spark, world_engine, segs, where="deep = 0")
        assert set(prov[0]) < set(full[0])
        for rid, ln in prov[0].items():
            assert full[0][rid] == ln


class TestRealGeometryResIndependence:
    """The bridge-run bug's signature was a RESOLUTION-DEPENDENT
    answer; pin the opposite for line lengths on curved geometry (the
    generated dense set's wiggly oblique edges): two engines at
    different base_res must agree per (probe, region) to fp tolerance
    (tile decompositions differ, the decomposed sums may round
    differently — but the value is a property of the geometry, not the
    grid)."""

    def test_lengths_res_independent(self, spark, dense_engines_6_8):
        eng6, eng8 = dense_engines_6_8
        rng = np.random.RandomState(71)
        segs = []
        for _ in range(60):
            a = 100.0 + rng.rand() * 30.0
            b = 20.0 + rng.rand() * 20.0
            ln = 10.0 ** (rng.rand() * 2 - 1)
            ang = rng.rand() * 2 * np.pi
            segs.append((a, b, a + ln * np.cos(ang), b + ln * np.sin(ang)))
        r6 = run_lengths(spark, eng6, segs)
        r8 = run_lengths(spark, eng8, segs)
        assert len(r6) == len(segs)
        assert set(r6) == set(r8)
        for pid in r6:
            assert set(r6[pid]) == set(r8[pid]), pid
            for rid, v in r6[pid].items():
                assert v == pytest.approx(r8[pid][rid], rel=1e-9), \
                    (pid, rid)


class TestWktPolylines:
    def _collect(self, spark, eng, rows):
        probes = spark.createDataFrame(rows, "probe_id long, wkt string")
        out = linework.line_length_wkt(eng, probes).collect()
        got = {}
        for r in out:
            got.setdefault(int(r["probe_id"]), {})[int(r["region_id"])] = \
                float(r["length"])
        return got

    def test_polyline_equals_manual_segment_sum(self, spark, world_engine):
        # L-shaped polyline = one horizontal + one vertical segment;
        # per-polyline result must equal the bit-exact sum of the two
        wktxt = ("LINESTRING (2 2.015625, 9 2.015625, 9 7.0078125)")
        got = self._collect(spark, world_engine, [(0, wktxt)])[0]
        h = brute_line_length(2.0, 2.015625, 9.0, 2.015625)
        v = brute_line_length(9.0, 2.015625, 9.0, 7.0078125)
        want = dict(h)
        for rid, ln in v.items():
            want[rid] = want.get(rid, 0.0) + ln
        assert got == {k: v for k, v in want.items() if v > 0}

    def test_multilinestring_and_collection(self, spark, world_engine):
        m = "MULTILINESTRING ((2 2.015625, 5 2.015625), (6 2.015625, 9 2.015625))"
        c = ("GEOMETRYCOLLECTION (POINT (1 1), "
             "LINESTRING (2 2.015625, 5 2.015625), "
             "LINESTRING (6 2.015625, 9 2.015625))")
        got = self._collect(spark, world_engine, [(0, m), (1, c)])
        assert got[0] == got[1]  # the POINT member is ignored
        a = brute_line_length(2.0, 2.015625, 5.0, 2.015625)
        b = brute_line_length(6.0, 2.015625, 9.0, 2.015625)
        want = dict(a)
        for rid, ln in b.items():
            want[rid] = want.get(rid, 0.0) + ln
        assert got[0] == {k: v for k, v in want.items() if v > 0}


class TestKernelProperty:
    def test_random_rectilinear_vs_rect_algebra(self):
        """Property: for random rect-with-optional-hole pieces and
        random axis-aligned dyadic segments (never collinear with an
        edge), the crossing/parity kernel equals rect algebra EXACTLY."""
        rng = np.random.RandomState(97)
        for _ in range(200):
            x0, y0 = rng.randint(0, 64, 2) / 4.0
            wdt, hgt = (1 + rng.randint(0, 32, 2)) / 4.0
            shell = _square_segs(x0, y0, x0 + wdt, y0 + hgt)
            hole = None
            if rng.rand() < 0.5 and wdt >= 1.0 and hgt >= 1.0:
                hx0 = x0 + (1 + rng.randint(0, int(wdt * 4) - 2)) / 8.0
                hy0 = y0 + (1 + rng.randint(0, int(hgt * 4) - 2)) / 8.0
                hole = (hx0, hy0, hx0 + 0.125, hy0 + 0.125)
                segs = np.vstack([shell, _square_segs(*hole)])
            else:
                segs = shell
            horiz = rng.rand() < 0.5
            c = (2 * rng.randint(0, 256) + 1) / 32.0  # odd/32: off edges
            a = rng.randint(0, 128) / 4.0
            b = a + (1 + rng.randint(0, 64)) / 4.0
            if horiz:
                sx1, sy1, sx2, sy2 = a, c, b, c
            else:
                sx1, sy1, sx2, sy2 = c, a, c, b
            out = piece_lengths(
                np.array([sx1]), np.array([sy1]),
                np.array([sx2]), np.array([sy2]), segs)

            def box_len(bx0, by0, bx1, by1):
                if horiz:
                    return (max(0.0, min(bx1, sx2) - max(bx0, sx1))
                            if by0 < c < by1 else 0.0)
                return (max(0.0, min(by1, sy2) - max(by0, sy1))
                        if bx0 < c < bx1 else 0.0)

            want = box_len(x0, y0, x0 + wdt, y0 + hgt)
            if hole is not None:
                want -= box_len(*hole)
            assert out[0] == want, \
                (x0, y0, wdt, hgt, hole, sx1, sy1, sx2, sy2)

    def test_curved_pieces_vs_dense_reference(self):
        """Property: on curved pieces with holes and islands (oblique
        edges, many y-slabs), the flat kernel equals, bit for bit, a
        dense all-segments × all-edges pass with the same crossing and
        parity arithmetic, for short segments inside one y-slab (slab
        rows only) and long ones (the whole tile)."""

        def dense(sx1, sy1, sx2, sy2, segs):
            dx, dy = sx2 - sx1, sy2 - sy1
            ex1, ey1, ex2, ey2 = segs.T
            gx, gy = ex2 - ex1, ey2 - ey1
            denom = dx[:, None] * gy - dy[:, None] * gx
            wx, wy = ex1 - sx1[:, None], ey1 - sy1[:, None]
            with np.errstate(divide="ignore", invalid="ignore"):
                t = (wx * gy - wy * gx) / denom
                u = (wx * dy[:, None] - wy * dx[:, None]) / denom
            si, ei = np.nonzero(np.isfinite(t) & np.isfinite(u) & (t > 0)
                                & (t < 1) & (u >= 0) & (u < 1))
            tc = t[si, ei]
            cx = np.where(gx[ei] == 0, ex1[ei], sx1[si] + tc * dx[si])
            cy = np.where(gy[ei] == 0, ey1[ei], sy1[si] + tc * dy[si])
            n = len(sx1)
            s = np.r_[np.arange(n), np.arange(n), si]
            o = np.lexsort((np.r_[np.zeros(n), np.ones(n), tc], s))
            bs = s[o]
            bx, by = np.r_[sx1, sx2, cx][o], np.r_[sy1, sy2, cy][o]
            m = bs[1:] == bs[:-1]
            ax, ay, qx, qy = bx[:-1][m], by[:-1][m], bx[1:][m], by[1:][m]
            ins = predicates.points_parity(0.5 * (ax + qx), 0.5 * (ay + qy),
                                           segs)
            ln = np.hypot(qx - ax, qy - ay)
            return np.bincount(bs[:-1][m][ins], weights=ln[ins], minlength=n)

        rng = np.random.RandomState(41)
        for _ in range(20):
            rings = []
            for cx, cy, r, k, ccw in ((5.0, 5.0, 4.0, 60, True),
                                      (5.2, 4.9, 1.6, 30, False),
                                      (5.1, 5.0, 0.5, 12, True)):
                a = np.linspace(0, 2 * np.pi, k, endpoint=False)
                rr = r * (1 + 0.15 * np.sin(3 * a + rng.rand())
                          + 0.05 * rng.rand(k))
                pts = np.c_[cx + rr * np.cos(a), cy + rr * np.sin(a)]
                rings.append(np.vstack([pts, pts[:1]])[::1 if ccw else -1])
            segs = predicates.segments_of_rings(rings)
            n = 200
            sx1, sy1 = rng.rand(n) * 10, rng.rand(n) * 10
            step = np.where(rng.rand(n) < 0.5, 0.05, 6.0)
            sx2 = sx1 + (rng.rand(n) - 0.5) * step
            sy2 = sy1 + (rng.rand(n) - 0.5) * step
            sy2[::7] = sy1[::7]
            got = piece_lengths(sx1, sy1, sx2, sy2, segs)
            assert got.tolist() == dense(sx1, sy1, sx2, sy2, segs).tolist()
