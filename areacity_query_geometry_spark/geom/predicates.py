"""Vectorized planar geometry predicates (numpy only).

These kernels are the distributed engine's replacement for JTS's exact
predicates used by the reference (`subGeom.intersects(geom)`,
/root/reference/AreaCityQuery.java:260-263). Semantics follow OGC SFS
`intersects` — boundary contact counts as a hit (the reference's
documented edge-touch duality, AreaCityQuery.java:72-73): a point on a
shared edge matches BOTH neighbours; a point strictly inside a hole
matches none; a point ON a hole's ring matches (it is on the polygon
boundary).

All functions are vectorized over batches of probe points — they are
called from Arrow/pandas UDFs on Arrow-batch columns, never per row.
"""
from __future__ import annotations

import numpy as np

# perpendicular-distance tolerance (degrees) for "point on segment";
# ~1e-12 deg ≈ 0.1 µm — exact-coordinate touches are caught, nothing else.
EPS = 1e-12


def segments_of_rings(rings) -> np.ndarray:
    """Stack closed rings into an (S, 4) array of segments x1,y1,x2,y2."""
    segs = []
    for r in rings:
        if len(r) < 2:
            continue
        segs.append(np.hstack([r[:-1], r[1:]]))
    if not segs:
        return np.zeros((0, 4), dtype=np.float64)
    return np.vstack(segs)


def points_on_segments(px: np.ndarray, py: np.ndarray, segs: np.ndarray) -> np.ndarray:
    """(M,) bool: point lies on any segment (within EPS perpendicular)."""
    if len(segs) == 0 or len(px) == 0:
        return np.zeros(len(px), dtype=bool)
    x1, y1, x2, y2 = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    dx, dy = x2 - x1, y2 - y1
    ln = np.hypot(dx, dy)
    degen = ln == 0
    ln = np.where(degen, 1.0, ln)
    # broadcast (M, S)
    qx = px[:, None] - x1[None, :]
    qy = py[:, None] - y1[None, :]
    cross = np.abs(qx * dy[None, :] - qy * dx[None, :]) / ln[None, :]
    # zero-length segment: "distance to the line" is meaningless — use
    # distance to the point itself (otherwise every probe matches it)
    cross = np.where(degen[None, :], np.hypot(qx, qy), cross)
    t = (qx * dx[None, :] + qy * dy[None, :]) / (ln[None, :] ** 2)
    t = np.where(degen[None, :], 0.0, t)
    on = (cross <= EPS) & (t >= -EPS) & (t <= 1 + EPS)
    return on.any(axis=1)


def points_parity(px: np.ndarray, py: np.ndarray, segs: np.ndarray) -> np.ndarray:
    """(M,) bool: even-odd crossing parity over ALL ring segments.

    Odd parity == strictly inside the polygon-with-holes (even-odd rule
    handles holes for free since hole rings sit inside the shell).
    Behaviour exactly on the boundary is undefined here — callers OR in
    `points_on_segments` for SFS `intersects` semantics.
    """
    if len(segs) == 0 or len(px) == 0:
        return np.zeros(len(px), dtype=bool)
    # y-banded pruning for large (points × segments) products: a segment
    # changes the parity of a point only when min(y1,y2) <= py < max(y1,y2),
    # so restricting each point-chunk (sorted by py) to the segments whose
    # y-interval overlaps the chunk's y-range drops only zero-crossing
    # segments — the result is exactly the dense broadcast's.
    if len(px) * len(segs) > 2_000_000 and len(segs) >= 256:
        sminy = np.minimum(segs[:, 1], segs[:, 3])
        smaxy = np.maximum(segs[:, 1], segs[:, 3])
        order = np.argsort(py, kind="stable")
        out = np.zeros(len(px), dtype=bool)
        for chunk in np.array_split(order, 64):
            if len(chunk) == 0:
                continue
            cy = py[chunk]
            sel = (sminy <= cy.max()) & (smaxy > cy.min())
            out[chunk] = _parity_dense(px[chunk], cy, segs[sel])
        return out
    return _parity_dense(px, py, segs)


def _parity_dense(px: np.ndarray, py: np.ndarray, segs: np.ndarray) -> np.ndarray:
    if len(segs) == 0 or len(px) == 0:
        return np.zeros(len(px), dtype=bool)
    x1, y1, x2, y2 = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    # standard half-open crossing rule; guard div-by-zero on horizontal segs
    yd = y2 - y1
    yd_safe = np.where(yd == 0, 1.0, yd)
    cond = (y1[None, :] > py[:, None]) != (y2[None, :] > py[:, None])
    xint = x1[None, :] + (py[:, None] - y1[None, :]) / yd_safe[None, :] * (x2 - x1)[None, :]
    crossings = cond & (px[:, None] < xint)
    return (crossings.sum(axis=1) % 2).astype(bool)


def points_intersect_rings(px, py, rings) -> np.ndarray:
    """(M,) bool OGC `intersects(point, polygon)` over a ring list
    (shells + holes together, even-odd)."""
    segs = segments_of_rings(rings)
    return points_parity(px, py, segs) | points_on_segments(px, py, segs)


def points_intersect_prepared(px, py, segs) -> np.ndarray:
    """Same as points_intersect_rings but with pre-stacked segments."""
    return points_parity(px, py, segs) | points_on_segments(px, py, segs)


# ---------------------------------------------------------------- rect ops

def segments_intersect_rect(segs: np.ndarray, minx, miny, maxx, maxy) -> np.ndarray:
    """(S,) bool: segment has any point inside/on the rect (Liang-Barsky)."""
    if len(segs) == 0:
        return np.zeros(0, dtype=bool)
    x1, y1, x2, y2 = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    dx, dy = x2 - x1, y2 - y1
    t0 = np.zeros(len(segs))
    t1 = np.ones(len(segs))
    ok = np.ones(len(segs), dtype=bool)
    for p, q in (
        (-dx, x1 - minx),
        (dx, maxx - x1),
        (-dy, y1 - miny),
        (dy, maxy - y1),
    ):
        par = p == 0
        ok &= ~(par & (q < 0))  # parallel and outside
        with np.errstate(divide="ignore", invalid="ignore"):
            r = np.where(par, 0.0, q / np.where(p == 0, 1.0, p))
        ent = (~par) & (p < 0)
        ext = (~par) & (p > 0)
        t0 = np.where(ent, np.maximum(t0, r), t0)
        t1 = np.where(ext, np.minimum(t1, r), t1)
    return ok & (t0 <= t1)


def segments_in_cells(segs: np.ndarray, cell_minx, cell_miny, cell_maxx, cell_maxy,
                      chunk_elems: int = 4_000_000) -> np.ndarray:
    """(C,) bool per cell: does ANY segment touch the cell rect.

    Fully vectorized (C cells × S segments) Liang-Barsky, chunked over
    cells so the broadcast stays under ``chunk_elems`` floats.
    """
    C = len(cell_minx)
    out = np.zeros(C, dtype=bool)
    S = len(segs)
    if S == 0 or C == 0:
        return out
    x1, y1, x2, y2 = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    dx, dy = x2 - x1, y2 - y1
    step = max(1, chunk_elems // S)
    for c0 in range(0, C, step):
        c1 = min(C, c0 + step)
        mnx = np.asarray(cell_minx[c0:c1])[:, None]
        mny = np.asarray(cell_miny[c0:c1])[:, None]
        mxx = np.asarray(cell_maxx[c0:c1])[:, None]
        mxy = np.asarray(cell_maxy[c0:c1])[:, None]
        t0 = np.zeros((c1 - c0, S))
        t1 = np.ones((c1 - c0, S))
        ok = np.ones((c1 - c0, S), dtype=bool)
        for p, q in (
            (-dx[None, :], x1[None, :] - mnx),
            (dx[None, :], mxx - x1[None, :]),
            (-dy[None, :], y1[None, :] - mny),
            (dy[None, :], mxy - y1[None, :]),
        ):
            par = p == 0
            ok &= ~(par & (q < 0))
            with np.errstate(divide="ignore", invalid="ignore"):
                r = np.where(par, 0.0, q / np.where(p == 0, 1.0, p))
            t0 = np.where((~par) & (p < 0), np.maximum(t0, r), t0)
            t1 = np.where((~par) & (p > 0), np.minimum(t1, r), t1)
        out[c0:c1] = (ok & (t0 <= t1)).any(axis=1)
    return out


def clip_ring_to_rects(ring: np.ndarray, minxs: np.ndarray, minys: np.ndarray,
                       maxxs: np.ndarray, maxys: np.ndarray,
                       chunk_elems: int = 4_000_000):
    """Batched Sutherland–Hodgman: ONE closed ring clipped against MANY
    axis-aligned rects in four vectorized half-plane passes over a CSR
    (concatenated-vertices + offsets) layout — the tile builder's
    replacement for calling `clip_ring_to_rect` once per cell, which
    re-walked the full ring per cell (O(cells × ring_points) of Python
    loop; this is the same arithmetic flattened into numpy, bit-for-bit
    identical output).

    Returns (vx, vy, offsets) where cell k's clipped OPEN ring (deduped,
    wraparound duplicate removed, <3 vertices → empty) is
    vx[offsets[k]:offsets[k+1]], vy[...]. Callers close the ring.
    """
    K = len(minxs)
    pts = ring[:-1] if len(ring) and np.array_equal(ring[0], ring[-1]) else ring
    V = len(pts)
    empty = (np.zeros(0), np.zeros(0), np.zeros(K + 1, dtype=np.int64))
    if V < 3 or K == 0:
        return empty
    bx = np.ascontiguousarray(pts[:, 0], dtype=np.float64)
    by = np.ascontiguousarray(pts[:, 1], dtype=np.float64)
    ax = np.roll(bx, 1)
    ay = np.roll(by, 1)

    out_vx: list[np.ndarray] = []
    out_vy: list[np.ndarray] = []
    out_lens: list[np.ndarray] = []
    kchunk = max(1, chunk_elems // max(V, 1))
    for k0 in range(0, K, kchunk):
        k1 = min(K, k0 + kchunk)
        vx, vy, offs = _clip_first_pass(bx, by, ax, ay, minxs[k0:k1])
        for cvals, axis, keep_ge in ((maxxs[k0:k1], 0, False),
                                     (minys[k0:k1], 1, True),
                                     (maxys[k0:k1], 1, False)):
            vx, vy, offs = _clip_csr_pass(vx, vy, offs, cvals, axis, keep_ge)
        vx, vy, lens = _clip_finalize(vx, vy, offs)
        out_vx.append(vx)
        out_vy.append(vy)
        out_lens.append(lens)
    vx = np.concatenate(out_vx) if out_vx else np.zeros(0)
    vy = np.concatenate(out_vy) if out_vy else np.zeros(0)
    lens = np.concatenate(out_lens) if out_lens else np.zeros(0, dtype=np.int64)
    offsets = np.zeros(K + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return vx, vy, offsets


def _clip_first_pass(bx, by, ax, ay, cvals):
    """Pass 1 (x >= minx per cell) from the dense (cells × ring) product."""
    K, V = len(cvals), len(bx)
    c = cvals[:, None]
    cur_in = bx[None, :] >= c
    prev_in = ax[None, :] >= c
    cross = cur_in != prev_in
    n_int = cross.astype(np.int64)
    counts = (n_int + cur_in).ravel()
    pos = np.cumsum(counts) - counts
    T = int(pos[-1] + counts[-1]) if len(counts) else 0
    vx = np.empty(T)
    vy = np.empty(T)
    # crossings are sparse (a handful per cell): gather their indices and
    # evaluate the intersection arithmetic only there — same expressions
    # as the dense form, so values are bit-identical
    ii = np.nonzero(cross.ravel())[0]
    ik = ii // V
    ij = ii % V
    t = (cvals[ik] - ax[ij]) / (bx[ij] - ax[ij])
    vx[pos[ii]] = cvals[ik]
    vy[pos[ii]] = ay[ij] + t * (by[ij] - ay[ij])
    jj = np.nonzero(cur_in.ravel())[0]
    q = pos[jj] + n_int.ravel()[jj]
    vx[q] = bx[jj % V]
    vy[q] = by[jj % V]
    lens = (n_int + cur_in).sum(axis=1)
    offs = np.zeros(K + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    return vx, vy, offs


def _clip_csr_pass(vx, vy, offs, cvals, axis, keep_ge):
    """One half-plane pass over CSR polygons (per-cell wraparound prev)."""
    K = len(cvals)
    T = len(vx)
    if T == 0:
        return vx, vy, offs
    lens = np.diff(offs)
    cell_of = np.repeat(np.arange(K, dtype=np.int64), lens)
    prev = np.arange(T, dtype=np.int64) - 1
    nz = lens > 0
    prev[offs[:-1][nz]] = offs[1:][nz] - 1
    bax = vx if axis == 0 else vy
    bot = vy if axis == 0 else vx
    aax = bax[prev]
    aot = bot[prev]
    c = cvals[cell_of]
    if keep_ge:
        cur_in = bax >= c
        prev_in = aax >= c
    else:
        cur_in = bax <= c
        prev_in = aax <= c
    cross = cur_in != prev_in
    n_int = cross.astype(np.int64)
    counts = n_int + cur_in
    pos = np.cumsum(counts) - counts
    T2 = int(pos[-1] + counts[-1]) if T else 0
    ox = np.empty(T2)
    oy = np.empty(T2)
    ii = np.nonzero(cross)[0]
    t = (c[ii] - aax[ii]) / (bax[ii] - aax[ii])
    io = aot[ii] + t * (bot[ii] - aot[ii])
    if axis == 0:
        ox[pos[ii]] = c[ii]
        oy[pos[ii]] = io
    else:
        oy[pos[ii]] = c[ii]
        ox[pos[ii]] = io
    jj = np.nonzero(cur_in)[0]
    q = pos[jj] + n_int[jj]
    ox[q] = vx[jj]
    oy[q] = vy[jj]
    newlens = np.bincount(cell_of, weights=counts, minlength=K).astype(np.int64)
    offs2 = np.zeros(K + 1, dtype=np.int64)
    np.cumsum(newlens, out=offs2[1:])
    return ox, oy, offs2


def _clip_finalize(vx, vy, offs):
    """Per-cell: drop consecutive duplicates, the wraparound duplicate,
    and <3-vertex degenerates — the same post-pass as clip_ring_to_rect,
    vectorized across cells. Returns (vx, vy, per-cell lens)."""
    K = len(offs) - 1
    T = len(vx)
    if T == 0:
        return vx, vy, np.zeros(K, dtype=np.int64)
    lens = np.diff(offs)
    keep = np.ones(T, dtype=bool)
    keep[1:] = (vx[1:] != vx[:-1]) | (vy[1:] != vy[:-1])
    nz = lens > 0
    keep[offs[:-1][nz]] = True  # cell starts always kept
    cell_of = np.repeat(np.arange(K, dtype=np.int64), lens)
    vx2 = vx[keep]
    vy2 = vy[keep]
    cell2 = cell_of[keep]
    lens2 = np.bincount(cell2, minlength=K).astype(np.int64)
    offs2 = np.zeros(K + 1, dtype=np.int64)
    np.cumsum(lens2, out=offs2[1:])
    # wraparound duplicate: first == last (cells with ≥2 vertices)
    nz2 = lens2 > 1
    starts = offs2[:-1][nz2]
    ends = offs2[1:][nz2] - 1
    wrap = (vx2[starts] == vx2[ends]) & (vy2[starts] == vy2[ends])
    drop = np.zeros(len(vx2), dtype=bool)
    drop[ends[wrap]] = True
    vx3 = vx2[~drop]
    vy3 = vy2[~drop]
    lens3 = lens2 - np.bincount(cell2[drop], minlength=K).astype(np.int64) \
        if drop.any() else lens2
    # degenerate (<3 vertices) → empty cell
    bad = (lens3 > 0) & (lens3 < 3)
    if bad.any():
        offs3 = np.zeros(K + 1, dtype=np.int64)
        np.cumsum(lens3, out=offs3[1:])
        kill = np.zeros(len(vx3), dtype=bool)
        for k in np.nonzero(bad)[0]:
            kill[offs3[k]:offs3[k] + lens3[k]] = True
        vx3 = vx3[~kill]
        vy3 = vy3[~kill]
        lens3 = lens3.copy()
        lens3[bad] = 0
    return vx3, vy3, lens3


def clip_ring_to_rect(ring: np.ndarray, minx, miny, maxx, maxy) -> np.ndarray:
    """Sutherland–Hodgman clip of one closed ring against an axis-aligned
    rect. Returns a closed ring (possibly empty). The clip region is
    convex so the output is a single ring; degenerate output (area 0)
    returns empty. This is the distributed analog of the reference's
    `polygon.intersection(gridRect)` tiling step
    (/root/reference/AreaCityQuery.java:1310-1375)."""
    pts = ring[:-1] if len(ring) and np.array_equal(ring[0], ring[-1]) else ring
    if len(pts) < 3:
        return np.zeros((0, 2))

    def clip_edge(poly, axis, c, keep_ge):
        """One Sutherland–Hodgman half-plane pass, fully vectorized.
        Per input vertex (in order, prev = predecessor with wraparound)
        the output is [crossing point if the edge crosses] then [the
        vertex if inside] — identical emission order and identical
        intersection arithmetic (t = (c-a)/(b-a), o = a_o + t*(b_o-a_o))
        to the scalar loop this replaces, so output is bit-for-bit
        unchanged."""
        n = len(poly)
        if n == 0:
            return poly
        a = np.roll(poly, 1, axis=0)  # prev vertex per position
        b = poly
        if keep_ge:
            cur_in = b[:, axis] >= c
            prev_in = a[:, axis] >= c
        else:
            cur_in = b[:, axis] <= c
            prev_in = a[:, axis] <= c
        cross = cur_in != prev_in
        other = 1 - axis
        denom = np.where(cross, b[:, axis] - a[:, axis], 1.0)
        t = (c - a[:, axis]) / denom
        io = a[:, other] + t * (b[:, other] - a[:, other])
        n_int = cross.astype(np.int64)
        counts = n_int + cur_in.astype(np.int64)
        out = np.empty((int(counts.sum()), 2))
        pos = np.cumsum(counts) - counts
        ii = np.nonzero(cross)[0]
        out[pos[ii], axis] = c
        out[pos[ii], other] = io[ii]
        jj = np.nonzero(cur_in)[0]
        out[pos[jj] + n_int[jj]] = b[jj]
        return out

    poly = np.asarray(pts, dtype=np.float64)
    poly = clip_edge(poly, 0, minx, True)
    poly = clip_edge(poly, 0, maxx, False)
    poly = clip_edge(poly, 1, miny, True)
    poly = clip_edge(poly, 1, maxy, False)
    if len(poly) < 3:
        return np.zeros((0, 2))
    # drop consecutive duplicates (and the wrap-around duplicate, so the
    # final closing vstack never creates a zero-length segment)
    keep = np.ones(len(poly), dtype=bool)
    keep[1:] = np.any(poly[1:] != poly[:-1], axis=1)
    poly = poly[keep]
    if len(poly) > 1 and np.array_equal(poly[0], poly[-1]):
        poly = poly[:-1]
    if len(poly) < 3:
        return np.zeros((0, 2))
    return np.vstack([poly, poly[:1]])


# ------------------------------------------------------------- distances

def nearest_on_segments(px: np.ndarray, py: np.ndarray, segs: np.ndarray):
    """For each point, the planar-nearest point on any segment.

    Returns (nx, ny, dist) arrays of shape (M,). Mirrors JTS
    `DistanceOp.nearestPoints(tileGeom, point)` in degree space
    (/root/reference/AreaCityQuery.java:131) for points outside the
    geometry.
    """
    cx, cy, d, _ = nearest_on_segments_idx(px, py, segs)
    return cx, cy, d


def nearest_on_segments_idx(px: np.ndarray, py: np.ndarray,
                            segs: np.ndarray):
    """nearest_on_segments plus the winning SEGMENT index per point
    (first hit on ties, matching argmin) — the -1 paths' long-range
    refinement samples haversine along that segment. Arithmetic
    identical to nearest_on_segments (it IS its body)."""
    M = len(px)
    if len(segs) == 0 or M == 0:
        nan = np.full(M, np.nan)
        return nan, nan, np.full(M, np.inf), np.zeros(M, dtype=np.int64)
    ax, ay, bx, by = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    dx, dy = bx - ax, by - ay
    ln2 = dx * dx + dy * dy
    ln2 = np.where(ln2 == 0, 1.0, ln2)
    qx = px[:, None] - ax[None, :]
    qy = py[:, None] - ay[None, :]
    t = np.clip((qx * dx[None, :] + qy * dy[None, :]) / ln2[None, :], 0.0, 1.0)
    cx = ax[None, :] + t * dx[None, :]
    cy = ay[None, :] + t * dy[None, :]
    d2 = (px[:, None] - cx) ** 2 + (py[:, None] - cy) ** 2
    j = d2.argmin(axis=1)
    i = np.arange(M)
    return cx[i, j], cy[i, j], np.sqrt(d2[i, j]), j


def nearest_on_segments_scaled(px: np.ndarray, py: np.ndarray,
                               segs: np.ndarray):
    """Anisotropy-corrected TWIN of nearest_on_segments: the argmin
    runs in each point's locally scaled metric (lng scaled by
    cos(lat) — the equirectangular meter metric), so at high latitude
    it lands near the METER-nearest boundary point where the
    degree-planar argmin can sit tens of km away along a parallel
    (REFPARITY r5: +25.9 km error at lat 84° on the continents
    fixture). Returns (sx, sy) ON the segments in original degree
    coordinates; callers evaluate haversine there and take
    min(haversine @ planar argmin, haversine @ scaled argmin) — a
    strictly tightening second candidate. For axis-aligned segments
    the scaled projection parameter equals the unscaled one (per-axis
    clamping), so rect-fixture outputs are bit-identical either way.

    Kept arithmetically in lockstep with the flat transcription inside
    engine._tolerance_pairs — same formulas, same first-hit
    tie-break (np.argmin) — so the index and join tolerance paths stay
    bit-identical (tests/test_q2_index_parity.py).

    Returns (sx, sy, sd): the winning point and its SCALED-metric
    distance (degrees, lng compressed by cos lat) — sd orders argmin
    candidates across tiles for the -1 paths' cross-tile min-reduce;
    it is never reported to users (haversine at the point is)."""
    cx, cy, d, _ = nearest_on_segments_scaled_idx(px, py, segs)
    return cx, cy, d


def nearest_on_segments_scaled_idx(px: np.ndarray, py: np.ndarray,
                                   segs: np.ndarray):
    """nearest_on_segments_scaled plus the winning SEGMENT index per
    point (first hit on ties) — same arithmetic, it IS its body."""
    M = len(px)
    if len(segs) == 0 or M == 0:
        nan = np.full(M, np.nan)
        return nan, nan, np.full(M, np.inf), np.zeros(M, dtype=np.int64)
    ax, ay, bx, by = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    dxs, dys = bx - ax, by - ay
    w = np.cos(np.radians(py))[:, None]
    dxw = dxs[None, :] * w
    qxw = (px[:, None] - ax[None, :]) * w
    qy = py[:, None] - ay[None, :]
    ln2 = dxw * dxw + (dys * dys)[None, :]
    ln2 = np.where(ln2 == 0, 1.0, ln2)
    t = np.clip((qxw * dxw + qy * dys[None, :]) / ln2, 0.0, 1.0)
    cx = ax[None, :] + t * dxs[None, :]
    cy = ay[None, :] + t * dys[None, :]
    d2 = ((px[:, None] - cx) * w) ** 2 + (py[:, None] - cy) ** 2
    j = d2.argmin(axis=1)
    i = np.arange(M)
    return cx[i, j], cy[i, j], np.sqrt(d2[i, j]), j


# ------------------------------------------- segment × segment (line probes)

def _orient(ax, ay, bx, by, cx, cy):
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def any_segment_intersection(a: np.ndarray, b: np.ndarray) -> bool:
    """True if any segment in a (A,4) intersects any segment in b (B,4),
    boundary-inclusive."""
    if len(a) == 0 or len(b) == 0:
        return False
    ax1, ay1, ax2, ay2 = (a[:, k][:, None] for k in range(4))
    bx1, by1, bx2, by2 = (b[:, k][None, :] for k in range(4))
    d1 = _orient(ax1, ay1, ax2, ay2, bx1, by1)
    d2 = _orient(ax1, ay1, ax2, ay2, bx2, by2)
    d3 = _orient(bx1, by1, bx2, by2, ax1, ay1)
    d4 = _orient(bx1, by1, bx2, by2, ax2, ay2)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) & \
             (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)
    if proper.any():
        return True
    # collinear / endpoint touches
    def on(dx, px_, py_, sx1, sy1, sx2, sy2):
        return (dx == 0) & (np.minimum(sx1, sx2) <= px_) & (px_ <= np.maximum(sx1, sx2)) & \
               (np.minimum(sy1, sy2) <= py_) & (py_ <= np.maximum(sy1, sy2))
    touch = (
        on(d1, bx1, by1, ax1, ay1, ax2, ay2)
        | on(d2, bx2, by2, ax1, ay1, ax2, ay2)
        | on(d3, ax1, ay1, bx1, by1, bx2, by2)
        | on(d4, ax2, ay2, bx1, by1, bx2, by2)
    )
    return bool(touch.any())


def _pair_seg_intersect(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    """Elementwise (broadcastable) segment×segment intersect,
    boundary-inclusive — exact orientation arithmetic (no division), so
    results are bit-reproducible against an oracle computing the same
    products on dyadic-rational coordinates."""
    d1 = _orient(ax1, ay1, ax2, ay2, bx1, by1)
    d2 = _orient(ax1, ay1, ax2, ay2, bx2, by2)
    d3 = _orient(bx1, by1, bx2, by2, ax1, ay1)
    d4 = _orient(bx1, by1, bx2, by2, ax2, ay2)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) & \
             (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)

    def on(dv, px_, py_, sx1, sy1, sx2, sy2):
        return (dv == 0) & (np.minimum(sx1, sx2) <= px_) & (px_ <= np.maximum(sx1, sx2)) & \
               (np.minimum(sy1, sy2) <= py_) & (py_ <= np.maximum(sy1, sy2))

    touch = (
        on(d1, bx1, by1, ax1, ay1, ax2, ay2)
        | on(d2, bx2, by2, ax1, ay1, ax2, ay2)
        | on(d3, ax1, ay1, bx1, by1, bx2, by2)
        | on(d4, ax2, ay2, bx1, by1, bx2, by2)
    )
    return proper | touch


def segs_intersect_rects(px1, py1, px2, py2, rx0, ry0, rx1, ry1) -> np.ndarray:
    """(N,) bool: probe segment i intersects closed rect i — endpoint
    containment OR any of the 4 rect edges, all exact orientation math
    (division-free, unlike Liang-Barsky)."""
    hit = ((px1 >= rx0) & (px1 <= rx1) & (py1 >= ry0) & (py1 <= ry1)) | \
          ((px2 >= rx0) & (px2 <= rx1) & (py2 >= ry0) & (py2 <= ry1))
    for ex1, ey1, ex2, ey2 in (
        (rx0, ry0, rx1, ry0), (rx1, ry0, rx1, ry1),
        (rx1, ry1, rx0, ry1), (rx0, ry1, rx0, ry0),
    ):
        hit |= _pair_seg_intersect(px1, py1, px2, py2, ex1, ey1, ex2, ey2)
    return hit


def segs_intersect_segs_any(px1, py1, px2, py2, segs: np.ndarray) -> np.ndarray:
    """(P,) bool: probe segment p intersects ANY of the (S,4) segments
    (boundary-inclusive). (P × S) orientation broadcast, reduced per
    probe."""
    P = len(px1)
    if len(segs) == 0 or P == 0:
        return np.zeros(P, dtype=bool)
    hit = _pair_seg_intersect(
        px1[:, None], py1[:, None], px2[:, None], py2[:, None],
        segs[None, :, 0], segs[None, :, 1], segs[None, :, 2], segs[None, :, 3],
    )
    return hit.any(axis=1)


def geoms_intersect(a: dict, b: dict) -> bool:
    """OGC SFS `intersects` between two geometries (Point / LineString /
    Polygon / MultiPolygon), boundary-inclusive — the engine-side analog
    of JTS `geom.intersects(subGeom)` used by Q3
    (/root/reference/AreaCityQuery.java:260-263)."""
    from . import core as _core

    if a["type"] == "Point":
        return _point_hits(a["xy"][0], a["xy"][1], b)
    if b["type"] == "Point":
        return _point_hits(b["xy"][0], b["xy"][1], a)
    sa = _segs_of(a)
    sb = _segs_of(b)
    if any_segment_intersection(sa, sb):
        return True
    # no edge crossings: containment — one's first vertex inside the other
    if a["type"] in ("Polygon", "MultiPolygon") and len(sb):
        if _point_hits(sb[0, 0], sb[0, 1], a):
            return True
    if b["type"] in ("Polygon", "MultiPolygon") and len(sa):
        if _point_hits(sa[0, 0], sa[0, 1], b):
            return True
    return False


def _segs_of(g: dict) -> np.ndarray:
    from . import core as _core

    if g["type"] == "LineString":
        xy = g["xy"]
        if len(xy) < 2:
            return np.zeros((0, 4))
        return np.hstack([xy[:-1], xy[1:]])
    return segments_of_rings(_core.all_rings(g))


def _point_hits(x: float, y: float, g: dict) -> bool:
    from . import core as _core

    px, py = np.array([x]), np.array([y])
    if g["type"] in ("Polygon", "MultiPolygon"):
        return bool(points_intersect_rings(px, py, _core.all_rings(g))[0])
    return bool(points_on_segments(px, py, _segs_of(g))[0])
