"""Hierarchical lon/lat cell grid — the engine's from-scratch H3/S2
substitute (the container ships neither library, and a plain power-of-2
degree grid is exactly what the reference's envelope-bisection tiler
approximates anyway, /root/reference/AreaCityQuery.java:1310-1375).

Cell addressing
---------------
At resolution ``r`` the world is a uniform grid of square cells of
``360 / 2**r`` degrees. A cell is ``(r, ix, iy)`` with
``ix = floor((lon+180)/w)`` in ``[0, 2**r)`` and
``iy = floor((lat+90)/w)`` in ``[0, 2**(r-1)]``. Packed into int64:

    cell_id = (r << 56) | (ix << 28) | iy        (r ≤ 28)

Children of ``(r, ix, iy)`` are the 4 cells ``(r+1, 2ix+{0,1},
2iy+{0,1})`` — adaptive tile splitting keeps a clean parent/child
relation, and a point's cell at every resolution is computable with
shift-free integer math (important: the hot path computes it in Spark
SQL, JVM-side, via `cell_id_sql_expr`).
"""
from __future__ import annotations

import math

import numpy as np

from .geom import core, predicates

MAX_RES = 28
_IX_SHIFT = 28
_RES_SHIFT = 56
_MASK28 = (1 << 28) - 1


def cell_width(res: int) -> float:
    return 360.0 / (1 << res)


def cell_of(lon, lat, res: int):
    """Vectorized point→cell_id (int64). Accepts scalars or arrays."""
    w = cell_width(res)
    n = 1 << res
    ix = np.clip(np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / w), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / w), 0, n - 1).astype(np.int64)
    return (np.int64(res) << _RES_SHIFT) | (ix << _IX_SHIFT) | iy


def cell_id_sql_expr(lon_col: str, lat_col: str, res: int) -> str:
    """Spark-SQL expression computing the same cell_id JVM-side —
    keeps the point→cell assignment inside whole-stage codegen (no
    Python in the hot path)."""
    w = repr(cell_width(res))
    n = (1 << res) - 1
    ix = f"least(greatest(CAST(floor(({lon_col} + 180.0) / {w}) AS BIGINT), 0L), {n}L)"
    iy = f"least(greatest(CAST(floor(({lat_col} + 90.0) / {w}) AS BIGINT), 0L), {n}L)"
    return f"(CAST({res} AS BIGINT) * {1 << _RES_SHIFT}L + {ix} * {1 << _IX_SHIFT}L + {iy})"


def unpack(cell_id):
    cell_id = np.asarray(cell_id, dtype=np.int64)
    res = (cell_id >> _RES_SHIFT).astype(np.int64)
    ix = (cell_id >> _IX_SHIFT) & _MASK28
    iy = cell_id & _MASK28
    return res, ix, iy


def pack(res, ix, iy):
    return (
        (np.asarray(res, dtype=np.int64) << _RES_SHIFT)
        | (np.asarray(ix, dtype=np.int64) << _IX_SHIFT)
        | np.asarray(iy, dtype=np.int64)
    )


def cell_bounds(cell_id: int) -> tuple[float, float, float, float]:
    res, ix, iy = unpack(cell_id)
    w = cell_width(int(res))
    minx = -180.0 + float(ix) * w
    miny = -90.0 + float(iy) * w
    return (minx, miny, minx + w, miny + w)


def cells_bounds(cell_ids: np.ndarray):
    """Vectorized bounds for same-resolution cells → (minx,miny,maxx,maxy)."""
    res, ix, iy = unpack(cell_ids)
    w = 360.0 / (1 << res).astype(np.float64)
    minx = -180.0 + ix * w
    miny = -90.0 + iy * w
    return minx, miny, minx + w, miny + w


def children(cell_id: int) -> np.ndarray:
    res, ix, iy = (int(v) for v in unpack(cell_id))
    out = []
    for dx in (0, 1):
        for dy in (0, 1):
            out.append(int(pack(res + 1, 2 * ix + dx, 2 * iy + dy)))
    return np.asarray(out, dtype=np.int64)


def k_ring(lon: float, lat: float, res: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k of the point's cell —
    the expansion used to cover a tolerance radius
    (reference analog: the 24-gon circle probe,
    AreaCityQuery.java:114-118)."""
    n = 1 << res
    w = cell_width(res)
    cx = int(np.clip(math.floor((lon + 180.0) / w), 0, n - 1))
    cy = int(np.clip(math.floor((lat + 90.0) / w), 0, n - 1))
    xs = np.arange(max(0, cx - k), min(n - 1, cx + k) + 1, dtype=np.int64)
    ys = np.arange(max(0, cy - k), min(n - 1, cy + k) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return pack(res, gx.ravel(), gy.ravel())


def k_for_radius(lat: float, radius_m: float, res: int) -> int:
    """Ring count covering radius_m meters around a point at `lat`."""
    w = cell_width(res)
    # meters per degree: lat ~111.19km fixed, lon shrinks by cos(lat)
    m_per_deg_lat = 111194.9
    coslat = max(0.01, math.cos(math.radians(lat)))
    deg = max(radius_m / (m_per_deg_lat * coslat), radius_m / m_per_deg_lat)
    return int(math.ceil(deg / w)) + 1


def cover_bbox(minx, miny, maxx, maxy, res: int) -> np.ndarray:
    """All cells overlapping the CLOSED bbox, inclusive of edge touches
    on every side: when the bbox min edge lies exactly on a cell border
    the touching neighbour below/left is included too (the max side is
    already inclusive under floor)."""
    n = 1 << res
    w = cell_width(res)
    fx0 = (minx + 180.0) / w
    fy0 = (miny + 90.0) / w
    x0f = math.floor(fx0)
    y0f = math.floor(fy0)
    if fx0 == x0f:
        x0f -= 1
    if fy0 == y0f:
        y0f -= 1
    x0 = int(np.clip(x0f, 0, n - 1))
    x1 = int(np.clip(math.floor((maxx + 180.0) / w), 0, n - 1))
    y0 = int(np.clip(y0f, 0, n - 1))
    y1 = int(np.clip(math.floor((maxy + 90.0) / w), 0, n - 1))
    xs = np.arange(x0, x1 + 1, dtype=np.int64)
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return pack(res, gx.ravel(), gy.ravel())


def cover_bboxes(minx, miny, maxx, maxy, res: int):
    """Vectorized `cover_bbox` over N bboxes (same CLOSED edge-touch
    semantics). Returns (row_idx, cell_id) — row_idx indexes the input
    arrays, one output pair per covered cell, repeat/cumsum arithmetic
    with no per-row Python."""
    minx = np.asarray(minx, dtype=np.float64)
    miny = np.asarray(miny, dtype=np.float64)
    maxx = np.asarray(maxx, dtype=np.float64)
    maxy = np.asarray(maxy, dtype=np.float64)
    n = 1 << res
    w = cell_width(res)
    fx0 = (minx + 180.0) / w
    fy0 = (miny + 90.0) / w
    x0 = np.floor(fx0)
    x0 = np.where(fx0 == x0, x0 - 1, x0)
    y0 = np.floor(fy0)
    y0 = np.where(fy0 == y0, y0 - 1, y0)
    x0 = np.clip(x0, 0, n - 1).astype(np.int64)
    y0 = np.clip(y0, 0, n - 1).astype(np.int64)
    x1 = np.clip(np.floor((maxx + 180.0) / w), 0, n - 1).astype(np.int64)
    y1 = np.clip(np.floor((maxy + 90.0) / w), 0, n - 1).astype(np.int64)
    kx = x1 - x0 + 1
    ky = y1 - y0 + 1
    cnt = kx * ky
    rep = np.repeat(np.arange(len(cnt), dtype=np.int64), cnt)
    offs = np.arange(int(cnt.sum()), dtype=np.int64) \
        - np.repeat(np.cumsum(cnt) - cnt, cnt)
    ix = x0[rep] + offs // ky[rep]
    iy = y0[rep] + offs % ky[rep]
    return rep, pack(res, ix, iy)


def classify_cells(geom: dict, cell_ids: np.ndarray):
    """Classify same-res candidate cells against a polygonal geometry.

    Returns (kept_cell_ids, kinds) with kind 1 = interior (cell fully
    inside — no boundary segment touches it and its center is inside),
    0 = boundary (a segment touches it). Cells fully outside are
    dropped. Interior-cell shortcutting is the distributed analog of
    the reference's 4-point-rectangle fast path (README.md:288-296).
    """
    segs = predicates.segments_of_rings(core.all_rings(geom))
    minx, miny, maxx, maxy = cells_bounds(cell_ids)
    on_boundary = predicates.segments_in_cells(segs, minx, miny, maxx, maxy)
    cx = (minx + maxx) / 2.0
    cy = (miny + maxy) / 2.0
    center_in = predicates.points_parity(cx, cy, segs)
    keep = on_boundary | center_in
    kinds = np.where(on_boundary[keep], 0, 1).astype(np.int8)
    return cell_ids[keep], kinds


def polyfill(geom: dict, res: int):
    """bbox cover → classify. Returns (cell_ids, kinds)."""
    if core.is_empty(geom):
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int8)
    b = core.bounds(geom)
    cand = cover_bbox(*b, res)
    return classify_cells(geom, cand)


def _coarse_res_for(b, base_res: int) -> int:
    """Coarsest res whose bbox cover of `b` is ≤ ~8 cells per axis."""
    minx, miny, maxx, maxy = b
    span = max(maxx - minx, maxy - miny, 1e-9)
    r = int(math.floor(math.log2(360.0 / span)))
    return max(0, min(base_res, r))


def polyfill_adaptive(
    geom: dict,
    base_res: int,
    max_res: int | None = None,
    seg_budget: int = 48,
):
    """Quadtree-descent polyfill with mixed-resolution output.

    - Descends from a coarse cover toward ``base_res``; cells fully
      interior are emitted AT THEIR CURRENT (coarse) resolution — the
      distributed analog of the reference's interior 4-point rectangles
      (README.md:288-296) but strictly better: one tile covers a huge
      interior area and the point lookup needs no geometry test at all.
    - Boundary cells at ``base_res`` whose overlapping-segment count
      exceeds ``seg_budget`` keep splitting (to ``max_res``) — adaptive
      tile splitting, the gridFactor analog (AreaCityQuery.java:1310-1375).

    Returns (cell_ids int64[], kinds int8[]) with kind 1=interior,
    0=boundary. Callers must probe every res level present (the tile
    store records the level list in its metadata).
    """
    if core.is_empty(geom):
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int8)
    if max_res is None:
        max_res = min(MAX_RES, base_res + 4)
    segs = predicates.segments_of_rings(core.all_rings(geom))
    if len(segs) == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int8)
    b = core.bounds(geom)
    r = _coarse_res_for(b, base_res)
    cells = cover_bbox(*b, r)
    # pair lists: (pc, ps) = indexes (cell_pos, seg_idx) whose bboxes overlap.
    # Descent only ever re-tests a child against its parent's pair subset —
    # total work stays O(boundary-cells × local segments), not O(C × S).
    sminx = np.minimum(segs[:, 0], segs[:, 2])
    smaxx = np.maximum(segs[:, 0], segs[:, 2])
    sminy = np.minimum(segs[:, 1], segs[:, 3])
    smaxy = np.maximum(segs[:, 1], segs[:, 3])
    minx, miny, maxx, maxy = cells_bounds(cells)
    ov = (
        (sminx[None, :] <= maxx[:, None]) & (smaxx[None, :] >= minx[:, None])
        & (sminy[None, :] <= miny[:, None] + (maxy - miny)[:, None])
        & (smaxy[None, :] >= miny[:, None])
    )
    pc, ps = np.nonzero(ov)

    out_cells: list[np.ndarray] = []
    out_kinds: list[np.ndarray] = []

    def _pair_hits(cells_, pc_, ps_):
        """Exact segment∩cell test per (cell,seg) pair → per-cell boundary mask."""
        hit_cell = np.zeros(len(cells_), dtype=bool)
        if len(pc_) == 0:
            return hit_cell
        minx_, miny_, maxx_, maxy_ = cells_bounds(cells_[pc_])
        s = segs[ps_]
        x1, y1 = s[:, 0], s[:, 1]
        dx, dy = s[:, 2] - x1, s[:, 3] - y1
        t0 = np.zeros(len(pc_))
        t1 = np.ones(len(pc_))
        ok = np.ones(len(pc_), dtype=bool)
        for p, q in (
            (-dx, x1 - minx_), (dx, maxx_ - x1),
            (-dy, y1 - miny_), (dy, maxy_ - y1),
        ):
            par = p == 0
            ok &= ~(par & (q < 0))
            with np.errstate(divide="ignore", invalid="ignore"):
                rr = np.where(par, 0.0, q / np.where(p == 0, 1.0, p))
            t0 = np.where((~par) & (p < 0), np.maximum(t0, rr), t0)
            t1 = np.where((~par) & (p > 0), np.minimum(t1, rr), t1)
        hits = ok & (t0 <= t1)
        np.logical_or.at(hit_cell, pc_[hits], True)
        return hit_cell

    while len(cells):
        on_boundary = _pair_hits(cells, pc, ps)
        uniform = ~on_boundary
        if uniform.any():
            minx, miny, maxx, maxy = cells_bounds(cells[uniform])
            cx, cy = (minx + maxx) / 2.0, (miny + maxy) / 2.0
            inside = predicates.points_parity(cx, cy, segs)
            if inside.any():
                out_cells.append(cells[uniform][inside])
                out_kinds.append(np.ones(int(inside.sum()), dtype=np.int8))
        bmask = on_boundary
        if r < base_res:
            smask = bmask
        elif r < max_res:
            counts = np.bincount(pc, minlength=len(cells))
            dense = bmask & (counts > seg_budget)
            keep = bmask & ~dense
            if keep.any():
                out_cells.append(cells[keep])
                out_kinds.append(np.zeros(int(keep.sum()), dtype=np.int8))
            smask = dense
        else:
            if bmask.any():
                out_cells.append(cells[bmask])
                out_kinds.append(np.zeros(int(bmask.sum()), dtype=np.int8))
            break
        if not smask.any():
            break
        # split selected cells into 4 children; rebuild pairs from parents'
        split_pos = np.nonzero(smask)[0]
        remap = np.full(len(cells), -1, dtype=np.int64)
        remap[split_pos] = np.arange(len(split_pos))
        _, ix, iy = unpack(cells[split_pos])
        r += 1
        gx = np.repeat(ix * 2, 4) + np.tile([0, 0, 1, 1], len(split_pos))
        gy = np.repeat(iy * 2, 4) + np.tile([0, 1, 0, 1], len(split_pos))
        cells = pack(r, gx, gy)
        par_pairs = remap[pc] >= 0
        ppc = remap[pc[par_pairs]]          # parent position among split cells
        pps = ps[par_pairs]
        # each parent pair fans out to 4 child pairs; bbox-prefilter them
        cpc = (ppc[:, None] * 4 + np.arange(4)[None, :]).ravel()
        cps = np.repeat(pps, 4)
        minx, miny, maxx, maxy = cells_bounds(cells[cpc])
        keep_p = (
            (sminx[cps] <= maxx) & (smaxx[cps] >= minx)
            & (sminy[cps] <= maxy) & (smaxy[cps] >= miny)
        )
        pc, ps = cpc[keep_p], cps[keep_p]
    if not out_cells:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int8)
    return np.concatenate(out_cells), np.concatenate(out_kinds)
