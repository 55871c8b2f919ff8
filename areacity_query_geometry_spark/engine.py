"""SpatialEngine — the session-level facade (the analog of the
reference's 10 static `Instances[0-9]`, /root/reference/AreaCityQuery.java:62-66,
re-expressed as named boundary/tile DataFrame pairs).

Query surface mirrors the reference's four verbs
(AreaCityQuery.java:87-399):

    query_points(points_df, ...)                 ≙ QueryPoint          (Q1)
    query_points_with_tolerance(points_df, m)    ≙ QueryPointWithTolerance (Q2)
    query_geometry(wkt, ...)                     ≙ QueryGeometry       (Q3)
    read_wkt_features(where, ...)                ≙ ReadWKT_FromWkbsFile (Q4)
    debug_tile_splits_wkt(where)                 ≙ Debug_ReadGeometryGridSplitsWKT (Q5)

but batch-first: the probe side is a DataFrame of millions/billions of
points (rows of the docs table), not a single coordinate — the reference
answers one coordinate per call; this engine answers them all in one
distributed join.

Hot-path shape (Q1): probe cell_id is ONE codegen'd SQL expression per
point; while both broadcast tile indexes fit their budgets, one scalar
Arrow UDF resolves every probe's regions from (lng, lat, cell_id) in a
single pass over the probe, whose id columns never leave the JVM. Past
a budget the tile join is a plain equi-join (broadcast when the tile
set fits, sort-merge otherwise) whose interior hits (kind=1) stay in
the JVM, and only points in boundary-ish cells cross into the
vectorized Arrow refine.
"""
from __future__ import annotations

import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import (
    DataFrame, Observation, SparkSession, Window, functions as F,
)
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from . import GRID_VERSION, grid, tiler
from .geom import core, distance, predicates, wkb, wkt as wkt_codec
from .sources import geojson_source

def _distance_segs(g: dict, minx: float, miny: float,
                   maxx: float, maxy: float) -> np.ndarray:
    """Segments of a boundary-tile piece fit for NEAREST-DISTANCE use.

    The stored WKB is the region clipped to the CLIP_EPS-expanded tile
    rect (tiler.clip_geom_to_cell), so its rings also run ALONG the
    expanded window: closure edges, plus Sutherland–Hodgman bridge
    runs that connect disconnected clip pieces and can lie OUTSIDE the
    region (measured on the reference province file: a coastal cell
    with islands put a bridge corner 785 m from an offshore probe
    whose true boundary distance is 1459.86 m). Zero width keeps
    containment parity and overlay areas exact, but a nearest-segment
    distance must never see them.

    Window coordinates were ASSIGNED at clip time (minx − CLIP_EPS
    etc. computed from the same column values stored on the tile row),
    so exact float equality identifies every window run. A true
    boundary segment cannot sit on the expanded window line (its
    source vertex would need to be exactly CLIP_EPS off a gridline),
    and even then the segment would survive in the neighbouring cell's
    tile, whose window lines differ — the per-region minimum across
    candidate tiles is unaffected."""
    segs = predicates.segments_of_rings(core.all_rings(g))
    if not len(segs):
        return segs
    wx0 = minx - tiler.CLIP_EPS
    wy0 = miny - tiler.CLIP_EPS
    wx1 = maxx + tiler.CLIP_EPS
    wy1 = maxy + tiler.CLIP_EPS
    x1, y1, x2, y2 = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    on_win = (((x1 == x2) & ((x1 == wx0) | (x1 == wx1)))
              | ((y1 == y2) & ((y1 == wy0) | (y1 == wy1))))
    return segs[~on_win]


def _refine_hav_on_segments(sega: np.ndarray, px: np.ndarray,
                            py: np.ndarray, n: int = 65) -> np.ndarray:
    """Min haversine from each probe to `n` uniform samples (endpoints
    included) along its candidate segment (sega: (M, 4)) — the -1
    paths' LONG-RANGE refinement (late r5). The argmin candidates are
    projections in a planar metric, and at planetary range the right
    segment's projection parameter can sit km from the haversine
    minimum; sampling the winning segment directly bounds the error by
    (seglen/2(n-1))²/(2·distance) — sub-metre for ~20 km segments at
    ≥100 km. Haversine is 360°-shift invariant, so raw coordinates are
    fine even for antimeridian-unrolled probes."""
    if not len(sega):
        return np.full(len(px), np.inf)
    t = np.linspace(0.0, 1.0, n)
    X = sega[:, 0][:, None] + t * (sega[:, 2] - sega[:, 0])[:, None]
    Y = sega[:, 1][:, None] + t * (sega[:, 3] - sega[:, 1])[:, None]
    D = np.asarray(distance.haversine(X, Y, px[:, None], py[:, None]))
    return D.min(axis=1)


def _best_segment_by_hav_proxy(px: np.ndarray, py: np.ndarray,
                               segs: np.ndarray) -> np.ndarray:
    """Per point, the segment index minimizing a 3-point HAVERSINE
    proxy (both endpoints + midpoint) over ALL of a tile's segments —
    the geodesic mode's third winning-segment candidate. The degree
    metrics' argmin can land on the wrong segment within a tile at
    planetary range (measured 25 km high at 2.5 Mm toward South
    America from 49°S); selecting directly by sampled meters bounds
    the miss by the 3-point sampling error, (seglen/4)²/(2·distance) —
    centimetres for ~20 km segments at Mm range."""
    ax, ay, bx, by = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    mx, my = (ax + bx) / 2.0, (ay + by) / 2.0
    P, Q = px[:, None], py[:, None]
    d = np.minimum(
        np.minimum(
            np.asarray(distance.haversine(ax[None, :], ay[None, :], P, Q)),
            np.asarray(distance.haversine(bx[None, :], by[None, :], P, Q))),
        np.asarray(distance.haversine(mx[None, :], my[None, :], P, Q)))
    return d.argmin(axis=1)


def _circle_cell_cover(px: np.ndarray, py: np.ndarray,
                       tol_m: float, res: int):
    """(point-index repeat, packed cell id) rows covering each point's
    24-gon tolerance circle with the closed-bbox cell semantics of
    grid.cover_bbox. The circle vertices are the CreateSimpleCircle
    step-ladder arithmetic (AreaCityQuery.java:1388-1405); everything
    is vectorized (repeat/cumsum range enumeration — no per-row
    Python). Shared by the cover-join and broadcast-index Q2 paths so
    both propose identical candidate cells by construction."""
    n_side = 1 << res
    w = grid.cell_width(res)
    km = tol_m / 1000.0
    a = 0.01 if km < 5 else 0.1 if km < 50 else 1.0 if km < 500 else 10.0
    ang = np.arange(24) * (360.0 / 24) * (np.pi / 180.0)
    cosg, sing = np.cos(ang), np.sin(ang)
    b = np.asarray(distance.haversine(px, py, px + a, py))
    c = np.asarray(distance.haversine(px, py, px, py + a))
    rb = tol_m / b * a
    rc = tol_m / c * a
    vx = px[:, None] + rb[:, None] * cosg[None, :]
    vy = py[:, None] + rc[:, None] * sing[None, :]
    minx, maxx = vx.min(axis=1), vx.max(axis=1)
    miny, maxy = vy.min(axis=1), vy.max(axis=1)
    # closed-bbox semantics of grid.cover_bbox: a min edge exactly on
    # a cell border also includes the neighbour
    fx0 = (minx + 180.0) / w
    fy0 = (miny + 90.0) / w
    x0 = np.floor(fx0)
    x0 = np.where(fx0 == x0, x0 - 1, x0)
    y0 = np.floor(fy0)
    y0 = np.where(fy0 == y0, y0 - 1, y0)
    x0 = np.clip(x0, 0, n_side - 1).astype(np.int64)
    y0 = np.clip(y0, 0, n_side - 1).astype(np.int64)
    x1 = np.clip(np.floor((maxx + 180.0) / w), 0, n_side - 1).astype(np.int64)
    y1 = np.clip(np.floor((maxy + 90.0) / w), 0, n_side - 1).astype(np.int64)
    kx = x1 - x0 + 1
    ky = y1 - y0 + 1
    cnt = kx * ky
    rep = np.repeat(np.arange(len(px)), cnt)
    offs = np.arange(int(cnt.sum()), dtype=np.int64) \
        - np.repeat(np.cumsum(cnt) - cnt, cnt)
    ix = x0[rep] + offs // ky[rep]
    iy = y0[rep] + offs % ky[rep]
    return rep, grid.pack(res, ix, iy)


_C24, _S24 = distance.circle_dirs(24)


def _in_sorted(vals: np.ndarray, sorted_arr: np.ndarray) -> np.ndarray:
    """Membership of int64 `vals` in a SORTED int64 array — the
    kernel-side twin of the join paths' LEFT SEMI region filter
    (searchsorted, no hashing)."""
    if len(sorted_arr) == 0 or len(vals) == 0:
        return np.zeros(len(vals), dtype=bool)
    pos = np.searchsorted(sorted_arr, vals)
    np.clip(pos, 0, len(sorted_arr) - 1, out=pos)
    return sorted_arr[pos] == vals


def _ambiguous_circle_keep(ppx, ppy, prb, prc,
                           seg_x1, seg_y1, seg_x2, seg_y2,
                           seg_start, seg_cnt,
                           block: int = 4096) -> np.ndarray:
    """Vectorized twin of the per-row 24-gon escape test the tolerance
    kernels used to run in a Python loop (one simple_circle +
    segs_intersect_segs_any + points_parity per razor-edge candidate):
    for each ambiguous (point, tile) row — planar nearest distance
    between the inscribed and escribed circle radii — decide whether
    the point's 24-gon ACTUALLY touches the tile's true-boundary
    segments: any gon-segment × tile-segment intersection, OR any tile
    vertex strictly inside the gon (even-odd parity).

    Bit-identical to the loop by construction: gon vertices are
    `lng + rb*cos, lat + rc*sin` over distance.circle_dirs' math.cos/
    math.sin table (simple_circle's own float step-loop), the crossing
    test is the same predicates._pair_seg_intersect orientation
    arithmetic, and the parity test is _parity_dense's expression
    (div-guarded xint, half-open rule, sum % 2).

    ppx/ppy/prb/prc: per-row point coords and per-axis degree radii;
    seg_start/seg_cnt: per-row CSR slice into the flat seg arrays.
    Processes `block` rows at a time to bound the (T, 24) temporaries.
    """
    n = len(ppx)
    out = np.zeros(n, dtype=bool)
    for b0 in range(0, n, block):
        sl = slice(b0, min(b0 + block, n))
        sc = seg_cnt[sl]
        T = int(sc.sum())
        if T == 0:
            continue
        rowp = np.repeat(np.arange(len(sc), dtype=np.int64), sc)
        offs = np.arange(T, dtype=np.int64) \
            - np.repeat(np.cumsum(sc) - sc, sc)
        tsi = np.repeat(seg_start[sl], sc) + offs
        # 24-gon segments of each row's circle, gathered per tile-seg
        gx = ppx[sl][:, None] + prb[sl][:, None] * _C24[None, :]
        gy = ppy[sl][:, None] + prc[sl][:, None] * _S24[None, :]
        bx1, by1 = gx[rowp, :24], gy[rowp, :24]
        bx2, by2 = gx[rowp, 1:], gy[rowp, 1:]
        ax1 = seg_x1[tsi][:, None]
        ay1 = seg_y1[tsi][:, None]
        ax2 = seg_x2[tsi][:, None]
        ay2 = seg_y2[tsi][:, None]
        cross = predicates._pair_seg_intersect(
            ax1, ay1, ax2, ay2, bx1, by1, bx2, by2).any(axis=1)
        # parity of the tile segment's START vertex vs the gon
        # (_parity_dense arithmetic, gon segs on axis 1)
        ydg = by2 - by1
        yd_safe = np.where(ydg == 0, 1.0, ydg)
        cond = (by1 > ay1) != (by2 > ay1)
        xint = bx1 + (ay1 - by1) / yd_safe * (bx2 - bx1)
        par = ((cond & (ax1 < xint)).sum(axis=1) % 2).astype(bool)
        hit = np.bincount(rowp, weights=(cross | par).astype(np.float64),
                          minlength=len(sc))
        out[sl] = hit > 0
    return out


def _refine_csr(ents: list, starts: np.ndarray, ends: np.ndarray,
                px0: np.ndarray, py0: np.ndarray) -> np.ndarray:
    """Many-tiny-tiles refine: decompose this batch's (point, tile)
    pairs into one ragged CSR (pair, segment) row list — row r tests
    sorted-pair `row_pair[r]` against its tile's segment `idx[r]` — and
    run the crossing-parity + on-segment kernel ONCE, reducing back per
    pair with bincount. Identical arithmetic to the per-tile broadcast
    loop (EPS, degenerate-segment handling included); only the loop
    structure differs. Returns hit flags aligned with the sorted pairs."""
    npairs = len(px0)
    lens = np.fromiter((len(e[0]) for e in ents), dtype=np.int64,
                       count=len(ents))
    X1 = np.concatenate([e[0] for e in ents])
    Y1 = np.concatenate([e[1] for e in ents])
    X2 = np.concatenate([e[2] for e in ents])
    Y2 = np.concatenate([e[3] for e in ents])
    YDS = np.concatenate([e[4] for e in ents])
    DX = np.concatenate([e[5] for e in ents])
    LN = np.concatenate([e[6] for e in ents])
    DEG = np.concatenate([e[7] for e in ents])
    seg_off = np.zeros(len(ents), dtype=np.int64)
    np.cumsum(lens[:-1], out=seg_off[1:])
    # per (sorted) pair: its group's segment count and offset
    npair_g = ends - starts
    pair_grp = np.repeat(np.arange(len(ents), dtype=np.int64), npair_g)
    segcnt = lens[pair_grp]
    tot = int(segcnt.sum())
    row_pair = np.repeat(np.arange(npairs, dtype=np.int64), segcnt)
    row_start = np.zeros(npairs, dtype=np.int64)
    np.cumsum(segcnt[:-1], out=row_start[1:])
    idx = (np.arange(tot, dtype=np.int64)
           - np.repeat(row_start, segcnt)
           + np.repeat(seg_off[pair_grp], segcnt))
    return _pair_hits_flat(X1[idx], Y1[idx], X2[idx], Y2[idx],
                           YDS[idx], DX[idx], LN[idx], DEG[idx],
                           row_pair, px0[row_pair], py0[row_pair], npairs)


def _pair_hits_flat(x1, y1, x2, y2, yds, dxv, ln, degen,
                    row_pair, p, q, npairs: int) -> np.ndarray:
    """Shared flat (pair, segment)-row kernel: every input array is one
    value per segment ROW (already gathered), `row_pair` maps each row
    to its pair, `p`/`q` are the pair's point repeated per row. Crossing
    parity (half-open `p < xint`) reduces per pair with bincount; EPS
    on-segment acceptance ORs in. Arithmetic is pinned bit-for-bit by
    tests/test_refine_csr.py — both the CSR refine and the broadcast
    boundary-index refine call exactly this."""
    cond = (y1 > q) != (y2 > q)
    xint = x1 + (q - y1) / yds * dxv
    crossing = cond & (p < xint)
    parity = (np.bincount(row_pair[crossing], minlength=npairs) % 2) == 1
    qx = p - x1
    qy = q - y1
    yd = y2 - y1
    crossp = np.abs(qx * yd - qy * dxv) / ln
    if degen.any():
        crossp = np.where(degen, np.hypot(qx, qy), crossp)
    t_par = (qx * dxv + qy * yd) / (ln * ln)
    if degen.any():
        t_par = np.where(degen, 0.0, t_par)
    on = (crossp <= predicates.EPS) & (t_par >= -predicates.EPS) \
        & (t_par <= 1 + predicates.EPS)
    hit = parity
    hit[np.unique(row_pair[on])] = True
    return hit


def _make_refine_fn(id_cols: tuple[str, ...]):
    """Build the exact point-refine UDF — the JTS
    `subGeom.intersects(point)` analog
    (/root/reference/AreaCityQuery.java:260-263) — FULLY vectorized:
    no per-group Python loop. Each Arrow batch is one flat (point, tile)
    pair list straight from the equi-join; kind=2 rows reduce to a
    column-wise rect test, and kind=0 rows expand into a ragged
    (pair → tile segment) CSR layout tested with a single broadcast
    crossing/on-segment kernel, reduced back per pair with bincount.
    Tile WKB decodes are cached across batches for the task's lifetime.
    `id_cols` pass through opaquely (point_id, or (doc_id, span_idx)
    for the docs-table join)."""
    id_list = list(id_cols)

    def _empty(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf[id_list].iloc[:0].copy()
        out["region_id"] = pd.Series([], dtype="int64")
        return out

    def _refine_point_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # tile registry: (cell_id, region_id, minx-bits) → column-major
        # segment arrays; cached for the task's lifetime. The upstream
        # repartition by cell keeps each tile on one task, so each WKB
        # decodes once per job, and the per-tile (points × segments)
        # broadcast keeps the segment arrays L1-resident — the refine
        # streams only the (contiguous) point slices from memory.
        registry: dict[tuple, tuple] = {}
        for pdf in it:
            if len(pdf) == 0:
                yield _empty(pdf)
                continue
            kind = pdf["kind"].to_numpy()
            px_all = np.asarray(pdf["lng"], dtype=np.float64)
            py_all = np.asarray(pdf["lat"], dtype=np.float64)
            hit_all = np.zeros(len(pdf), dtype=bool)

            # ---- kind=2 interior sub-cells: one column-wise rect test
            m2 = kind == 2
            if m2.any():
                hit_all[m2] = (
                    (px_all[m2] >= pdf["minx"].to_numpy()[m2])
                    & (px_all[m2] < pdf["maxx"].to_numpy()[m2])
                    & (py_all[m2] >= pdf["miny"].to_numpy()[m2])
                    & (py_all[m2] < pdf["maxy"].to_numpy()[m2])
                )

            # ---- kind=0 boundary tiles: group rows per tile, test each
            # tile's points in one (points × segments) broadcast
            m0 = np.nonzero(kind == 0)[0]
            if len(m0):
                cid = pdf["cell_id"].to_numpy()[m0]
                rid = pdf["region_id"].to_numpy()[m0]
                mnx_bits = pdf["minx"].to_numpy()[m0].view(np.int64)
                mny_bits = pdf["miny"].to_numpy()[m0].view(np.int64)
                order = np.lexsort((mny_bits, mnx_bits, rid, cid))
                cs, rs = cid[order], rid[order]
                xs, ys = mnx_bits[order], mny_bits[order]
                new_grp = np.empty(len(m0), dtype=bool)
                new_grp[0] = True
                new_grp[1:] = (np.diff(cs) != 0) | (np.diff(rs) != 0) | \
                              (np.diff(xs) != 0) | (np.diff(ys) != 0)
                starts = np.nonzero(new_grp)[0]
                ends = np.append(starts[1:], len(m0))
                px0 = px_all[m0][order]
                py0 = py_all[m0][order]
                hit0 = np.zeros(len(m0), dtype=bool)
                wkb_col = pdf["tile_wkb"].to_numpy()[m0][order]
                ents = []
                for s0 in starts:
                    key = (cs[s0], rs[s0], xs[s0], ys[s0])
                    ent = registry.get(key)
                    if ent is None:
                        g = wkb.loads(bytes(wkb_col[s0]))
                        segs = predicates.segments_of_rings(core.all_rings(g))
                        x1, y1, x2, y2 = (np.ascontiguousarray(segs[:, k])
                                          for k in range(4))
                        yd = y2 - y1
                        yds = np.where(yd == 0, 1.0, yd)
                        dx = x2 - x1
                        ln = np.hypot(dx, yd)
                        degen = ln == 0
                        ln = np.where(degen, 1.0, ln)
                        ent = (x1, y1, x2, y2, yds, dx, ln, degen)
                        registry[key] = ent
                    ents.append(ent)
                # two regimes (same predicate, same arithmetic):
                #  - FEW big tiles (sparse boundary sets, e.g. 34
                #    provinces): per-tile (points × segments) broadcast —
                #    the tile's segment arrays stay L1-resident while a
                #    long contiguous point slice streams through.
                #  - MANY tiny tiles (reference-density sets: the dense
                #    fixture joins ~9k groups of ~7 points × ~3 segments
                #    per Arrow batch): the per-group Python loop costs
                #    more than the math — decompose into one ragged CSR
                #    (pair, segment) row list and run ONE kernel per
                #    batch, reducing parity/on-segment back per pair
                #    with bincount (the Q3 refine's layout).
                if len(starts) > 64:
                    hit0 = _refine_csr(ents, starts, ends, px0, py0)
                else:
                    for gi, (s0, s1) in enumerate(zip(starts, ends)):
                        x1, y1, x2, y2, yds, dx, ln, degen = ents[gi]
                        p = px0[s0:s1][:, None]
                        q = py0[s0:s1][:, None]
                        cond = (y1[None, :] > q) != (y2[None, :] > q)
                        xint = x1[None, :] + (q - y1[None, :]) / yds[None, :] * dx[None, :]
                        crossing = cond & (p < xint)
                        parity = (crossing.sum(axis=1) % 2) == 1
                        qx = p - x1[None, :]
                        qy = q - y1[None, :]
                        crossp = np.abs(qx * (y2 - y1)[None, :] - qy * dx[None, :]) / ln[None, :]
                        if degen.any():
                            crossp = np.where(degen[None, :], np.hypot(qx, qy), crossp)
                        t_par = (qx * dx[None, :] + qy * (y2 - y1)[None, :]) / (ln * ln)[None, :]
                        if degen.any():
                            t_par = np.where(degen[None, :], 0.0, t_par)
                        on = (crossp <= predicates.EPS) & (t_par >= -predicates.EPS) \
                            & (t_par <= 1 + predicates.EPS)
                        hit0[s0:s1] = parity | on.any(axis=1)
                back = np.empty(len(m0), dtype=np.int64)
                back[order] = np.arange(len(m0))
                hit_all[m0] = hit0[back]

            if not hit_all.any():
                yield _empty(pdf)
                continue
            out = pdf.loc[hit_all, id_list + ["region_id"]].copy()
            # same (point, region) may hit via several sub-tiles under one
            # base key — dedup within the batch (such pairs sit within one
            # probe row's join fan-out, which Arrow keeps in one batch)
            out = out.drop_duplicates(id_list + ["region_id"])
            out["region_id"] = out["region_id"].astype("int64")
            yield out

    return _refine_point_batches


def _cell_pairs(cells: np.ndarray, cell_ptr: np.ndarray, cid: np.ndarray):
    """(row, slot, entry) pairs of a sorted-cell CSR lookup: each row
    of `cid` whose cell is in `cells` (at index `slot`) pairs with every
    entry of that cell's range. Formed by `searchsorted` plus
    repeat/cumsum range expansion (no per-row Python); rows come out
    ascending. Shared by the Q1, Q2 and Q3 index kernels."""
    if len(cells) == 0 or len(cid) == 0:
        e = np.empty(0, np.int64)
        return e, e, e
    ci = np.searchsorted(cells, cid)
    np.clip(ci, 0, len(cells) - 1, out=ci)
    rows = np.nonzero(cells[ci] == cid)[0]  # semi-join guard
    slots = ci[rows]
    c0 = cell_ptr[slots]
    cnt = cell_ptr[slots + 1] - c0
    starts = np.zeros(len(rows), dtype=np.int64)
    np.cumsum(cnt[:-1], out=starts[1:])
    entry = (np.arange(int(cnt.sum()), dtype=np.int64)
             - np.repeat(starts, cnt) + np.repeat(c0, cnt))
    return np.repeat(rows, cnt), np.repeat(slots, cnt), entry


# y-slabs per boundary tile: `_index_point_hits` tests a probe only
# against the segments listed under its slab
SLABS = 16


def _slab_of(y: np.ndarray, y0: np.ndarray, h: np.ndarray) -> np.ndarray:
    """Slab of each `y` in its tile's grid (`slab_y0`, `slab_h`):
    clip(floor((y - y0) / h), 0, SLABS - 1), NaN to slab 0. Monotone in
    y, so a segment listed under the slabs of its padded y-range ends
    is listed under the slab of every y in between. The build and the
    kernel both call this, so both evaluate the same float expression."""
    s = np.floor((y - y0) / h)
    s[np.isnan(s)] = 0
    return np.clip(s, 0, SLABS - 1).astype(np.int64)


def _build_boundary_index(pdf: pd.DataFrame) -> dict:
    """The driver-side numpy half of `SpatialEngine._boundary_index`:
    one row per kind≠1 tile (cell_id, region_id, deep, kind, minx,
    miny, maxx, maxy, segs = the tile's ring segments as packed
    float64 x1,y1,x2,y2 rows) → the broadcast index dict:

    - `cells`/`cell_ptr`: sorted cell table and per-cell tile ranges;
      per tile `region`, `deep`, `kind`, the rect, and `seg_ptr`;
    - `SEG` (nseg, 5): x1, y1, x2, y2, ln per segment, each segment
      once (ln = its length, 1.0 when degenerate);
    - the y-slab CSR: each tile's [miny, maxy] cut into SLABS equal
      slabs (`slab_y0`, `slab_h`); slab t*SLABS+s lists (`slab_ptr`,
      `slab_seg`) every segment of tile t whose y-range, padded by
      4·EPS·(1 + ln), overlaps slab s. No other segment can cross a
      probe's scanline or accept it within EPS, so the kernel tests
      only the probe's slab;
    - `fseg_ptr`/`fseg`: per tile, the indexes into SEG of the
      segments fit for distance use (window runs dropped, as
      `_distance_segs`).
    """
    cell = pdf["cell_id"].to_numpy().astype(np.int64)
    region = pdf["region_id"].to_numpy().astype(np.int64)
    # a null deep is one more level of its own, as in a Window
    # partitioned by deep
    deep = pdf["deep"].fillna(np.iinfo(np.int64).min) \
        .to_numpy().astype(np.int64)
    kind = pdf["kind"].to_numpy().astype(np.int64)
    rect = {k: pdf[k].to_numpy().astype(np.float64)
            for k in ("minx", "miny", "maxx", "maxy")}
    order = np.lexsort((rect["miny"].view(np.int64),
                        rect["minx"].view(np.int64), region, cell))
    cell, region, deep, kind = (cell[order], region[order],
                                deep[order], kind[order])
    rect = {k: v[order] for k, v in rect.items()}
    segs_list = pdf["segs"].to_numpy()[order]
    seg_len = np.fromiter((len(b) // 32 for b in segs_list),
                          dtype=np.int64, count=len(segs_list))
    seg_ptr = np.zeros(len(segs_list) + 1, dtype=np.int64)
    np.cumsum(seg_len, out=seg_ptr[1:])
    S = np.frombuffer(b"".join(segs_list), dtype=np.float64).reshape(-1, 4)
    x1, y1, x2, y2 = S[:, 0], S[:, 1], S[:, 2], S[:, 3]
    ln = np.hypot(x2 - x1, y2 - y1)
    ln[ln == 0] = 1.0
    cells, first = np.unique(cell, return_index=True)
    cell_ptr = np.append(first, len(cell)).astype(np.int64)
    ntiles = len(cell)
    tile_of_seg = np.repeat(np.arange(ntiles, dtype=np.int64), seg_len)

    y0 = rect["miny"]
    h = (rect["maxy"] - y0) / SLABS
    ok = np.isfinite(y0) & np.isfinite(h) & (h > 0)
    y0, h = np.where(ok, y0, 0.0), np.where(ok, h, 1.0)
    pad = 4 * predicates.EPS * (1 + ln)
    ty0, th = y0[tile_of_seg], h[tile_of_seg]
    s_lo = _slab_of(np.minimum(y1, y2) - pad, ty0, th)
    s_hi = _slab_of(np.maximum(y1, y2) + pad, ty0, th)
    n_in = s_hi - s_lo + 1
    seg_of = np.repeat(np.arange(len(S), dtype=np.int64), n_in)
    key = (tile_of_seg * SLABS + s_lo)[seg_of] \
        + np.arange(len(seg_of)) - np.repeat(np.cumsum(n_in) - n_in, n_in)
    slab_ptr = np.zeros(ntiles * SLABS + 1, dtype=np.int64)
    np.cumsum(np.bincount(key, minlength=ntiles * SLABS), out=slab_ptr[1:])
    ix = np.int32 if len(seg_of) < 2**31 else np.int64

    # window-run-filtered segments for DISTANCE use (the index twin of
    # _distance_segs: exact float equality against the per-tile
    # CLIP_EPS-expanded window identifies closure/bridge runs, which
    # must never feed a nearest-distance). Parity and containment use
    # every segment.
    wx0 = (rect["minx"] - tiler.CLIP_EPS)[tile_of_seg]
    wy0 = (rect["miny"] - tiler.CLIP_EPS)[tile_of_seg]
    wx1 = (rect["maxx"] + tiler.CLIP_EPS)[tile_of_seg]
    wy1 = (rect["maxy"] + tiler.CLIP_EPS)[tile_of_seg]
    on_win = (((x1 == x2) & ((x1 == wx0) | (x1 == wx1)))
              | ((y1 == y2) & ((y1 == wy0) | (y1 == wy1))))
    fseg = np.nonzero(~on_win)[0]
    fseg_ptr = np.zeros(ntiles + 1, dtype=np.int64)
    np.cumsum(np.bincount(tile_of_seg[fseg], minlength=ntiles),
              out=fseg_ptr[1:])
    return {
        "cells": cells, "cell_ptr": cell_ptr,
        "region": region, "deep": deep, "kind": kind,
        "minx": rect["minx"], "miny": rect["miny"],
        "maxx": rect["maxx"], "maxy": rect["maxy"],
        "seg_ptr": seg_ptr, "SEG": np.column_stack((S, ln)),
        "slab_y0": y0, "slab_h": h,
        "slab_ptr": slab_ptr.astype(ix),
        "slab_seg": seg_of[np.argsort(key, kind="stable")].astype(ix),
        "fseg_ptr": fseg_ptr, "fseg": fseg.astype(ix),
    }


def _index_point_hits(I: dict, px: np.ndarray, py: np.ndarray,
                      cid: np.ndarray, keep: np.ndarray | None = None,
                      J: dict | None = None):
    """Q1 hits of one batch of probe points against the broadcast
    indexes — the one kernel behind the one-pass Q1 UDF
    (`_make_regions_udf`) and the boundary-only refine
    (`_make_index_refine_fn`). The distributed analog of the
    reference's in-memory STRtree process index (AreaCityQuery.java:50-53):
    the indexes ship once per worker, the probe table never shuffles.

    I is the boundary index (`_boundary_index`, kind 0/2 tiles with
    pre-decoded segments), J the interior index (`_interior_index`,
    kind 1) or None for boundary hits only, `keep` the sorted region
    ids of a `where` filter (None = unfiltered) — the in-kernel twin of
    the join paths' LEFT SEMI tile filter, applied to both indexes.

    Returns ((ir, ig), (br, bg)): interior and boundary (row, region)
    hit pairs, each sorted by row. Interior pairs are one per interior
    tile row of the probe's cell (the interior equi-join's fan-out);
    boundary pairs are deduped per (row, region), since several
    sub-tiles of one region in one cell may all accept the same point.
    Kind-2 tiles accept by half-open rect, kind-0 tiles by the flat
    crossing-parity / on-segment kernel (`_pair_hits_flat`, bit-
    identical to the join refine's). A kind-0 pair gathers only the
    rows of its probe's y-slab from the packed segment store `SEG`
    (`_build_boundary_index`): the segments left out can neither
    cross the probe's scanline nor accept it within EPS, so the hits
    are those of the tile's full segment list."""
    empty = np.empty(0, np.int64)
    ir, ig = empty, empty
    if J is not None:
        ir, _, ient = _cell_pairs(J["cells"], J["cell_ptr"], cid)
        ig = J["region"][ient]
        if keep is not None:
            km = _in_sorted(ig, keep)
            ir, ig = ir[km], ig[km]

    row_pt, _, pair_tile = _cell_pairs(I["cells"], I["cell_ptr"], cid)
    if keep is not None:
        km = _in_sorted(I["region"][pair_tile], keep)
        pair_tile, row_pt = pair_tile[km], row_pt[km]
    ppx = px[row_pt]
    ppy = py[row_pt]
    kindt = I["kind"][pair_tile]
    hit_rows, hit_regs = [], []

    m2 = kindt == 2
    if m2.any():
        t2 = pair_tile[m2]
        h2 = ((ppx[m2] >= I["minx"][t2]) & (ppx[m2] < I["maxx"][t2])
              & (ppy[m2] >= I["miny"][t2]) & (ppy[m2] < I["maxy"][t2]))
        hit_rows.append(row_pt[m2][h2])
        hit_regs.append(I["region"][t2][h2])

    m0 = np.nonzero(kindt == 0)[0]
    if len(m0):
        t0 = pair_tile[m0]
        p0x = ppx[m0]
        p0y = ppy[m0]
        slab = t0 * SLABS + _slab_of(p0y, I["slab_y0"][t0], I["slab_h"][t0])
        soff = I["slab_ptr"][slab].astype(np.int64)
        slen = I["slab_ptr"][slab + 1] - soff
        tot_s = int(slen.sum())
        npairs0 = len(m0)
        row_pair = np.repeat(np.arange(npairs0, dtype=np.int64), slen)
        rstart = np.zeros(npairs0, dtype=np.int64)
        np.cumsum(slen[:-1], out=rstart[1:])
        S = I["SEG"][I["slab_seg"][np.arange(tot_s, dtype=np.int64)
                                   - np.repeat(rstart, slen)
                                   + np.repeat(soff, slen)]]
        x1, y1, x2, y2, ln = S.T
        dx = x2 - x1
        yd = y2 - y1
        hit0 = _pair_hits_flat(
            x1, y1, x2, y2, np.where(yd == 0, 1.0, yd), dx, ln,
            (dx == 0) & (yd == 0),
            row_pair, p0x[row_pair], p0y[row_pair], npairs0)
        hit_rows.append(row_pt[m0][hit0])
        hit_regs.append(I["region"][t0][hit0])

    br = np.concatenate(hit_rows) if hit_rows else empty
    if len(br) == 0:
        return (ir, ig), (empty, empty)
    bg = np.concatenate(hit_regs)
    order = np.lexsort((bg, br))
    br, bg = br[order], bg[order]
    first = np.empty(len(br), dtype=bool)
    first[0] = True
    first[1:] = (np.diff(br) != 0) | (np.diff(bg) != 0)
    return (ir, ig), (br[first], bg[first])


def _make_index_refine_fn(id_cols: tuple[str, ...], bc,
                          keep: np.ndarray | None = None):
    """Boundary-only refine against the broadcast boundary index, as a
    mapInPandas function over (*id_cols, lng, lat, cell_id) batches →
    (*id_cols, region_id). The Q1 union plan's boundary leg when the
    interior index is off or over budget (the one-pass plan otherwise
    resolves both kinds in `_make_regions_udf`). Compared with the
    join-based refine, probe rows stream through UNSHUFFLED and no
    per-pair tile WKB crosses Arrow (measured on the dense fixture:
    3.8M pairs ≈ 0.9 GB Arrow traffic per 10M probes)."""
    id_list = list(id_cols)

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = bc.value  # unpickled once per worker process, reused
        for pdf in it:
            _, (hr, hg) = _index_point_hits(
                idx, np.asarray(pdf["lng"], dtype=np.float64),
                np.asarray(pdf["lat"], dtype=np.float64),
                pdf["cell_id"].to_numpy(), keep)
            out = pdf.iloc[hr][id_list].copy()
            out["region_id"] = hg.astype("int64")
            yield out

    return fn


def _make_regions_udf(ib, bb, keep: np.ndarray | None = None,
                      counts: bool = False):
    """The one-pass Q1 index kernel as a scalar Arrow UDF:
    (lng, lat, cell_id) → array<bigint> of the probe's region ids,
    interior hits first. Only these three columns (24 bytes per probe)
    cross into Python; the caller's id columns stay in the JVM and the
    plan explodes the array. ib / bb are the interior / boundary index
    Broadcasts, `keep` as in `_index_point_hits`.

    counts=True returns struct<region_id array<bigint>, interior int>
    instead, `interior` being how many of the ids are interior hits —
    what `query_points_with_metrics` observes before the explode."""
    ids_type = ArrayType(LongType())
    out_type = (StructType([StructField("region_id", ids_type),
                            StructField("interior", IntegerType())])
                if counts else ids_type)

    def regions(lng: pa.Array, lat: pa.Array, cell: pa.Array) -> pa.Array:
        n = len(cell)
        if cell.null_count:
            cell = cell.fill_null(-1)  # cell ids are never negative
        (ir, ig), (br, bg) = _index_point_hits(
            bb.value, lng.to_numpy(zero_copy_only=False),
            lat.to_numpy(zero_copy_only=False),
            cell.to_numpy(zero_copy_only=False), keep, ib.value)
        rows = np.concatenate((ir, br))
        # both runs are row-sorted, so the stable sort is one merge
        order = np.argsort(rows, kind="stable")
        offsets = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(np.bincount(rows, minlength=n), out=offsets[1:])
        ids = pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(np.concatenate((ig, bg))[order]))
        if not counts:
            return ids
        n_int = np.bincount(ir, minlength=n).astype(np.int32)
        return pa.StructArray.from_arrays(
            [ids, pa.array(n_int)], names=["region_id", "interior"])

    # the pa.Array hints make this a SCALAR Arrow UDF; they resolve
    # against the module-level pyarrow import
    return F.arrow_udf(regions, out_type)


def _tolerance_pairs(I: dict, px: np.ndarray, py: np.ndarray, tol: float,
                     base_res: int, keep: np.ndarray | None = None):
    """tolerance>0 candidates of a batch of Q1-miss points against the
    boundary index (≙ the reference's per-feature 24-gon scan,
    AreaCityQuery.java:102-163): per-point cover cells enumerated
    in-kernel (`_circle_cell_cover`), candidate tiles looked up in the
    index CSR, per-(point, tile) planar-nearest computed FLAT over all
    (pair, segment) rows (min + first-argmin via reduceat — the exact
    arithmetic of predicates.nearest_on_segments, over the tile's
    window-run-filtered segments, read from the packed store as
    `SEG[fseg[fseg_ptr[t]:fseg_ptr[t + 1]]]`), then the same
    inscribed/escribed radius gates + exact 24-gon test as the
    cover-join dist_fn. Rows are bit-identical to the cover-join
    path's; `keep` as in `_index_point_hits`.

    Returns (point, tile, dist_m): one row per kept (point, tile) pair,
    point indexing px/py and tile indexing I's per-tile arrays (a
    region with several tiles in reach gets several rows)."""
    empty = np.empty(0, np.int64)
    none = (empty, empty, np.empty(0, np.float64))
    if not len(px):
        return none
    fptr = I["fseg_ptr"]
    rep, cells = _circle_cell_cover(px, py, tol, base_res)
    crow, _, tix = _cell_pairs(I["cells"], I["cell_ptr"], cells)
    prep = rep[crow]
    scnt = fptr[tix + 1] - fptr[tix]
    # boundary tiles only, and (as dist_fn) skip tiles with no
    # true-boundary segments after window-run filtering; `keep` = the
    # in-kernel twin of _tiles_for's LEFT SEMI region filter
    m = (I["kind"][tix] == 0) & (scnt > 0)
    if keep is not None:
        m &= _in_sorted(I["region"][tix], keep)
    prep, tix, scnt = prep[m], tix[m], scnt[m]
    if not len(prep):
        return none
    s0 = fptr[tix]
    srep = np.repeat(np.arange(len(prep), dtype=np.int64), scnt)
    soffs = np.arange(int(scnt.sum()), dtype=np.int64) \
        - np.repeat(np.cumsum(scnt) - scnt, scnt)
    sidx = np.repeat(s0, scnt) + soffs
    ax, ay, bx, by = I["SEG"][I["fseg"][sidx], :4].T
    dxs, dys = bx - ax, by - ay
    ln2 = dxs * dxs + dys * dys
    ln2 = np.where(ln2 == 0, 1.0, ln2)
    pp = prep[srep]
    qx = px[pp] - ax
    qy = py[pp] - ay
    t = np.clip((qx * dxs + qy * dys) / ln2, 0.0, 1.0)
    cx = ax + t * dxs
    cy = ay + t * dys
    d2 = (px[pp] - cx) ** 2 + (py[pp] - cy) ** 2
    starts = np.zeros(len(prep), dtype=np.int64)
    np.cumsum(scnt[:-1], out=starts[1:])
    dmin2 = np.minimum.reduceat(d2, starts)
    # first row (in segment order) achieving the min — the argmin
    # predicates.nearest_on_segments would pick
    big = np.where(d2 == dmin2[srep], soffs, np.int64(1) << 62)
    frow = starts + np.minimum.reduceat(big, starts)
    nx, ny = cx[frow], cy[frow]
    # anisotropy-corrected second candidate (r5) — the flat
    # transcription of nearest_on_segments_scaled, formula for formula
    # (bit-identity with the join path's matrix form; same first-hit
    # tie-break)
    wq = np.cos(np.radians(py))[pp]
    dxw = dxs * wq
    qxw = qx * wq
    ln2s = dxw * dxw + dys * dys
    ln2s = np.where(ln2s == 0, 1.0, ln2s)
    ts = np.clip((qxw * dxw + qy * dys) / ln2s, 0.0, 1.0)
    cxs = ax + ts * dxs
    cys = ay + ts * dys
    d2s = ((px[pp] - cxs) * wq) ** 2 + (py[pp] - cys) ** 2
    dmin2s = np.minimum.reduceat(d2s, starts)
    bigs = np.where(d2s == dmin2s[srep], soffs, np.int64(1) << 62)
    frows = starts + np.minimum.reduceat(bigs, starts)
    sxx, syy = cxs[frows], cys[frows]
    d_planar = np.sqrt(dmin2)
    # per-point circle radii — the exact CreateSimpleCircle step-ladder
    # arithmetic (identical to dist_fn's)
    km = tol / 1000.0
    a = 0.01 if km < 5 else 0.1 if km < 50 else 1.0 if km < 500 else 10.0
    b = np.asarray(distance.haversine(px, py, px + a, py))
    c = np.asarray(distance.haversine(px, py, px, py + a))
    rb = tol / b * a
    rc = tol / c * a
    rmin_p = np.minimum(rb, rc) * np.cos(np.pi / 24)
    rmax_p = np.maximum(rb, rc)
    definite = d_planar <= rmin_p[prep]
    impossible = d_planar > rmax_p[prep]
    ok = definite.copy()
    amb = np.nonzero(~definite & ~impossible)[0]
    if len(amb):
        # only segments within the outer radius can cross the 24-gon or
        # start inside it (its vertices lie within rmax of the point);
        # the 1e-9 relative margin is far above the rounding error, so
        # dropping the rest leaves every verdict as it was
        is_amb = np.zeros(len(prep), dtype=bool)
        is_amb[amb] = True
        reach2 = (rmax_p[prep] * (1.0 + 1e-9)) ** 2
        near = is_amb[srep] & (d2 <= reach2[srep])
        ncnt = np.bincount(srep[near], minlength=len(prep))[amb]
        nstart = np.zeros(len(amb), dtype=np.int64)
        np.cumsum(ncnt[:-1], out=nstart[1:])
        pa_ = prep[amb]
        ok[amb] = _ambiguous_circle_keep(
            px[pa_], py[pa_], rb[pa_], rc[pa_],
            ax[near], ay[near], bx[near], by[near], nstart, ncnt)
    if not ok.any():
        return none
    kp = prep[ok]
    d0 = np.asarray(distance.haversine(nx[ok], ny[ok], px[kp], py[kp]))
    d1 = np.asarray(distance.haversine(sxx[ok], syy[ok], px[kp], py[kp]))
    # the scaled candidate wins only on a GENUINE improvement (rel
    # 1e-12), the join path's guard (bit-identity across paths and
    # with pre-r5 gates)
    d = np.where(d1 < d0 * (1.0 - 1e-12), d1, d0)
    return kp, tix[ok], np.asarray(d, dtype=np.float64)


def _nearest_per_deep(row: np.ndarray, region: np.ndarray,
                      deep: np.ndarray, dist: np.ndarray, k: int):
    """`_finish_tolerance`'s reduction on one batch, in numpy: the min
    distance per (row, region), then the first `k` regions per (row,
    deep) ordered by (dist, region_id) — the min-agg plus the
    `row_number() <= k` window. Returns (row, region, dist)."""
    o = np.lexsort((dist, region, row))
    row, region, deep, dist = row[o], region[o], deep[o], dist[o]
    first = np.ones(len(row), dtype=bool)
    first[1:] = (row[1:] != row[:-1]) | (region[1:] != region[:-1])
    row, region, deep, dist = row[first], region[first], deep[first], \
        dist[first]
    o = np.lexsort((region, dist, deep, row))
    row, region, deep, dist = row[o], region[o], deep[o], dist[o]
    pos = np.arange(len(row))
    new = np.ones(len(row), dtype=bool)
    new[1:] = (row[1:] != row[:-1]) | (deep[1:] != deep[:-1])
    rank = pos - np.maximum.accumulate(np.where(new, pos, 0))
    sel = rank < k
    return row[sel], region[sel], dist[sel]


def _make_nearest_udf(ib, bb, tol: float, base_res: int, k: int,
                      keep: np.ndarray | None = None):
    """The one-pass Q2 (tolerance>0) kernel as a scalar Arrow UDF:
    (lng, lat, cell_id) → array<struct<region_id bigint, dist_m
    double>>. A probe with Q1 hits (`_index_point_hits`, as
    `_make_regions_udf`) gets them with dist_m null; any other probe
    with coordinates gets its tolerance candidates (`_tolerance_pairs`)
    reduced to the nearest `k` regions per deep level
    (`_nearest_per_deep`). ib / bb and `keep` as in `_make_regions_udf`;
    the per-tile `deep` array of the boundary index maps candidates to
    their level."""
    out_type = ArrayType(StructType([StructField("region_id", LongType()),
                                     StructField("dist_m", DoubleType())]))

    def nearest(lng: pa.Array, lat: pa.Array, cell: pa.Array) -> pa.Array:
        n = len(cell)
        if cell.null_count:
            cell = cell.fill_null(-1)  # cell ids are never negative
        I = bb.value
        px = lng.to_numpy(zero_copy_only=False)  # nulls read as NaN
        py = lat.to_numpy(zero_copy_only=False)
        (ir, ig), (br, bg) = _index_point_hits(
            I, px, py, cell.to_numpy(zero_copy_only=False), keep, ib.value)
        hit = np.zeros(n, dtype=bool)
        hit[ir] = True
        hit[br] = True
        miss = np.nonzero(~hit & ~np.isnan(px) & ~np.isnan(py))[0]
        prow, tix, dist = _tolerance_pairs(I, px[miss], py[miss], tol,
                                           base_res, keep)
        tr, tg, td = _nearest_per_deep(miss[prow], I["region"][tix],
                                       I["deep"][tix], dist, k)
        rows = np.concatenate((ir, br, tr))
        order = np.argsort(rows, kind="stable")
        offsets = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(np.bincount(rows, minlength=n), out=offsets[1:])
        n_q1 = len(ir) + len(br)
        dist_all = np.concatenate((np.zeros(n_q1), td))[order]
        q1_row = (np.arange(len(rows)) < n_q1)[order]
        values = pa.StructArray.from_arrays(
            [pa.array(np.concatenate((ig, bg, tg))[order]),
             pa.array(dist_all, mask=q1_row)],
            names=["region_id", "dist_m"])
        return pa.ListArray.from_arrays(pa.array(offsets), values)

    return F.arrow_udf(nearest, out_type)


def _distance_prop_json():
    """prop_json of a tolerance match as the reference annotates it
    (AreaCityQuery.java:142): {...props, "PointDistanceID": N,
    "PointDistance": D.DD}, over (prop_json, region_id, dist_m)."""
    return F.concat(
        F.expr("substring(prop_json, 1, length(prop_json) - 1)"),
        F.lit(', "PointDistanceID": '), F.col("region_id").cast("string"),
        F.lit(', "PointDistance": '), F.format_string("%.2f", F.col("dist_m")),
        F.lit("}"),
    )


def _probe_is_rect(g: dict, b: tuple[float, float, float, float]) -> bool:
    """True when the probe geometry is exactly its bbox: a POINT
    (degenerate rect) or a single-ring axis-aligned rectangle POLYGON.
    Such probes go through the columnar rect kernels in the Q3 refine."""
    if g["type"] == "Point":
        return True
    if g["type"] != "Polygon" or len(g["rings"]) != 1:
        return False
    ring = g["rings"][0]
    if len(ring) != 5:
        return False
    minx, miny, maxx, maxy = b
    corners = {(minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy)}
    return {(float(x), float(y)) for x, y in ring[:4]} == corners


def _decompose_probe_batch(pdf: pd.DataFrame):
    """Columnar Q3 probe decomposition, shared by the cover-join path
    and the broadcast-index refine. One Arrow batch of (probe_id, wkt)
    rows becomes flat primitive arrays:

      pkind 1 = axis-aligned rect or point (p0..p3 = bbox; a MULTIPOINT
      is one degenerate rect per point), pkind 2 = line SEGMENT
      (p0..p3 = endpoints; every LineString / MultiLineString / polygon
      ring decomposes into one row per segment — each segment's own
      bbox cover is far tighter than the whole geometry's), pkind 3 =
      one containment row per polygonal member (carries WKT; catches
      tile⊂probe when no boundary crossing exists), pkind 0 =
      unrecognized shape (exact pairwise fallback — unreachable for
      codec-parsed WKT, kept defensively). GEOMETRYCOLLECTION flattens
      into its members (JTS `intersects` over a collection = union of
      member hits; ≙ WKTReader-accepts-anything,
      /root/reference/AreaCityQuery.java:175-179). Segment extraction
      is numpy per ring/line (hstack of shifted views) — no per-segment
      Python.

    Returns (pid_a, kind_a, p_a(k,4), wkt_a(object), bb_a(k,4)) or
    None when the batch decomposes to zero primitive rows."""
    r_pid: list[np.ndarray] = []
    r_kind: list[np.ndarray] = []
    r_p: list[np.ndarray] = []    # (k,4) p0..p3 payloads
    r_wkt: list[np.ndarray] = []  # object, None for kinds 1/2
    r_bb: list[np.ndarray] = []   # (k,4) cover bboxes

    def add(pid, pk, pvals, bb, wout=None):
        k = len(pvals)
        if k == 0:
            return
        r_pid.append(np.full(k, pid, dtype=np.int64))
        r_kind.append(np.full(k, pk, dtype=np.int64))
        r_p.append(np.asarray(pvals, dtype=np.float64))
        w_arr = np.empty(k, dtype=object)
        w_arr[:] = wout
        r_wkt.append(w_arr)
        r_bb.append(np.asarray(bb, dtype=np.float64))

    def seg_rows(pid, lines):
        segs = [np.hstack([l[:-1], l[1:]])
                for l in lines if len(l) >= 2]
        if not segs:
            return
        sv = np.vstack(segs)
        bb = np.column_stack([
            np.minimum(sv[:, 0], sv[:, 2]),
            np.minimum(sv[:, 1], sv[:, 3]),
            np.maximum(sv[:, 0], sv[:, 2]),
            np.maximum(sv[:, 1], sv[:, 3])])
        add(pid, 2, sv, bb)

    for pid, w_ in zip(pdf["probe_id"], pdf["wkt"]):
        root = wkt_codec.loads(w_)
        for g in core.flatten(root):
            if core.is_empty(g):
                continue
            pid_i = int(pid)
            b = core.bounds(g)
            t = g["type"]
            if t == "MultiPoint":
                xy = np.asarray(g["xy"], dtype=np.float64)
                pv = np.hstack([xy, xy])
                add(pid_i, 1, pv, pv)
            elif _probe_is_rect(g, b):
                pv = np.array([b], dtype=np.float64)
                add(pid_i, 1, pv, pv)
            elif t in ("LineString", "MultiLineString"):
                seg_rows(pid_i, [g["xy"]] if t == "LineString"
                         else g["lines"])
            elif t in ("Polygon", "MultiPolygon"):
                seg_rows(pid_i, core.all_rings(g))
                pv = np.array([b], dtype=np.float64)
                # collection members re-dump so the refine's
                # WKT-keyed probe cache sees ONE member each
                add(pid_i, 3, pv, pv,
                    wkt_codec.dumps(g)
                    if root["type"] == "GeometryCollection"
                    else w_)
            else:
                pv = np.array([b], dtype=np.float64)
                add(pid_i, 0, pv, pv, wkt_codec.dumps(g))
    if not r_pid:
        return None
    return (np.concatenate(r_pid), np.concatenate(r_kind),
            np.vstack(r_p), np.concatenate(r_wkt), np.vstack(r_bb))


def _dissolve_cells(cell_ids: np.ndarray) -> list[list[np.ndarray]]:
    """Union same-resolution grid cells into polygon rings by cancelling
    shared edges (each interior edge appears twice with opposite
    direction). Holes come back as opposite-wound rings — correct under
    the engine's even-odd ring semantics. Mixed resolutions fall back to
    one rect per cell."""
    if len(cell_ids) == 0:
        return []
    res = np.unique(cell_ids >> 56)
    if len(res) > 1:
        return [
            [distance.rect(*grid.cell_bounds(int(c)))["rings"][0]]
            for c in np.unique(cell_ids)
        ]
    edges: dict[tuple, tuple] = {}
    for c in np.unique(cell_ids):
        x0, y0, x1, y1 = grid.cell_bounds(int(c))
        for a, b in (((x0, y0), (x1, y0)), ((x1, y0), (x1, y1)),
                     ((x1, y1), (x0, y1)), ((x0, y1), (x0, y0))):
            if (b, a) in edges:
                del edges[(b, a)]
            else:
                edges[(a, b)] = (a, b)
    # chain remaining directed edges into closed rings
    by_start: dict[tuple, list[tuple]] = {}
    for a, b in edges:
        by_start.setdefault(a, []).append(b)
    rings: list[np.ndarray] = []
    while by_start:
        start = next(iter(by_start))
        ring = [start]
        cur = start
        while True:
            nxts = by_start.get(cur)
            if not nxts:
                break
            nxt = nxts.pop()
            if not nxts:
                del by_start[cur]
            ring.append(nxt)
            cur = nxt
            if cur == start:
                break
        if len(ring) >= 4 and ring[0] == ring[-1]:
            rings.append(np.asarray(ring, dtype=np.float64))
    # group rings into polygons: keep it flat — one "polygon" whose rings
    # are evaluated even-odd (matches the engine's PIP semantics)
    return [[r] for r in rings] if rings else []


class SpatialEngine:
    """Boundary set + tile index + query operators."""

    def __init__(
        self,
        spark: SparkSession,
        boundaries: DataFrame,
        tiles: DataFrame,
        base_res: int,
        broadcast_tiles: bool | str = "auto",
        salt_buckets: int = 0,
        probe_salt: int = 8,
        interior_broadcast_rows: int = 12_000_000,
        boundary_broadcast_rows: int = 1_500_000,
        boundary_index_wkb_bytes: int = 128 << 20,
        broadcast_wkb_budget: int = 128 << 20,
        interior_index_rows: int = 12_000_000,
        geodesic_refine: bool = False,
    ):
        """broadcast_tiles: "auto" (default) resolves LAZILY from the
        tile table's own statistics at first query: whole-table
        broadcast iff row count < 3M AND boundary tile-WKB bytes ≤
        `broadcast_wkb_budget`. The byte condition is the one that
        matters at scale — measured on the 40k-feature township set
        (1.04M tiles but 10M boundary points ≈ 0.3 GB WKB), replicating
        the boundary WKB through a whole-table broadcast runs 4.6×
        slower than the shuffle legs, while the 3.7M-tile dense set
        (small per-tile WKB) broadcasts fine per-branch. Explicit
        True/False pins the leg (tests and benches force both).

        salt_buckets: when the tile set is too large to broadcast
        (broadcast_tiles=False) the join becomes a shuffle join on
        cell_id, and dense-city probe skew concentrates on few cells —
        salting replicates each tile row S× under (cell_id, salt) and
        spreads probe rows pseudo-randomly over the S replicas
        (SURVEY.md §4 skew row). 0 disables.

        probe_salt: salt modulus for the boundary-probe repartition on
        the broadcast path — dense-city probe skew piles millions of
        points into a handful of boundary cells, and the (cell_id,
        salt) repartition splits each hot cell across `probe_salt`
        reducers (tile WKB broadcasts, so replication costs nothing).
        1 disables (one reducer per cell — skew-exposed).

        interior_broadcast_rows / boundary_broadcast_rows: per-BRANCH
        broadcast ceilings used when broadcast_tiles=False (whole table
        past the one-shot threshold). The interior branch prunes to
        16-byte (cell_id, region_id) pairs before broadcasting, so its
        ceiling is high: broadcasting ~200 MB once beats sort-shuffling
        the entire probe table (trillions of rows at the 100-TB
        target). The boundary branch carries tile_wkb, so its ceiling
        is lower. Past both ceilings the join degrades gracefully to
        the salted sort-merge path.

        broadcast_wkb_budget: boundary tile-WKB byte ceiling for ANY
        broadcast that carries tile_wkb — the "auto" whole-table
        resolution above AND the per-branch boundary broadcast on the
        broadcast_tiles=False path (its row ceiling alone cannot see a
        set of few-but-huge tiles). Same 128 MB default as the index
        budget: both price the same once-per-worker memory regime.

        boundary_index_wkb_bytes: WKB-byte budget for the broadcast
        boundary-tile index (the unshuffled Q1 boundary refine). The
        decoded index is ~4× the WKB bytes, held once per Python
        worker — the default prices a ~0.5 GB worker-side index, the
        same in-memory-index regime the reference runs its whole
        process in. Past the budget the boundary leg falls back to the
        join-based refine (broadcast or salted SMJ per the row
        ceilings). 0 disables the index path.

        interior_index_rows: row ceiling for the INTERIOR (kind=1)
        cell→region CSR broadcast that the one-pass Q1 and Q2 plans
        and the Q3 geometry-intersects index path need alongside the
        boundary index. Interior rows are 16 bytes each
        ((cell_id, region_id) — rects reconstruct from the cell id),
        so the 12M default matches `interior_broadcast_rows`'
        ~200MB-once-per-executor budget. Past the ceiling Q1 falls back
        to the union plan (interior equi-join + boundary refine), Q2 to
        the two-stage plan and Q3 to the cover-join plan. 0 disables."""
        self.spark = spark
        self.boundaries = boundaries
        self.tiles = tiles
        self.base_res = base_res
        # geodesic_refine=True makes the tolerance=-1 paths additionally
        # sample haversine along each argmin winner's SEGMENT (late r5
        # long-range refinement: sub-metre of geodesic truth at
        # planetary range). Default False pins the reference-compatible
        # "haversine at the planar argmin" arithmetic the gate oracles
        # replicate bit-for-bit — on a rect's vertical edge the true
        # haversine optimum sits slightly equatorward of the
        # same-latitude clamp point, so the refined value genuinely
        # differs from the oracle formula at the 2dp level.
        self.geodesic_refine = bool(geodesic_refine)
        self._bt_auto: bool | None = None
        self._wkb_bytes: int | None = None
        self.broadcast_tiles = broadcast_tiles
        self.salt_buckets = salt_buckets
        self.probe_salt = max(1, probe_salt)
        self.interior_broadcast_rows = interior_broadcast_rows
        self.boundary_broadcast_rows = boundary_broadcast_rows
        self.boundary_index_wkb_bytes = boundary_index_wkb_bytes
        self.broadcast_wkb_budget = broadcast_wkb_budget
        self.interior_index_rows = interior_index_rows
        self._kind_counts: dict[int, int] | None = None
        self._bindex: tuple | None = None  # (Broadcast, bcells_df)
        self._bindex_off = False
        self._iindex = None  # Broadcast of the interior-cell CSR
        self._iindex_off = False
        self._keep_cache: dict[str, np.ndarray] = {}
        # QueryInitInfo analog (/root/reference/AreaCityQuery.java:1513-1604):
        # build-phase metadata, populated by from_geojson / tile_store.load
        self._init_meta: dict = {}

    # ------------------------------------------------------------ build

    @classmethod
    def from_geojson(
        cls,
        spark: SparkSession,
        path: str,
        base_res: int = 10,
        max_res: int | None = None,
        seg_budget: int = 48,
        cache: bool = True,
        init_where: str | None = None,
    ) -> "SpatialEngine":
        """init_where: SQL predicate over the parsed boundary columns
        evaluated BEFORE tiling — the declarative analog of the
        reference's OnInitProgress row-skip callback
        (/root/reference/AreaCityQuery.java:600, 858-863: return false →
        the feature is skipped at init and never indexed)."""
        t0 = time.time()
        boundaries = geojson_source.read_boundaries(spark, path)
        if init_where:
            boundaries = boundaries.filter(init_where)
        tiles = tiler.build_tiles(boundaries, base_res, max_res, seg_budget)
        t_read = None
        if cache:
            # localCheckpoint materializes AND truncates lineage, which keeps
            # the tile table usable in stream-static joins (the raw plan
            # contains build-time-only expressions the streaming analyzer
            # rejects, e.g. the line-ordinal window)
            boundaries = boundaries.localCheckpoint(eager=True)
            t_read = time.time() - t0
            tiles = tiles.localCheckpoint(eager=True)
        n_tiles = tiles.count()
        eng = cls(spark, boundaries, tiles, base_res)  # auto join strategy
        eng._init_meta = {
            "file_path_data": path,
            "data_from_store": False,
            "init_where": init_where,
            "base_res": base_res,
            "max_res": max_res,
            "seg_budget": seg_budget,
            "polygon_count": n_tiles,
            "duration_read_s": round(t_read, 3) if t_read is not None else None,
            "duration_total_s": round(time.time() - t0, 3),
        }
        return eng

    def create_views(self, prefix: str = "aqg") -> tuple[str, str]:
        """Register the boundary/tile tables as temp views so the whole
        engine is reachable from pure `spark.sql(...)`: an interior-hit
        point lookup is then one SQL join —

            SELECT p.point_id, t.region_id
            FROM probes p JOIN {prefix}_tiles t
              ON t.cell_id = <grid.cell_id_sql_expr('p.lng','p.lat',res)>
             AND t.kind = 1

        (boundary-cell refinement still needs the Arrow kernel — SQL
        covers only the interior cells). Returns the view names."""
        b, t = f"{prefix}_boundaries", f"{prefix}_tiles"
        self.boundaries.createOrReplaceTempView(b)
        self.tiles.createOrReplaceTempView(t)
        return b, t

    def cell_expr(self, lng_col: str = "lng", lat_col: str = "lat") -> str:
        """The engine's point→cell SQL expression (codegen'd JVM-side),
        for use inside user `spark.sql` queries against the views."""
        return grid.cell_id_sql_expr(lng_col, lat_col, self.base_res)

    # ------------------------------------------------- shared join spine

    @property
    def broadcast_tiles(self) -> bool:
        """The whole-table broadcast decision. Explicit True/False pins
        it; "auto" resolves lazily (and caches) from the tile table's
        own statistics — see __init__'s docstring for the rule."""
        cfg = self._broadcast_tiles_cfg
        if cfg != "auto":
            return bool(cfg)
        if self._bt_auto is None:
            n_tiles = sum(self._tile_counts_by_kind().values())
            self._bt_auto = (
                n_tiles < 3_000_000
                and self._boundary_wkb_bytes() <= self.broadcast_wkb_budget)
        return self._bt_auto

    @broadcast_tiles.setter
    def broadcast_tiles(self, value: bool | str) -> None:
        if value != "auto" and not isinstance(value, bool):
            raise ValueError(f"broadcast_tiles must be bool or 'auto', "
                             f"got {value!r}")
        self._broadcast_tiles_cfg = value
        self._bt_auto = None

    def _boundary_wkb_bytes(self) -> int:
        """Total tile_wkb bytes across boundary (kind≠1) tiles — the
        engine's ONE byte statistic, cached and shared by the "auto"
        broadcast resolution, the per-branch boundary-broadcast ceiling,
        and the boundary-index budget check (1-row agg collect)."""
        if self._wkb_bytes is None:
            stat = (self.tiles.filter(F.col("kind") != 1)
                    .agg(F.sum(F.length("tile_wkb")).alias("b")).collect())
            self._wkb_bytes = int(stat[0]["b"] or 0)
        return self._wkb_bytes

    def _tile_counts_by_kind(self) -> dict[int, int]:
        """Per-kind tile counts, cached — ≤3 rows over the checkpointed
        tile table (the engine's single metadata-sized driver collect;
        shared by init_info and the per-branch join planner)."""
        if self._kind_counts is None:
            rows = self.tiles.groupBy("kind").count().collect()
            self._kind_counts = {int(r["kind"]): int(r["count"]) for r in rows}
        return self._kind_counts

    def _tile_kind_counts(self) -> tuple[int, int]:
        """(interior_rows, boundary_rows) — computed on the
        broadcast_tiles=False path to pick per-branch join strategies.
        Unfiltered counts are a safe upper bound under `where`."""
        d = self._tile_counts_by_kind()
        return d.get(1, 0), sum(v for k, v in d.items() if k != 1)

    def _probe_cells(self, points: DataFrame, lng="lng", lat="lat") -> DataFrame:
        """Attach the base-res cell_id — one pure Spark SQL expression
        (whole-stage codegen'd), one probe row per point."""
        return points.withColumn(
            "cell_id", F.expr(grid.cell_id_sql_expr(lng, lat, self.base_res))
        )

    def _tiles_for(self, where: str | None, hint: bool = True) -> DataFrame:
        t = self.tiles
        if where:
            keep = self.boundaries.filter(where).select("region_id")
            t = t.join(F.broadcast(keep), "region_id", "left_semi")
        if not hint:
            return t
        if self.broadcast_tiles:
            return F.broadcast(t)
        # broadcast explicitly disabled (tile set past the threshold):
        # pin the shuffle strategy so a mis-estimated size statistic
        # can't sneak a 3M+-row tile table into a broadcast build
        return t.hint("shuffle_merge")

    def _boundary_index(self) -> tuple | None:
        """Build (once, lazily) the broadcast boundary-tile index:
        every kind≠1 tile pre-decoded into flat numpy CSR arrays
        (`_build_boundary_index`): sorted cell table, per-cell tile
        ranges, per-tile region/deep/kind/rect/segment ranges, one
        packed (nseg, 5) segment store, a per-tile y-slab CSR into it
        for the point kernel, and an index of the segments fit for
        distance use.

        Returns (Broadcast, bcells_df) or None when the boundary WKB
        volume exceeds `boundary_index_wkb_bytes` (the join-based
        refine paths take over). WKB decode runs DISTRIBUTED
        (mapInPandas over the tile table); the driver only concatenates
        the already-columnar arrays (one toPandas of ~the WKB volume,
        bounded by the budget) and broadcasts them — workers unpickle
        the index once per process and reuse it across tasks and jobs.
        """
        if self._bindex is not None:
            return self._bindex
        if self._bindex_off or self.boundary_index_wkb_bytes <= 0:
            return None
        if self._boundary_wkb_bytes() > self.boundary_index_wkb_bytes:
            self._bindex_off = True
            return None
        tb = self.tiles.filter(F.col("kind") != 1)

        out_schema = StructType([
            StructField("cell_id", LongType()),
            StructField("region_id", LongType()),
            StructField("deep", IntegerType()),
            StructField("kind", IntegerType()),
            StructField("minx", DoubleType()),
            StructField("miny", DoubleType()),
            StructField("maxx", DoubleType()),
            StructField("maxy", DoubleType()),
            StructField("segs", BinaryType()),
        ])

        def extract(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                segs = []
                for w in pdf["tile_wkb"]:
                    if w is None:
                        segs.append(b"")
                        continue
                    g = wkb.loads(bytes(w))
                    s = predicates.segments_of_rings(core.all_rings(g))
                    segs.append(np.ascontiguousarray(
                        s, dtype=np.float64).tobytes())
                out = pdf[["cell_id", "region_id", "deep", "kind",
                           "minx", "miny", "maxx", "maxy"]].copy()
                out["segs"] = segs
                yield out

        pdf = (tb.select("cell_id", "region_id", "deep", "kind",
                         "minx", "miny", "maxx", "maxy", "tile_wkb")
               .mapInPandas(extract, out_schema).toPandas())
        idx = _build_boundary_index(pdf)
        bc = self.spark.sparkContext.broadcast(idx)
        bcells = self.spark.createDataFrame(pd.DataFrame(
            {"cell_id": idx["cells"]})).localCheckpoint(eager=True)
        self._bindex = (bc, bcells)
        return self._bindex

    def _interior_index(self):
        """Build (once, lazily) the broadcast INTERIOR-cell index: every
        kind=1 (whole-cell) tile as a sorted-cell CSR of region ids,
        plus each unique cell's rect (reconstructed via
        grid.cells_bounds — interior tiles are stored one row per
        BASE-res cell with rect == cell rect, tiler.push). The one-pass
        Q1/Q2 plans and the Q3 index path need it because
        `_boundary_index` deliberately holds only kind≠1 tiles. Returns
        the Broadcast or None when the interior row count exceeds
        `interior_index_rows` (Q1 then takes the union plan, Q2 the
        two-stage plan, Q3 the join plan)."""
        if self._iindex is not None:
            return self._iindex
        if self._iindex_off or self.interior_index_rows <= 0:
            return None
        if self._tile_kind_counts()[0] > self.interior_index_rows:
            self._iindex_off = True
            return None
        pdf = (self.tiles.filter(F.col("kind") == 1)
               .select("cell_id", "region_id").toPandas())
        cell = pdf["cell_id"].to_numpy().astype(np.int64)
        region = pdf["region_id"].to_numpy().astype(np.int64)
        order = np.lexsort((region, cell))
        cell, region = cell[order], region[order]
        cells, first = np.unique(cell, return_index=True)
        cell_ptr = np.append(first, len(cell)).astype(np.int64)
        cx0, cy0, cx1, cy1 = grid.cells_bounds(cells)
        idx = {"cells": cells, "cell_ptr": cell_ptr, "region": region,
               "cx0": cx0, "cy0": cy0, "cx1": cx1, "cy1": cy1}
        self._iindex = self.spark.sparkContext.broadcast(idx)
        return self._iindex

    def _keep_region_ids(self, where: str | None) -> np.ndarray | None:
        """Sorted region_id array matching `where` (None = unfiltered) —
        the in-kernel twin of the join paths' LEFT SEMI tile filter, so
        the broadcast-index refines serve `where`-filtered queries too
        (since late r4). The boundaries dim is reference-scale small
        (the reference keeps it whole in process memory,
        AreaCityQuery.java:62-66), so this toPandas is metadata-sized;
        cached per predicate text."""
        if where is None:
            return None
        arr = self._keep_cache.get(where)
        if arr is None:
            pdf = (self.boundaries.filter(where)
                   .select("region_id").toPandas())
            arr = np.sort(pdf["region_id"].to_numpy().astype(np.int64))
            self._keep_cache[where] = arr
        return arr

    def _boundary_broadcastable(self) -> bool:
        """Whether the boundary tiles may broadcast: always under the
        whole-table broadcast; otherwise (broadcast_tiles=False) per
        branch, by row AND byte ceiling — few-but-huge tiles (township
        set: 955k rows, 0.3 GB WKB) must take the shuffle leg even
        under the row ceiling."""
        if self.broadcast_tiles:
            return True
        return (self._tile_kind_counts()[1] <= self.boundary_broadcast_rows
                and self._boundary_wkb_bytes() <= self.broadcast_wkb_budget)

    def _one_pass_indexes(self) -> tuple | None:
        """(interior, boundary) index Broadcasts when the one-pass Q1/Q2
        plans apply — both indexes within budget and no salted shuffle
        path — else None."""
        if not self.broadcast_tiles and self.salt_buckets > 1:
            return None
        bidx = self._boundary_index() if self._boundary_broadcastable() \
            else None
        iidx = self._interior_index() if bidx is not None else None
        return None if iidx is None else (iidx, bidx[0])

    def _match_points(self, points: DataFrame, where: str | None = None,
                      lng="lng", lat="lat",
                      id_cols: tuple[str, ...] = ("point_id",),
                      observers: tuple | None = None) -> DataFrame:
        """Core spatial join: (*id_cols, lng, lat) → (*id_cols, region_id).

        Default (both broadcast indexes within budget): ONE pass over
        the probe — `select(*id_cols, explode(regions_udf(lng, lat,
        cell_id)))`, where the scalar Arrow UDF (`_make_regions_udf`)
        resolves interior (kind=1) cells from `_interior_index` and
        refines kind 0/2 cells against `_boundary_index`. The probe
        source is read once, with no join, union or exchange; only the
        coordinates and cell id cross Arrow, for every probe (on the
        dense fixture's docs join ~80% of geo spans land in boundary
        cells, so sending only those would save little).

        Otherwise (an index off or over its budget, or the salted
        shuffle path) the union plan: kind=1 hits by an equi-join that
        stays in the JVM, UNION the kind 0/2 rows through a mapInPandas
        refine. A point hits at most one tile tree per region by
        construction, and same-key sub-tiles are deduped inside the
        refine, so neither plan needs a dedup shuffle.

        observers: optional (interior_obs, refined_obs) Observation pair
        — each gets {"rows": n}, the interior and refined hit rows (the
        QueryResult counter analog, AreaCityQuery.java:1611-1657).
        """
        probe = self._probe_cells(points, lng, lat)
        idx = self._one_pass_indexes()
        if idx is not None:
            # one-pass index plan; the union plan below runs only when
            # an index is off or over its budget
            hits = _make_regions_udf(
                *idx, self._keep_region_ids(where),
                counts=observers is not None)(
                F.col(lng).cast("double"), F.col(lat).cast("double"),
                F.col("cell_id"))
            if observers is None:
                return probe.select(
                    *id_cols, F.explode(hits).alias("region_id"))
            obs_i, obs_r = observers
            n_int = F.col("_hits.interior")
            n_ref = F.size("_hits.region_id") - n_int
            return (probe.select(*id_cols, hits.alias("_hits"))
                    .observe(obs_i, F.coalesce(F.sum(n_int), F.lit(0))
                             .alias("rows"))
                    .observe(obs_r, F.coalesce(F.sum(n_ref), F.lit(0))
                             .alias("rows"))
                    .select(*id_cols, F.explode("_hits.region_id")
                            .alias("region_id")))
        if not self.broadcast_tiles and self.salt_buckets > 1:
            # shuffle-join path: replicate tiles S× and spread probe rows
            # pseudo-randomly so hot cells don't pin one reducer
            s = self.salt_buckets
            salted_tiles = self._tiles_for(where).withColumn(
                "salt", F.explode(F.sequence(F.lit(0), F.lit(s - 1))))
            probe_s = probe.withColumn(
                "salt", F.pmod(F.xxhash64(F.col(lng), F.col(lat)), F.lit(s)).cast("int"))
            interior = probe_s.join(
                salted_tiles.filter(F.col("kind") == 1), ["cell_id", "salt"]
            ).select(*id_cols, "region_id")
            tiles_b = salted_tiles.filter(F.col("kind") != 1)
            bpts = probe_s.join(
                tiles_b.select("cell_id", "salt").distinct(),
                ["cell_id", "salt"], "left_semi")
            brows = bpts.join(tiles_b, ["cell_id", "salt"])
        else:
            base = self._tiles_for(where, hint=False)
            if self.broadcast_tiles:
                tiles_all = F.broadcast(base)
                tiles_i = tiles_all.filter(F.col("kind") == 1)
                tiles_b = tiles_all.filter(F.col("kind") != 1)
                bcast_b = True
            else:
                # PER-BRANCH broadcast decision. broadcast_tiles=False
                # only says the WHOLE tile table (boundary WKB included)
                # is past the one-shot broadcast threshold; the two join
                # branches have very different widths and each may still
                # be broadcastable on its own:
                #   - interior rows prune to 16-byte (cell_id, region_id)
                #     pairs — 12M rows ≈ a couple hundred MB hashed,
                #     vs the alternative of sort-shuffling the ENTIRE
                #     probe table (trillions of rows at the 100-TB
                #     target). Measured on the reference-density set
                #     (3.7M tiles, 10M probes, local[8]): forced SMJ
                #     75-110 s vs per-branch broadcast ~4 s interior.
                #   - boundary rows carry tile_wkb but are few (the
                #     dense fixture: 450k of 3.7M).
                # Only past these per-branch ceilings does the salted
                # sort-merge path earn its shuffles.
                n_i = self._tile_kind_counts()[0]
                ti = base.filter(F.col("kind") == 1) \
                         .select("cell_id", "region_id")
                tiles_i = (F.broadcast(ti)
                           if n_i <= self.interior_broadcast_rows
                           else ti.hint("shuffle_merge"))
                tb = base.filter(F.col("kind") != 1)
                bcast_b = self._boundary_broadcastable()
                tiles_b = (F.broadcast(tb) if bcast_b
                           else tb.hint("shuffle_merge"))
            bidx = self._boundary_index() if bcast_b else None
            interior = probe.join(tiles_i, "cell_id") \
                            .select(*id_cols, "region_id")
            if bidx is not None:
                # broadcast-index refine: the probe side streams through
                # UNSHUFFLED — skinny semi-join against the index's cell
                # list, then pairs form inside the kernel against the
                # worker-resident pre-decoded index. No repartition, no
                # per-pair tile_wkb duplication through Arrow. `where`
                # (since late r4) rides along as a sorted keep-region
                # array applied in-kernel — the LEFT SEMI tile filter's
                # twin, so filtered queries stay zero-shuffle too.
                bc, bcells_df = bidx
                brows = None
                bpts = probe.join(F.broadcast(bcells_df),
                                  "cell_id", "left_semi")
                sel = bpts.select(
                    *id_cols, F.col(lng).alias("lng"),
                    F.col(lat).alias("lat"), "cell_id")
                refine_schema = StructType(
                    [points.schema[c] for c in id_cols]
                    + [StructField("region_id", LongType())])
                refined = sel.mapInPandas(
                    _make_index_refine_fn(
                        id_cols, bc, self._keep_region_ids(where)),
                    refine_schema)
            else:
                # join-based refine (boundary set past the index
                # budget): skinny semi-join first — only
                # probes in boundary-ish cells survive, ONE row each (no
                # fan-out), then repartition by (cell, salt) so the
                # refine sees cell-contiguous batches — each tile
                # decodes on one task and its points arrive as one dense
                # group. The salt splits dense-city hot cells.
                # the distinct-cells list is far smaller than the
                # boundary tile rows (no wkb, deduped) — broadcast it
                # whenever the boundary branch itself is broadcastable
                # (the hint does not survive the distinct aggregate, so
                # re-apply explicitly)
                bcells = tiles_b.select("cell_id").distinct()
                if self.broadcast_tiles or bcast_b:
                    bcells = F.broadcast(bcells)
                bpts = probe.join(bcells, "cell_id", "left_semi")
                n_parts = self.spark.sparkContext.defaultParallelism
                salt = F.pmod(F.xxhash64(F.col(lng), F.col(lat)),
                              F.lit(self.probe_salt)).cast("int")
                bpts = bpts.repartition(n_parts, F.col("cell_id"), salt)
                brows = bpts.join(tiles_b, "cell_id")
        if brows is not None:
            boundary = brows.select(
                *id_cols, F.col(lng).alias("lng"), F.col(lat).alias("lat"),
                "cell_id", "region_id", "kind", "minx", "miny", "maxx",
                "maxy", "tile_wkb",
            )
            refine_schema = StructType(
                [points.schema[c] for c in id_cols]
                + [StructField("region_id", LongType())]
            )
            refined = boundary.mapInPandas(
                _make_refine_fn(id_cols), refine_schema)
        if observers is not None:
            obs_i, obs_r = observers
            interior = interior.observe(obs_i, F.count(F.lit(1)).alias("rows"))
            refined = refined.observe(obs_r, F.count(F.lit(1)).alias("rows"))
        return interior.unionByName(refined)

    def _with_props(self, matches: DataFrame,
                    return_wkt_key: str | None = None) -> DataFrame:
        cols = ["region_id", "id", "pid", "deep", "name", "ext_path", "prop_json"]
        if not return_wkt_key:
            return matches.join(F.broadcast(self.boundaries.select(*cols)), "region_id")
        # full-WKT echo (≙ res.Set_ReturnWKTKey,
        # /root/reference/AreaCityQuery.java:277-289): append the
        # feature's FULL geometry WKT into the prop JSON under the
        # caller's key — same string surgery as the reference. The WKT
        # text is computed ONCE PER REGION on the tiny boundaries dim
        # and broadcast as a string column; the match path then does
        # pure JVM concat — the feature's (potentially huge) geom_wkb
        # never rides a per-match Arrow row and no extra Python stage
        # chains onto the refine (this was q1_wkt_echo's 2x latency
        # anomaly, VERDICT r2 "what's wrong" #3).
        key = str(return_wkt_key)
        wkt_schema = StructType([
            StructField("region_id", LongType()),
            StructField("wkt", StringType()),
        ])

        def to_wkt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                texts = []
                for b in pdf["geom_wkb"]:
                    texts.append("EMPTY" if b is None
                                 else wkt_codec.dumps(wkb.loads(bytes(b))))
                yield pd.DataFrame({
                    "region_id": pdf["region_id"].astype("int64"),
                    "wkt": texts,
                })

        wkts = self.boundaries.select("region_id", "geom_wkb") \
                              .mapInPandas(to_wkt, wkt_schema)
        joined = matches.join(
            F.broadcast(self.boundaries.select(*cols)), "region_id"
        ).join(F.broadcast(wkts), "region_id")
        return joined.withColumn(
            "prop_json",
            F.concat(
                F.expr("substring(prop_json, 1, length(prop_json) - 1)"),
                F.lit(f', "{key}": "'), F.col("wkt"), F.lit('"}'),
            ),
        ).drop("wkt")

    # ---------------------------------------------------------- Q1

    def query_points(self, points: DataFrame, where: str | None = None,
                     with_props: bool = True, lng="lng", lat="lat",
                     id_cols: tuple[str, ...] = ("point_id",),
                     return_wkt_key: str | None = None) -> DataFrame:
        """Q1 — point∩polygon join (≙ QueryPoint, AreaCityQuery.java:87-90).

        points: DataFrame with (*id_cols, lng double, lat double).
        Returns one row per (point, matching region); edge-touch matches
        both neighbours, hole interiors match none (AreaCityQuery.java:69-85).
        return_wkt_key: when set, each result's prop_json gains
        `"<key>": "<full feature WKT>"` (≙ Set_ReturnWKTKey).
        """
        m = self._match_points(points, where, lng, lat, id_cols)
        if not with_props:
            return m
        return self._with_props(m, return_wkt_key=return_wkt_key)

    def query_points_with_metrics(self, points: DataFrame,
                                  where: str | None = None,
                                  lng="lng", lat="lat"):
        """Q1 + the reference's QueryResult counters
        (AreaCityQuery.java:1611-1657): returns (df, observations) where
        observations = {"interior": Observation, "refined": Observation};
        after an action on df, `obs.get` yields {"rows": n} — interior ≙
        the no-exact-test fast path, refined ≙ ExactHitCount. The
        one-pass plan observes the UDF's per-probe interior-hit count
        before the explode, so metrics run the same plan as
        query_points."""
        from pyspark.sql import Observation

        obs_i, obs_r = Observation(), Observation()
        out = self._match_points(points, where, lng, lat,
                                 observers=(obs_i, obs_r))
        return out, {"interior": obs_i, "refined": obs_r}

    # --------------------------------------------------------- init info

    def init_info(self, with_tile_stats: bool = True) -> dict:
        """QueryInitInfo analog (/root/reference/AreaCityQuery.java:1513-1604,
        exposed via GetInitInfo :604): build-phase counts + durations.
        GeometryCount ≙ features with non-empty geometry; PolygonCount ≙
        grid-split piece count (our tile count); UseThreadCount ≙ the
        cluster's default parallelism (the reference capped init at 5
        threads, :551-552 — Spark's width is the cap here)."""
        info = dict(self._init_meta)
        info.setdefault("base_res", self.base_res)
        info["engine_version"] = GRID_VERSION
        info["use_thread_count"] = self.spark.sparkContext.defaultParallelism
        info["feature_count"] = self.boundaries.count()
        info["geometry_count"] = self.boundaries.filter(
            F.col("geom_wkb").isNotNull()).count()
        if with_tile_stats:
            by_kind = self._tile_counts_by_kind()
            info["polygon_count"] = sum(by_kind.values())
            info["interior_tiles"] = by_kind.get(1, 0) + by_kind.get(2, 0)
            info["boundary_tiles"] = by_kind.get(0, 0)
        return info

    def format_init_info(self) -> str:
        """Human-readable init summary (≙ QueryInitInfo.toString,
        AreaCityQuery.java:1573-1603)."""
        i = self.init_info()
        lines = [
            f"[v{i['engine_version']}]"
            + ("store+" if i.get("data_from_store") else "")
            + f"read Geometry {i['geometry_count']} "
            + f"(grid-split tiles {i['polygon_count']}: "
            + f"{i['interior_tiles']} interior / {i['boundary_tiles']} boundary)",
            f"base_res: {i['base_res']}, threads: {i['use_thread_count']}",
        ]
        if i.get("duration_total_s") is not None:
            lines.append(f"init total: {i['duration_total_s']}s"
                         + (f" (read+parse: {i['duration_read_s']}s)"
                            if i.get("duration_read_s") is not None else ""))
        if i.get("file_path_data"):
            lines.append(f"data file: {i['file_path_data']}")
        if i.get("store_path"):
            lines.append(f"tile store: {i['store_path']}")
        return "\n".join(lines)

    # ------------------------------------------------ envelope-hit debug

    def _envelope_hit_props(self, cand: DataFrame,
                            id_cols: tuple[str, ...]) -> DataFrame:
        """Shared tail of the Set_EnvelopeHitResult analog
        (/root/reference/AreaCityQuery.java:300-304): per candidate tile
        of the coarse (cell-join) stage, emit the owning feature's prop
        with `"_PolygonPointNum_": <n>` prepended — n is the candidate
        sub-geometry's vertex count (getNumPoints; interior tiles are
        rects ⇒ 5, matching the reference's 4-point-rectangle pieces)."""
        id_list = list(id_cols)
        schema = StructType(
            [cand.schema[c] for c in id_list]
            + [StructField("region_id", LongType()),
               StructField("n_points", LongType())]
        )

        def npts_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cache: dict[bytes, int] = {}
            for pdf in it:
                kind = pdf["kind"].to_numpy()
                n = np.full(len(pdf), 5, dtype=np.int64)
                for i in np.nonzero(kind == 0)[0]:
                    b = bytes(pdf["tile_wkb"].iat[i])
                    v = cache.get(b)
                    if v is None:
                        g = wkb.loads(b)
                        v = cache[b] = sum(len(r) for r in core.all_rings(g))
                    n[i] = v
                out = pdf[id_list + ["region_id"]].copy()
                out["region_id"] = out["region_id"].astype("int64")
                out["n_points"] = n
                yield out

        counted = cand.select(*id_list, "region_id", "kind", "tile_wkb") \
                      .mapInPandas(npts_fn, schema)
        # reference string surgery: '{"_PolygonPointNum_": N,' + prop[1:]
        # — guarded for prop-less features: NULL props coalesce to '{}'
        # and an empty object drops the trailing comma so the output is
        # always valid JSON (the reference's raw substring(1) would emit
        # '{..., }' / NULL there)
        prefix = F.concat(F.lit('{"_PolygonPointNum_": '),
                          F.col("n_points").cast("string"))
        rest = F.expr("substring(coalesce(prop_json, '{}'), 2)")
        return counted.join(
            F.broadcast(self.boundaries.select("region_id", "prop_json")),
            "region_id",
        ).withColumn(
            "prop_json",
            # whitespace-tolerant empty-object test: '{ }' and '{}' both
            # count as empty, so the output never ends '..., }'
            F.when(F.trim(rest) == "}", F.concat(prefix, F.lit("}")))
             .otherwise(F.concat(prefix, F.lit(","), rest)),
        )

    def query_points_envelope_hits(
        self, points: DataFrame, where: str | None = None,
        lng="lng", lat="lat", id_cols: tuple[str, ...] = ("point_id",),
    ) -> DataFrame:
        """Debug: the coarse-stage candidate set for point probes BEFORE
        exact refine (≙ res.Set_EnvelopeHitResult,
        AreaCityQuery.java:300-304, 1653-1654) — one row per candidate
        tile with `_PolygonPointNum_`-prefixed prop. Our coarse stage is
        the cell equi-join, so candidates are tiles sharing the probe's
        cell (a slight superset of the reference's envelope test: the
        cell rect contains the tile envelope)."""
        probe = self._probe_cells(points, lng, lat)
        cand = probe.join(self._tiles_for(where), "cell_id")
        return self._envelope_hit_props(cand, id_cols)

    def query_geometry_envelope_hits(self, probes: DataFrame,
                                     where: str | None = None) -> DataFrame:
        """Debug: coarse-stage candidates for WKT probes — the probe's
        ENVELOPE (bbox) covers base-res cells (the reference queries its
        STRtree with `geom.getEnvelopeInternal()`,
        AreaCityQuery.java:209-212) and every tile keyed under a covered
        cell is a candidate."""
        base_res = self.base_res
        schema = StructType([StructField("probe_id", LongType()),
                             StructField("cell_id", LongType())])

        def cover(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                pids: list[int] = []
                cids: list[int] = []
                for pid, w_ in zip(pdf["probe_id"], pdf["wkt"]):
                    g = wkt_codec.loads(w_)
                    if core.is_empty(g):
                        continue
                    cells = grid.cover_bbox(*core.bounds(g), base_res)
                    pids.extend([int(pid)] * len(cells))
                    cids.extend(cells.tolist())
                yield pd.DataFrame({
                    "probe_id": pd.Series(pids, dtype="int64"),
                    "cell_id": pd.Series(cids, dtype="int64"),
                })

        cov = probes.select("probe_id", "wkt").mapInPandas(cover, schema)
        cand = cov.join(self._tiles_for(where), "cell_id")
        return self._envelope_hit_props(cand, ("probe_id",))

    # ---------------------------------------------------------- Q2

    def query_points_with_tolerance(
        self, points: DataFrame, tolerance_m: float,
        where: str | None = None, lng="lng", lat="lat", k: int = 1,
        cover_res: int | None = None,
    ) -> DataFrame:
        """Q2 — nearest-boundary fallback (≙ QueryPointWithTolerance,
        /root/reference/AreaCityQuery.java:102-163).

        Points matched by Q1 return their Q1 rows (point_distance null).
        Unmatched points probe a 24-gon circle of radius tolerance_m
        (the whole world for -1); per admin level (`deep`) the single
        nearest feature wins (the `k` nearest for k > 1, ties broken by
        region_id), annotated with PointDistance (haversine meters,
        "0.00") and PointDistanceID (feature ordinal) exactly as the
        reference injects them (AreaCityQuery.java:142).

        Plans. tolerance 0 is Q1 with props. For tolerance > 0 with both
        broadcast indexes within budget (and cover_res at base_res) the
        plan is ONE pass over the probe, like Q1's: `select(point_id,
        explode(nearest_udf(lng, lat, cell_id)))` (`_make_nearest_udf`:
        Q1 hits, else the nearest regions per deep, all in one Arrow
        batch) and one broadcast join with the props dim — no
        checkpoint, anti-join, window, union or shuffle exchange.
        Otherwise (an index off or over budget, the salted path, a
        coarser cover_res, or tolerance -1) the two-stage plan: Q1 is
        checkpointed, its misses (a LEFT ANTI join on point_id) run a
        distance stage, and `_finish_tolerance` keeps the nearest per
        deep.

        point_id must be a row key, one row per probe, as every caller
        uses it: the one-pass plan judges each row alone, while the
        two-stage plan drops a row from the miss set when another row
        with the same point_id hit Q1, and merges the candidates of
        equal-id misses before picking the nearest.
        """
        pts = points.select(
            F.col("point_id"), F.col(lng).alias("lng"), F.col(lat).alias("lat")
        )
        base_res = self.base_res
        # cover_res knob: covering the 24-gon bbox at a res coarser than
        # base_res shrinks the cover shuffle O((tol/cell)²)-fold but
        # multiplies the (probe, tile) candidate pairs the dist_fn gates
        # must score. MEASURED on the dense fixture (25 km, 1M probes,
        # local[8]): base_res 25.4 s vs 30-48 s at res 12..9 — the
        # per-pair nearest_on_segments gate outweighs the 27M-row
        # shuffle it saves, so the default stays base_res; the knob
        # remains for boundary sets dense enough to invert that trade.
        # Output is IDENTICAL at any cover_res (checksum-swept): the
        # cover only proposes candidates — the per-tile
        # inscribed/escribed radius gates + the exact 24-gon test in
        # dist_fn decide membership.
        cov_res = max(0, min(base_res,
                             base_res if cover_res is None else cover_res))
        idx = (self._one_pass_indexes()
               if tolerance_m > 0 and cov_res == base_res else None)
        if idx is not None:
            hits = _make_nearest_udf(
                *idx, float(tolerance_m), base_res, k,
                self._keep_region_ids(where))(
                F.col("lng").cast("double"), F.col("lat").cast("double"),
                F.col("cell_id"))
            m = (self._probe_cells(pts)
                 .select(F.col("point_id").cast("long"),
                         F.explode(hits).alias("_h"))
                 .select("point_id", "_h.region_id", "_h.dist_m"))
            near = F.col("dist_m").isNotNull()
            return (self._with_props(m)
                    .withColumn("point_distance", F.col("dist_m"))
                    .withColumn("point_distance_id",
                                F.when(near, F.col("region_id")))
                    .withColumn("prop_json_out",
                                F.when(near, _distance_prop_json())
                                .otherwise(F.col("prop_json")))
                    .drop("dist_m"))
        base = self._match_points(pts, where)
        if tolerance_m != 0:
            # the miss anti-join reads Q1 again: localCheckpoint
            # (ContextCleaner-reclaimed), NOT .cache() — gates must not
            # leak cached state into the shared session
            base = base.localCheckpoint(eager=True)
        base_out = self._with_props(base).withColumn(
            "point_distance", F.lit(None).cast("double")
        ).withColumn("point_distance_id", F.lit(None).cast("long")) \
         .withColumn("prop_json_out", F.col("prop_json"))
        if tolerance_m == 0:
            return base_out
        misses = pts.join(base.select("point_id").distinct(), "point_id", "left_anti")

        if tolerance_m > 0:
            cover_schema = StructType([
                StructField("point_id", LongType()),
                StructField("lng", DoubleType()),
                StructField("lat", DoubleType()),
                StructField("cell_id", LongType()),
            ])

            tol_m = float(tolerance_m)
            bidx = (self._boundary_index()
                    if cov_res == base_res else None)
            if bidx is not None:
                # two-stage broadcast-index Q2 (the one-pass plan does
                # not apply): no tile bytes shuffle, but the miss set is
                # a second probe scan plus anti-join, repartitioned for
                # the distance kernel, and _finish_tolerance
                # min-aggregates and windows per point. `where` rides
                # along as an in-kernel keep-region array; the SMJ
                # cover-join below stays the fallback for boundary sets
                # past the index byte budget (township scale) and for
                # coarse cover_res overrides.
                dists = self._dists_tolerance_index(
                    misses.repartition(F.col("point_id")), tol_m,
                    self._keep_region_ids(where))
                return self._finish_tolerance(base_out, dists, k)

            def cover_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                # Fully vectorized 24-gon bbox cover at cov_res — no
                # per-row Python on the (potentially billions-of-docs)
                # miss set.
                for pdf in it:
                    pid = pdf["point_id"].to_numpy()
                    px = pdf["lng"].to_numpy(dtype=np.float64)
                    py = pdf["lat"].to_numpy(dtype=np.float64)
                    rep, cells = _circle_cell_cover(px, py, tol_m, cov_res)
                    yield pd.DataFrame({
                        "point_id": pid[rep].astype("int64"),
                        "lng": px[rep],
                        "lat": py[rep],
                        "cell_id": cells,
                    })

            # cover_fn explodes every miss ~(tol/cell)²-fold, so its
            # input partitioning must not ride AQE's byte-based
            # coalescing of the upstream anti-join (165k skinny miss
            # rows look like "3 partitions" to AQE; the explode then
            # runs 82× fan-out on 3 tasks — measured an 11.6 s
            # straggler vs 2.7 s peers at local[2]). One cheap hash
            # shuffle of the skinny miss set restores explode
            # parallelism at any cluster size.
            misses = misses.repartition(F.col("point_id"))
            cover = misses.mapInPandas(cover_fn, cover_schema)
            tiles_b = self._tiles_for(where).filter(F.col("kind") == 0)
            if cov_res < base_res:
                tiles_b = tiles_b.withColumn(
                    "_cover_cell",
                    F.expr(grid.parent_cell_sql_expr(
                        "cell_id", base_res, cov_res)))
                cand = cover.join(
                    tiles_b,
                    cover["cell_id"] == tiles_b["_cover_cell"])
            else:
                cand = cover.join(tiles_b, "cell_id")
            cand = cand.select(
                "point_id", "lng", "lat", "region_id",
                "minx", "miny", "maxx", "maxy", "tile_wkb")
        else:  # tolerance -1: unlimited — every boundary tile is a candidate
            # (the reference documents -1 as "traverses all data,
            # performance extremely low", AreaCityQuery.java:100.)
            # Iterative radius doubling: log-many bounded rounds, no
            # driver-side materialization of the miss set at ANY size.
            t = self.tiles.filter(F.col("kind") == 0)
            if where:
                keep = self.boundaries.filter(where).select("region_id")
                t = t.join(F.broadcast(keep), "region_id", "left_semi")
            dists = self._dists_unlimited_iterative(misses, t, k)
            return self._finish_tolerance(base_out, dists, k)

        dist_schema = StructType([
            StructField("point_id", LongType()),
            StructField("region_id", LongType()),
            StructField("dist_m", DoubleType()),
        ])
        tol = float(tolerance_m)

        def dist_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            """Planar-nearest + haversine per candidate, vectorized per
            TILE (each tile's points tested in one numpy call). Gate:
            the tile must intersect the per-point 24-gon circle — cheap
            inscribed/escribed radius bounds short-circuit the exact
            polygon×polygon test for all but razor-edge candidates."""
            cos_pi24 = np.cos(np.pi / 24)
            for pdf in it:
                pids, rids, ds = [], [], []
                for (rid, mnx, mny, mxx, mxy, twkb), grp in pdf.groupby(
                        ["region_id", "minx", "miny", "maxx", "maxy",
                         "tile_wkb"], sort=False):
                    g = wkb.loads(bytes(twkb))
                    segs = _distance_segs(g, mnx, mny, mxx, mxy)
                    if not len(segs):
                        continue
                    px = grp["lng"].to_numpy()
                    py = grp["lat"].to_numpy()
                    nx, ny, d_planar = predicates.nearest_on_segments(px, py, segs)
                    # anisotropy-corrected second candidate (r5): the
                    # degree-planar argmin above can sit far from the
                    # meter-nearest boundary point at high latitude;
                    # the reported distance takes the haversine min
                    # over both candidates. Gating (rmin/rmax + 24-gon)
                    # stays on the degree-planar distance — hit-set
                    # semantics unchanged.
                    sx, sy, _ = predicates.nearest_on_segments_scaled(
                        px, py, segs)
                    keep = np.ones(len(px), dtype=bool)
                    if tol > 0:
                        # per-point circle radii in degrees — the exact
                        # CreateSimpleCircle step-ladder arithmetic
                        km = tol / 1000.0
                        a = 0.01 if km < 5 else 0.1 if km < 50 else 1.0 if km < 500 else 10.0
                        b = distance.haversine(px, py, px + a, py)
                        c = distance.haversine(px, py, px, py + a)
                        rb = tol / b * a
                        rc = tol / c * a
                        rmin = np.minimum(rb, rc) * cos_pi24
                        rmax = np.maximum(rb, rc)
                        definite = d_planar <= rmin
                        impossible = d_planar > rmax
                        keep = definite.copy()
                        amb = np.nonzero(~definite & ~impossible)[0]
                        if len(amb):
                            # 24-gon vs the FILTERED piece boundary: the
                            # probe is outside every candidate region
                            # (it missed Q1 under the same `where`), so
                            # circle ∩ region ≠ ∅ ⟺ the circle touches
                            # true boundary — and g's window/bridge runs
                            # must not vote (same artifact as the
                            # distance itself, see _distance_segs)
                            keep[amb] = _ambiguous_circle_keep(
                                px[amb], py[amb], rb[amb], rc[amb],
                                np.ascontiguousarray(segs[:, 0]),
                                np.ascontiguousarray(segs[:, 1]),
                                np.ascontiguousarray(segs[:, 2]),
                                np.ascontiguousarray(segs[:, 3]),
                                np.zeros(len(amb), dtype=np.int64),
                                np.full(len(amb), len(segs),
                                        dtype=np.int64))
                    if keep.any():
                        d0 = np.asarray(distance.haversine(
                            nx[keep], ny[keep], px[keep], py[keep]))
                        d1 = np.asarray(distance.haversine(
                            sx[keep], sy[keep], px[keep], py[keep]))
                        # the scaled candidate wins only on a GENUINE
                        # improvement (rel 1e-12): for axis-aligned
                        # segments both argmins are the same geometric
                        # point up to fp ulps, and the guard keeps the
                        # pre-r5 bit pattern (gate oracle hashes)
                        d = np.where(d1 < d0 * (1.0 - 1e-12), d1, d0)
                        pids.append(grp["point_id"].to_numpy()[keep])
                        rids.append(np.full(int(keep.sum()), rid, dtype="int64"))
                        ds.append(np.asarray(d, dtype="float64"))
                if pids:
                    yield pd.DataFrame({
                        "point_id": np.concatenate(pids).astype("int64"),
                        "region_id": np.concatenate(rids),
                        "dist_m": np.concatenate(ds),
                    })
                else:
                    yield pd.DataFrame({
                        "point_id": pd.Series([], dtype="int64"),
                        "region_id": pd.Series([], dtype="int64"),
                        "dist_m": pd.Series([], dtype="float64"),
                    })

        dists = cand.mapInPandas(dist_fn, dist_schema)
        return self._finish_tolerance(base_out, dists, k)

    def _dists_tolerance_index(self, misses: DataFrame, tol_m: float,
                               keep: np.ndarray | None = None) -> DataFrame:
        """tolerance>0 distance stage of the two-stage plan against the
        broadcast boundary index: one mapInPandas over the miss set,
        (point_id, region_id, dist_m) per kept (point, tile) pair from
        `_tolerance_pairs`, for `_finish_tolerance` to reduce. Used only
        when the one-pass plan does not apply (e.g. the interior index
        off or over budget, or the salted path)."""
        bc, _ = self._boundary_index()
        base_res = self.base_res
        tol = float(tol_m)
        dist_schema = StructType([
            StructField("point_id", LongType()),
            StructField("region_id", LongType()),
            StructField("dist_m", DoubleType()),
        ])

        def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            I = bc.value
            for pdf in it:
                prow, tix, d = _tolerance_pairs(
                    I, pdf["lng"].to_numpy(dtype=np.float64),
                    pdf["lat"].to_numpy(dtype=np.float64), tol, base_res,
                    keep)
                yield pd.DataFrame({
                    "point_id": pdf["point_id"].to_numpy()[prow]
                    .astype("int64"),
                    "region_id": I["region"][tix],
                    "dist_m": d,
                })

        return misses.mapInPandas(fn, dist_schema)

    def _dists_unlimited_iterative(self, misses: DataFrame,
                                   tiles_b: DataFrame, k: int,
                                   small_direct: int = 100_000) -> DataFrame:
        """tolerance=-1 distance stage without materializing the miss
        set on the driver (any miss-set size): per-round radius
        doubling. Each round covers every active point's radius-r bbox
        (the 24-gon step-ladder per-axis degree radii, clamped to the
        tile-store extent), computes exact candidate distances,
        forms candidates ONLY for each point's still-unsatisfied deep
        levels (a deep bitmask rides the cover rows — no extra
        shuffle), and freezes a (point, deep) once its min(k,
        #regions-of-deep) winners are CERTIFIED: winner distance ≤ r/4
        (factor-4 margin over the bbox linearization AND the
        planar-argmin axis anisotropy — sound to |lat| ≲ 69°). A point
        whose clamped bbox covered the whole extent saw every tile, so
        all its deeps freeze unconditionally — termination in
        O(log(world/r0)) rounds. Only (point_id, lng, lat, deep) state
        and per-(point, region) minima flow between rounds
        (localCheckpoint'd, ContextCleaner-reclaimed); the driver sees
        a round counter and an isEmpty flag — never rows.

        Distance definition (r5): haversine at the better of TWO
        argmin candidates — the degree-planar winner (reference
        parity) and the cos-scaled locally-metric-correct winner —
        each min-reduced across tiles in its own metric. Both argmins
        are over the region's full true-boundary segment set, so the
        definition stays tiling-independent; the scaled candidate only
        wins under the 1e-12 relative-improvement guard (rect-fixture
        hashes bit-stable).

        At planet scale: real region sets have every deep level nearby,
        so almost all (point, deep)s certify in round one; the
        full-extent cap round only pairs points with the tiles of deep
        levels whose k-th feature is continent-distant — inherent in
        the reference's '-1 traverses all data' semantics
        (AreaCityQuery.java:100)."""
        base_res = self.base_res
        r0 = 262144.0        # 2^18 m starting radius
        growth = 32.0        # ×32/round → ≤3 rounds to planet scale

        # tiny metadata dims (≤ #deep-levels rows), ONE pass over tiles
        deep_stats = (
            tiles_b.groupBy("deep").agg(
                F.countDistinct("region_id").alias("tot"),
                F.min("minx").alias("ex0"), F.min("miny").alias("ey0"),
                F.max("maxx").alias("ex1"), F.max("maxy").alias("ey1"))
            .localCheckpoint(eager=True)
        )
        deep_tot = deep_stats.select("deep", "tot")
        ex_row = deep_stats.agg(
            F.min("ex0").alias("ex0"), F.min("ey0").alias("ey0"),
            F.max("ex1").alias("ex1"), F.max("ey1").alias("ey1")).first()
        extent = self.spark.createDataFrame(
            [(ex_row["ex0"], ex_row["ey0"], ex_row["ex1"], ex_row["ey1"])],
            "ex0 double, ey0 double, ex1 double, ey1 double")

        cover_schema = StructType([
            StructField("point_id", LongType()),
            StructField("lng", DoubleType()),
            StructField("lat", DoubleType()),
            StructField("mask", LongType()),
            StructField("cell_id", LongType()),
        ])

        def make_cover(r_m: float):
            def cover_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                # per-axis degree radii via the CreateSimpleCircle
                # step-ladder (AreaCityQuery.java:1388-1405), bbox
                # clamped to the tile-store extent; vectorized via
                # grid.cover_bboxes
                km = r_m / 1000.0
                a = 0.01 if km < 5 else 0.1 if km < 50 else 1.0 if km < 500 else 10.0
                for pdf in it:
                    if not len(pdf):
                        yield pd.DataFrame({
                            "point_id": pd.Series([], dtype="int64"),
                            "lng": pd.Series([], dtype="float64"),
                            "lat": pd.Series([], dtype="float64"),
                            "mask": pd.Series([], dtype="int64"),
                            "cell_id": pd.Series([], dtype="int64"),
                        })
                        continue
                    pid = pdf["point_id"].to_numpy()
                    msk = pdf["mask"].to_numpy()
                    px = pdf["lng"].to_numpy(dtype=np.float64)
                    py = pdf["lat"].to_numpy(dtype=np.float64)
                    b = np.asarray(distance.haversine(px, py, px + a, py))
                    c = np.asarray(distance.haversine(px, py, px, py + a))
                    rb = r_m / b * a
                    rc = r_m / c * a
                    minx = np.maximum(px - rb, pdf["ex0"].to_numpy())
                    maxx = np.minimum(px + rb, pdf["ex1"].to_numpy())
                    miny = np.maximum(py - rc, pdf["ey0"].to_numpy())
                    maxy = np.minimum(py + rc, pdf["ey1"].to_numpy())
                    ok = (minx <= maxx) & (miny <= maxy)
                    idx = np.nonzero(ok)[0]
                    rep, cid = grid.cover_bboxes(
                        minx[idx], miny[idx], maxx[idx], maxy[idx], base_res)
                    sel = idx[rep]
                    yield pd.DataFrame({
                        "point_id": pid[sel].astype("int64"),
                        "lng": px[sel],
                        "lat": py[sel],
                        "mask": msk[sel].astype("int64"),
                        "cell_id": cid,
                    })
            return cover_fn

        active = (misses.select("point_id", "lng", "lat")
                  .crossJoin(F.broadcast(deep_tot.select("deep")))
                  .localCheckpoint(eager=True))  # (point, deep) state
        t_side = F.broadcast(tiles_b) if self.broadcast_tiles else tiles_b
        # beyond ~the extent's own span the cell cover prunes nothing —
        # switch to the cogrouped full reverse scan. (ex_row is a 1-row
        # metadata fetch, same class as QueryInitInfo's kind counts.)
        if ex_row["ex0"] is None:
            r_switch = 0.0  # no tiles at all: empty terminal round
        else:
            r_switch = 111320.0 * max(ex_row["ex1"] - ex_row["ex0"],
                                      ex_row["ey1"] - ex_row["ey0"])
        parts: list[DataFrame] = []
        r = r0
        n_prev = active.count()  # scalar control-flow action
        # telemetry (VERDICT r3 #7): rounds taken, per-round radius /
        # candidate-row / surviving-frontier counts, and how the
        # iteration terminated — so a growth-factor mistune at 100×
        # scale shows up in bench JSON instead of silently burning
        # rounds. Candidate counts ride an Observation on the round's
        # ALREADY-materializing checkpoint (CollectMetrics in the same
        # job) — zero extra Spark jobs; frontier counts reuse the
        # loop's own control-flow count.
        stats: dict = {
            "start_pd_pairs": int(n_prev), "rounds": 0,
            "round_radius_m": [], "round_candidates": [],
            "round_frontier_after": [],
            "terminal_full_scan": False, "terminal_reason": None,
        }
        self.last_q2_iter_stats = stats
        w = Window.partitionBy("point_id", "deep").orderBy("dist_m", "region_id")
        while True:
            # direct-to-terminal fast paths: (a) the remaining frontier
            # is small enough that the exact cogrouped scan is cheaper
            # than ANY round's fixed job overhead (small_direct is
            # (point,deep)-pair count — ~10 Spark jobs of cover-round
            # machinery never beat a sub-second full scan), (b) the
            # radius has reached the extent span so the cover prunes
            # nothing anyway
            if r >= r_switch or n_prev <= small_direct:
                stats["terminal_full_scan"] = True
                stats["terminal_reason"] = (
                    "radius_reached_extent" if r >= r_switch
                    else "small_frontier")
                parts.append(self._dists_full_scan(active, tiles_b))
                break
            act_pts = active.groupBy("point_id", "lng", "lat").agg(
                F.expr("bit_or(cast(shiftleft(1, cast(deep AS INT)) AS BIGINT))")
                .alias("mask"))
            act_ext = act_pts.crossJoin(F.broadcast(extent))
            cover = act_ext.mapInPandas(make_cover(r), cover_schema)
            cand = (cover.join(t_side, "cell_id")
                    .filter(F.expr(
                        "(shiftright(mask, cast(deep AS INT)) & 1) = 1"))
                    .select("point_id", "lng", "lat", "cell_id", "region_id",
                            "deep", "minx", "miny", "maxx", "maxy",
                            "tile_wkb"))
            obs = Observation()
            per_pr = (self._cand_dists(cand)
                      .observe(obs, F.count(F.lit(1)).alias("n"))
                      .localCheckpoint(eager=True))
            stats["rounds"] += 1
            stats["round_radius_m"].append(float(r))
            stats["round_candidates"].append(int(obs.get["n"]))
            ranked = per_pr.withColumn("rn", F.row_number().over(w))
            per_pd = (ranked.join(F.broadcast(deep_tot), "deep")
                      .groupBy("point_id", "deep")
                      .agg(F.count("*").alias("cnt"),
                           F.max(F.when(
                               F.col("rn") <= F.least(F.lit(k), F.col("tot")),
                               F.col("dist_m"))).alias("dk"),
                           F.first("tot").alias("tot")))
            frozen = per_pd.filter(
                (F.col("cnt") >= F.least(F.lit(k), F.col("tot")))
                & (F.col("dk") <= F.lit(r / 4.0))) \
                .select("point_id", "deep")
            parts.append(per_pr.join(frozen, ["point_id", "deep"], "left_semi")
                               .select("point_id", "region_id", "dist_m"))
            active = active.join(frozen, ["point_id", "deep"], "left_anti") \
                           .localCheckpoint(eager=True)
            # scalar control-flow counts only — no row data on the driver
            n_act = active.count()
            stats["round_frontier_after"].append(int(n_act))
            if n_act == 0:
                stats["terminal_reason"] = "converged"
                break
            if n_act > 0.5 * n_prev:
                # cover rounds stopped shrinking the frontier (the k-th
                # feature of some deep is a large fraction of the world
                # away for most points) — radius doubling would just
                # re-pay the cover; go straight to the exact full scan
                stats["terminal_full_scan"] = True
                stats["terminal_reason"] = "frontier_stall"
                parts.append(self._dists_full_scan(active, tiles_b))
                break
            n_prev = n_act
            r *= growth

        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _dists_full_scan(self, active: DataFrame,
                         tiles_b: DataFrame) -> DataFrame:
        """Terminal round of the tolerance=-1 iteration: an exact full
        reverse scan for the remaining (point, deep) pairs, expressed
        as a cogrouped applyInPandas — points hash-bucket by point_id,
        the needed deeps' boundary tiles REPLICATE to every bucket
        (tile dim ≪ point count; at scale only the continent-distant
        deep levels are still active here, so the replicated side is a
        handful of far regions' tiles). Inside each group the old
        reverse-broadcast kernel runs unchanged: one vectorized
        planar-nearest call per tile over the bucket's points, argmin
        min-reduce per region, haversine once at each winner — pair
        formation never materializes as rows, and the driver holds
        nothing."""
        B = max(int(self.spark.sparkContext.defaultParallelism), 8)
        refine = self.geodesic_refine
        act_pts = active.groupBy("point_id", "lng", "lat").agg(
            F.expr("bit_or(cast(shiftleft(1, cast(deep AS INT)) AS BIGINT))")
            .alias("mask"))
        pts_b = act_pts.withColumn(
            "b", F.pmod(F.col("point_id"), F.lit(B)).cast("int"))
        deeps_needed = active.select("deep").distinct()
        tls = (tiles_b.join(F.broadcast(deeps_needed), "deep", "left_semi")
               .select("deep", "cell_id", "region_id", "minx", "miny",
                       "maxx", "maxy", "tile_wkb")
               .crossJoin(self.spark.range(B)
                          .select(F.col("id").cast("int").alias("b"))))
        schema = StructType([
            StructField("point_id", LongType()),
            StructField("region_id", LongType()),
            StructField("dist_m", DoubleType()),
        ])

        def kernel(pts: pd.DataFrame, tls_: pd.DataFrame) -> pd.DataFrame:
            if not len(pts) or not len(tls_):
                return pd.DataFrame({
                    "point_id": pd.Series([], dtype="int64"),
                    "region_id": pd.Series([], dtype="int64"),
                    "dist_m": pd.Series([], dtype="float64"),
                })
            px = pts["lng"].to_numpy(dtype=np.float64)
            py = pts["lat"].to_numpy(dtype=np.float64)
            pid = pts["point_id"].to_numpy()
            msk = pts["mask"].to_numpy()
            sel_by_deep: dict[int, np.ndarray] = {}
            # rid → (sel, planar_d, nx, ny) min-reduced across its tiles
            best: dict[int, tuple] = {}
            for row in tls_.itertuples(index=False):
                dp = int(row.deep)
                sel = sel_by_deep.get(dp)
                if sel is None:
                    sel = sel_by_deep[dp] = np.nonzero(
                        (msk >> dp) & 1)[0]
                if not len(sel):
                    continue
                g = wkb.loads(bytes(row.tile_wkb))
                segs = _distance_segs(g, row.minx, row.miny,
                                      row.maxx, row.maxy)
                if not len(segs):
                    continue
                rid = int(row.region_id)
                ent = best.get(rid)
                # antimeridian unroll (late r5): shift the PROBE by a
                # whole number of turns to within 180° of the tile, so
                # the planar argmins can see across ±180 (haversine is
                # 360°-periodic, so evaluation never needs the shift;
                # for every in-range pair round() is 0 and pxa == px
                # bit-for-bit)
                cxc = (row.minx + row.maxx) / 2.0
                pxa = px[sel] - 360.0 * np.round((px[sel] - cxc) / 360.0)
                nx, ny, d, jn = predicates.nearest_on_segments_idx(
                    pxa, py[sel], segs)
                # r5 anisotropy-corrected second candidate: min-reduced
                # across tiles in ITS OWN metric, haversine decided at
                # the end (same two-candidate scheme as tolerance>0)
                sx, sy, sd, js = predicates.nearest_on_segments_scaled_idx(
                    pxa, py[sel], segs)
                if refine:
                    # geodesic mode: evaluate EVERYTHING per tile in
                    # METERS and min-reduce that — cross-tile reduction
                    # by a degree metric can pick the wrong tile at
                    # planetary range (the reference min-reduces meters
                    # across its splits, which is why it occasionally
                    # landed exact where the degree reduction was 25 km
                    # off). Per-tile candidates: haversine at both
                    # argmin points + 65 samples along each winning
                    # segment.
                    h_n = np.asarray(distance.haversine(
                        nx, ny, px[sel], py[sel]), dtype=np.float64)
                    h_s = np.asarray(distance.haversine(
                        sx, sy, px[sel], py[sel]), dtype=np.float64)
                    jp = _best_segment_by_hav_proxy(pxa, py[sel], segs)
                    v = np.minimum(np.minimum(
                        np.minimum(h_n, h_s),
                        _refine_hav_on_segments(segs[jp], px[sel],
                                                py[sel])),
                        np.minimum(
                            _refine_hav_on_segments(segs[jn], px[sel],
                                                    py[sel]),
                            _refine_hav_on_segments(segs[js], px[sel],
                                                    py[sel])))
                    if ent is None:
                        best[rid] = (sel, v)
                    else:
                        np.minimum(ent[1], v, out=ent[1])
                    continue
                if ent is None:
                    best[rid] = (sel, np.asarray(d, dtype=np.float64),
                                 np.asarray(nx), np.asarray(ny),
                                 np.asarray(sd, dtype=np.float64),
                                 np.asarray(sx), np.asarray(sy))
                else:
                    _, bd, bnx, bny, bsd, bsx, bsy = ent
                    m = d < bd
                    bd[m] = d[m]
                    bnx[m] = nx[m]
                    bny[m] = ny[m]
                    ms = sd < bsd
                    bsd[ms] = sd[ms]
                    bsx[ms] = sx[ms]
                    bsy[ms] = sy[ms]
            out_p, out_r, out_d = [], [], []
            for rid, ent in best.items():
                sel = ent[0]
                out_p.append(pid[sel])
                out_r.append(np.full(len(sel), rid, dtype=np.int64))
                if refine:
                    out_d.append(ent[1])
                    continue
                _, bd, bnx, bny, bsd, bsx, bsy = ent
                d0 = np.asarray(distance.haversine(
                    bnx, bny, px[sel], py[sel]), dtype=np.float64)
                d1 = np.asarray(distance.haversine(
                    bsx, bsy, px[sel], py[sel]), dtype=np.float64)
                # same genuine-improvement guard as the tolerance paths
                out_d.append(np.where(d1 < d0 * (1.0 - 1e-12), d1, d0))
            if not out_p:
                return pd.DataFrame({
                    "point_id": pd.Series([], dtype="int64"),
                    "region_id": pd.Series([], dtype="int64"),
                    "dist_m": pd.Series([], dtype="float64"),
                })
            return pd.DataFrame({
                "point_id": np.concatenate(out_p).astype("int64"),
                "region_id": np.concatenate(out_r),
                "dist_m": np.concatenate(out_d),
            })

        return (pts_b.groupby("b").cogroup(tls.groupby("b"))
                .applyInPandas(kernel, schema))

    def _cand_dists(self, cand: DataFrame) -> DataFrame:
        """Exact per-(point, region) distances for (point, region,
        tile) candidates, matching the definition the Q2 oracles
        encode: ARGMIN across the region's tiles (planar, plus the r5
        cos-scaled metric as an independent second candidate), then
        haversine evaluated AT the winning boundary points and the
        better one reported (NOT min of per-tile haversines — at long
        range the two differ because longitudinal meters shrink with
        latitude).

        Stage 1 (Arrow batch): candidate rows group per TILE via a
        lexsort over (cell_id, region_id, bbox bit-keys) — no per-row
        Python, no byte-string hashing — each tile's WKB decodes once
        per task (registry cache) and one vectorized planar-nearest
        call runs per tile group (the Q3 refine's _tile_groups
        pattern). Stage 2: a JVM struct-min aggregation picks the
        planar argmin per (point, region) — map-side combine, skinny
        shuffle — then one thin Arrow pass computes haversine at the
        winners (the same numpy arithmetic as every other engine
        distance)."""
        refine = self.geodesic_refine
        schema = StructType([
            StructField("point_id", LongType()),
            StructField("region_id", LongType()),
            StructField("deep", IntegerType()),
            StructField("lng", DoubleType()),
            StructField("lat", DoubleType()),
            StructField("planar_d", DoubleType()),
            StructField("nx", DoubleType()),
            StructField("ny", DoubleType()),
            StructField("scaled_d", DoubleType()),
            StructField("sx", DoubleType()),
            StructField("sy", DoubleType()),
            # geodesic mode only: per-(pair, tile) min METERS over all
            # candidate evaluations (inf in default mode)
            StructField("vmin", DoubleType()),
        ])

        _COLS = ("point_id", "region_id", "deep", "lng", "lat",
                 "planar_d", "nx", "ny", "scaled_d", "sx", "sy", "vmin")

        def _empty():
            return pd.DataFrame({
                c: pd.Series([], dtype=(
                    "int64" if c in ("point_id", "region_id")
                    else "int32" if c == "deep" else "float64"))
                for c in _COLS})

        def near_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            registry: dict[tuple, np.ndarray] = {}
            for pdf in it:
                n = len(pdf)
                if n == 0:
                    yield _empty()
                    continue
                cid = pdf["cell_id"].to_numpy()
                rid = pdf["region_id"].to_numpy()
                mnxf = pdf["minx"].to_numpy(dtype=np.float64)
                mnyf = pdf["miny"].to_numpy(dtype=np.float64)
                mxxf = pdf["maxx"].to_numpy(dtype=np.float64)
                mxyf = pdf["maxy"].to_numpy(dtype=np.float64)
                xb = mnxf.view(np.int64)
                yb = mnyf.view(np.int64)
                order = np.lexsort((yb, xb, rid, cid))
                cs, rs, xs, ys = cid[order], rid[order], xb[order], yb[order]
                new_grp = np.empty(n, dtype=bool)
                new_grp[0] = True
                new_grp[1:] = (np.diff(cs) != 0) | (np.diff(rs) != 0) | \
                              (np.diff(xs) != 0) | (np.diff(ys) != 0)
                starts = np.nonzero(new_grp)[0]
                ends = np.append(starts[1:], n)
                px = pdf["lng"].to_numpy(dtype=np.float64)[order]
                py = pdf["lat"].to_numpy(dtype=np.float64)[order]
                pid_o = pdf["point_id"].to_numpy()[order]
                dp_o = pdf["deep"].to_numpy()[order]
                wkb_col = pdf["tile_wkb"].to_numpy()[order]
                nx = np.empty(n)
                ny = np.empty(n)
                d = np.empty(n)
                sxa = np.empty(n)
                sya = np.empty(n)
                sda = np.empty(n)
                vmin = np.full(n, np.inf)
                valid = np.ones(n, dtype=bool)
                mnx_o = mnxf[order]
                mny_o = mnyf[order]
                mxx_o = mxxf[order]
                mxy_o = mxyf[order]
                for s0, s1 in zip(starts, ends):
                    key = (cs[s0], rs[s0], xs[s0], ys[s0])
                    segs = registry.get(key)
                    if segs is None:
                        g = wkb.loads(bytes(wkb_col[s0]))
                        segs = _distance_segs(g, mnx_o[s0], mny_o[s0],
                                              mxx_o[s0], mxy_o[s0])
                        registry[key] = segs
                    if not len(segs):
                        valid[s0:s1] = False
                        continue
                    # antimeridian unroll: shift the probe to within
                    # 180° of the tile for the ARGMIN only (round()==0
                    # → pxa == px bit-for-bit for every in-range pair)
                    cxc = (mnx_o[s0] + mxx_o[s0]) / 2.0
                    pxa = px[s0:s1] - 360.0 * np.round(
                        (px[s0:s1] - cxc) / 360.0)
                    nx[s0:s1], ny[s0:s1], d[s0:s1], jn = \
                        predicates.nearest_on_segments_idx(
                            pxa, py[s0:s1], segs)
                    sxa[s0:s1], sya[s0:s1], sda[s0:s1], js = \
                        predicates.nearest_on_segments_scaled_idx(
                            pxa, py[s0:s1], segs)
                    if refine:
                        # geodesic mode: per-tile candidates evaluated
                        # in METERS (see _dists_full_scan's refine
                        # branch for the rationale)
                        h_n = np.asarray(distance.haversine(
                            nx[s0:s1], ny[s0:s1],
                            px[s0:s1], py[s0:s1]), dtype=np.float64)
                        h_s = np.asarray(distance.haversine(
                            sxa[s0:s1], sya[s0:s1],
                            px[s0:s1], py[s0:s1]), dtype=np.float64)
                        jp = _best_segment_by_hav_proxy(
                            pxa, py[s0:s1], segs)
                        vmin[s0:s1] = np.minimum(np.minimum(
                            np.minimum(h_n, h_s),
                            _refine_hav_on_segments(
                                segs[jp], px[s0:s1], py[s0:s1])),
                            np.minimum(
                                _refine_hav_on_segments(
                                    segs[jn], px[s0:s1], py[s0:s1]),
                                _refine_hav_on_segments(
                                    segs[js], px[s0:s1], py[s0:s1])))
                yield pd.DataFrame({
                    "point_id": pid_o[valid].astype("int64"),
                    "region_id": rs[valid].astype("int64"),
                    "deep": dp_o[valid].astype("int32"),
                    "lng": px[valid],
                    "lat": py[valid],
                    "planar_d": d[valid],
                    "nx": nx[valid],
                    "ny": ny[valid],
                    "scaled_d": sda[valid],
                    "sx": sxa[valid],
                    "sy": sya[valid],
                    "vmin": vmin[valid],
                })

        near = cand.mapInPandas(near_fn, schema)
        # TWO independent struct-min argmins: the degree-planar winner
        # (reference-parity definition) and the r5 scaled-metric winner;
        # haversine decides between them in the thin final pass
        win = near.groupBy("point_id", "region_id").agg(
            F.min(F.struct("planar_d", "nx", "ny")).alias("m"),
            F.min(F.struct("scaled_d", "sx", "sy")).alias("ms"),
            F.min("vmin").alias("vmin"),
            F.first("deep").alias("deep"),
            F.first("lng").alias("lng"), F.first("lat").alias("lat"),
        ).select("point_id", "region_id", "deep", "lng", "lat",
                 F.col("m.nx").alias("nx"), F.col("m.ny").alias("ny"),
                 F.col("ms.sx").alias("sx"), F.col("ms.sy").alias("sy"),
                 "vmin")

        out_schema = StructType([
            StructField("point_id", LongType()),
            StructField("region_id", LongType()),
            StructField("deep", IntegerType()),
            StructField("dist_m", DoubleType()),
        ])

        def hav_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                if refine:
                    # geodesic mode: the per-tile meters minimum is the
                    # answer (it already includes haversine at every
                    # tile's argmin points and segment samples)
                    d = pdf["vmin"].to_numpy()
                    yield pd.DataFrame({
                        "point_id": pdf["point_id"].astype("int64"),
                        "region_id": pdf["region_id"].astype("int64"),
                        "deep": pdf["deep"].astype("int32"),
                        "dist_m": np.asarray(d, dtype="float64"),
                    })
                    continue
                plng = pdf["lng"].to_numpy()
                plat = pdf["lat"].to_numpy()
                d0 = np.asarray(distance.haversine(
                    pdf["nx"].to_numpy(), pdf["ny"].to_numpy(),
                    plng, plat))
                d1 = np.asarray(distance.haversine(
                    pdf["sx"].to_numpy(), pdf["sy"].to_numpy(),
                    plng, plat))
                # same genuine-improvement guard as every other
                # tolerance path (keeps rect-fixture hashes bit-stable)
                d = np.where(d1 < d0 * (1.0 - 1e-12), d1, d0)
                yield pd.DataFrame({
                    "point_id": pdf["point_id"].astype("int64"),
                    "region_id": pdf["region_id"].astype("int64"),
                    "deep": pdf["deep"].astype("int32"),
                    "dist_m": np.asarray(d, dtype="float64"),
                })

        return win.mapInPandas(hav_fn, out_schema)

    def _finish_tolerance(self, base_out: DataFrame, dists: DataFrame, k: int) -> DataFrame:
        per_feature = dists.groupBy("point_id", "region_id").agg(
            F.min("dist_m").alias("dist_m"))
        joined = per_feature.join(
            F.broadcast(self.boundaries.select(
                "region_id", "id", "pid", "deep", "name", "ext_path", "prop_json")),
            "region_id")
        # the reference is k=1 per deep level (AreaCityQuery.java:136-141);
        # generalizing k is the same window with rn <= k
        w = Window.partitionBy("point_id", "deep").orderBy("dist_m", "region_id")
        winners = joined.withColumn("_rn", F.row_number().over(w)) \
                        .filter(F.col("_rn") <= k).drop("_rn")
        annotated = winners.withColumn(
            "prop_json_out", _distance_prop_json(),
        ).withColumn("point_distance", F.col("dist_m")) \
         .withColumn("point_distance_id", F.col("region_id")) \
         .drop("dist_m")
        return base_out.unionByName(annotated)

    # ---------------------------------------------------------- Q3

    def _geometry_index_refine(self, probes: DataFrame,
                               keep: np.ndarray | None = None) -> DataFrame:
        """Q3 against the broadcast indexes — zero-shuffle
        geometry-intersects: ONE mapInPandas over the probe table.
        Per Arrow batch: probes decompose into columnar primitives
        (_decompose_probe_batch), cover cells enumerate in-kernel
        (grid.cover_bboxes), candidate tiles come from the boundary
        CSR (`_boundary_index`, kind 0/2 — pre-decoded segments, no
        per-task WKB decode) and the interior CSR (`_interior_index`,
        kind 1), and the SAME predicate kernels as the cover-join
        refine decide hits (filtered segments for crossing/touch, raw
        closed rings for parity/containment — see _tile_groups). A
        probe's primitives never leave their batch, so (probe_id,
        region_id) dedup is LOCAL — the join path's global
        dropDuplicates exchange disappears along with the cover
        shuffle. Output set is identical to the join path
        (tests/test_q3_index_parity.py sweeps real province geometry).
        """
        bc, _ = self._boundary_index()
        bi = self._interior_index()
        base_res = self.base_res
        keep_regions = keep  # the output dedup reuses the name `keep`
        schema = StructType([StructField("probe_id", LongType()),
                             StructField("region_id", LongType())])

        def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            I = bc.value
            J = bi.value
            bcells, bptr = I["cells"], I["cell_ptr"]
            tregion, tkind = I["region"], I["kind"]
            tmnx, tmny = I["minx"], I["miny"]
            tmxx, tmxy = I["maxx"], I["maxy"]
            sptr, fptr = I["seg_ptr"], I["fseg_ptr"]
            SEG, fseg = I["SEG"], I["fseg"]
            icells, iptr, iregion = J["cells"], J["cell_ptr"], J["region"]
            icx0, icy0, icx1, icy1 = J["cx0"], J["cy0"], J["cx1"], J["cy1"]
            seg_cache: dict[int, tuple] = {}  # tile idx → (raw, filtered)
            probe_cache: dict = {}
            empty = pd.DataFrame({
                "probe_id": pd.Series([], dtype="int64"),
                "region_id": pd.Series([], dtype="int64"),
            })

            def tile_segs(t: int) -> tuple:
                ent = seg_cache.get(t)
                if ent is None:
                    r0, r1 = sptr[t], sptr[t + 1]
                    f0, f1 = fptr[t], fptr[t + 1]
                    raw = np.ascontiguousarray(SEG[r0:r1, :4])
                    flt = SEG[fseg[f0:f1], :4]
                    ent = seg_cache[t] = (raw, flt)
                return ent

            def probe_segs(wkt0: str) -> np.ndarray:
                ent = probe_cache.get(("segs", wkt0))
                if ent is None:
                    g = probe_cache.get(wkt0)
                    if g is None:
                        g = probe_cache[wkt0] = wkt_codec.loads(wkt0)
                    ent = predicates.segments_of_rings(core.all_rings(g))
                    probe_cache[("segs", wkt0)] = ent
                return ent

            def contain_hits(rows3, px_t, py_t, wkt_c, hit, sel3):
                """pkind-3 rows → probe-polygon parity tests, grouped by
                member WKT text (a GEOMETRYCOLLECTION probe emits one
                row per polygonal member)."""
                order = np.argsort(wkt_c, kind="stable")
                sw = wkt_c[order]
                starts = np.nonzero(np.r_[True, sw[1:] != sw[:-1]])[0]
                ends = np.append(starts[1:], len(wkt_c))
                for s0, s1 in zip(starts, ends):
                    rows_o = order[s0:s1]
                    ent = probe_segs(wkt_c[rows_o[0]])
                    sel = rows_o[rows3[rows_o]]
                    if len(sel) and len(ent):
                        hit[sel3[sel]] = predicates.points_intersect_prepared(
                            px_t[sel], py_t[sel], ent)

            for pdf in it:
                dec = _decompose_probe_batch(pdf)
                if dec is None:
                    yield empty
                    continue
                pid_a, kind_a, p_a, wkt_a, bb_a = dec
                if (kind_a == 0).any():
                    # unreachable: wkt.loads rejects any type that does
                    # not decompose to kinds 1/2/3 — kept as a loud
                    # guard (the cover-join path carries the pairwise
                    # fallback; disable the index to route there)
                    raise ValueError(
                        "Q3 index path met an undecomposable probe; "
                        "set boundary_index_wkb_bytes=0 to use the "
                        "cover-join fallback")
                rep, cid = grid.cover_bboxes(
                    bb_a[:, 0], bb_a[:, 1], bb_a[:, 2], bb_a[:, 3], base_res)
                hit_pids: list[np.ndarray] = []
                hit_regs: list[np.ndarray] = []

                # ---------- boundary-index candidates (kind 0/2 tiles)
                crow, pcell, tix = _cell_pairs(bcells, bptr, cid)
                prep = rep[crow]
                if keep_regions is not None and len(prep):
                    km = _in_sorted(tregion[tix], keep_regions)
                    prep, pcell, tix = prep[km], pcell[km], tix[km]
                if len(prep):
                    pk = kind_a[prep]
                    tk = tkind[tix]
                    hit = np.zeros(len(prep), dtype=bool)
                    # rect/pt probe × interior-subcell tile: one closed
                    # bbox-overlap test (boundary touch counts)
                    m = (pk == 1) & (tk == 2)
                    if m.any():
                        pm, tm = prep[m], tix[m]
                        hit[m] = ((p_a[pm, 0] <= tmxx[tm])
                                  & (p_a[pm, 2] >= tmnx[tm])
                                  & (p_a[pm, 1] <= tmxy[tm])
                                  & (p_a[pm, 3] >= tmny[tm]))
                    # seg probe × interior-subcell tile: exact kernel
                    m = (pk == 2) & (tk == 2)
                    if m.any():
                        pm, tm = prep[m], tix[m]
                        hit[m] = predicates.segs_intersect_rects(
                            p_a[pm, 0], p_a[pm, 1], p_a[pm, 2], p_a[pm, 3],
                            tmnx[tm], tmny[tm], tmxx[tm], tmxy[tm])
                    # rect/seg probe × boundary tile: grouped per tile,
                    # same kernels as the join refine (_tile_groups)
                    sel = np.nonzero((tk == 0) & (pk != 3))[0]
                    if len(sel):
                        o = sel[np.argsort(tix[sel], kind="stable")]
                        tso = tix[o]
                        starts = np.nonzero(
                            np.r_[True, tso[1:] != tso[:-1]])[0]
                        ends = np.append(starts[1:], len(o))
                        po = prep[o]
                        a0, a1 = p_a[po, 0], p_a[po, 1]
                        a2, a3 = p_a[po, 2], p_a[po, 3]
                        pko = pk[o]
                        hv = np.zeros(len(o), dtype=bool)
                        for s0, s1 in zip(starts, ends):
                            raw, flt = tile_segs(int(tso[s0]))
                            seg_sel = np.arange(s0, s1)
                            mrect = pko[seg_sel] == 1
                            if mrect.any():
                                rr = seg_sel[mrect]
                                touch = predicates.segments_in_cells(
                                    flt, a0[rr], a1[rr], a2[rr], a3[rr])
                                inside = predicates.points_intersect_prepared(
                                    a0[rr], a1[rr], raw)
                                hv[rr] = touch | inside
                            if (~mrect).any():
                                ss = seg_sel[~mrect]
                                cross = predicates.segs_intersect_segs_any(
                                    a0[ss], a1[ss], a2[ss], a3[ss], flt)
                                inside = predicates.points_intersect_prepared(
                                    a0[ss], a1[ss], raw)
                                hv[ss] = cross | inside
                        hit[o] = hv
                    # containment rows × boundary-index tiles: one
                    # representative per (prim, cell, region) — pairs
                    # are prim-major / cell-contiguous / region-sorted,
                    # so a consecutive-diff dedup matches the join
                    # path's per-(cell, region) tile dedup
                    sel3 = np.nonzero(pk == 3)[0]
                    if len(sel3):
                        pr3, pc3 = prep[sel3], pcell[sel3]
                        rg3 = tregion[tix[sel3]]
                        first = np.r_[True, (np.diff(pr3) != 0)
                                      | (np.diff(pc3) != 0)
                                      | (np.diff(rg3) != 0)]
                        sel3 = sel3[first]
                        t3 = tix[sel3]
                        # representative point: prefer a TRUE boundary
                        # vertex (window runs can sit eps outside the
                        # region); fall back to the raw ring; kind-2
                        # sub-cells use their rect corner (inside the
                        # region by construction)
                        px_t = tmnx[t3].copy()
                        py_t = tmny[t3].copy()
                        mr = (sptr[t3 + 1] - sptr[t3]) > 0
                        if mr.any():
                            px_t[mr] = SEG[sptr[t3[mr]], 0]
                            py_t[mr] = SEG[sptr[t3[mr]], 1]
                        mf = (fptr[t3 + 1] - fptr[t3]) > 0
                        if mf.any():
                            px_t[mf] = SEG[fseg[fptr[t3[mf]]], 0]
                            py_t[mf] = SEG[fseg[fptr[t3[mf]]], 1]
                        ok_t = mr | mf | (tkind[t3] == 2)
                        contain_hits(ok_t, px_t, py_t,
                                     wkt_a[prep[sel3]], hit, sel3)
                    hm = np.nonzero(hit)[0]
                    if len(hm):
                        hit_pids.append(pid_a[prep[hm]])
                        hit_regs.append(tregion[tix[hm]])

                # ---------- interior-index candidates (kind 1 tiles,
                # rect == base cell rect — tiler.push stores interiors
                # one row per base cell)
                crow, islot2, irx = _cell_pairs(icells, iptr, cid)
                iprep = rep[crow]
                if keep_regions is not None and len(iprep):
                    km = _in_sorted(iregion[irx], keep_regions)
                    iprep, islot2, irx = iprep[km], islot2[km], irx[km]
                if len(iprep):
                    pk = kind_a[iprep]
                    rx0, ry0 = icx0[islot2], icy0[islot2]
                    rx1, ry1 = icx1[islot2], icy1[islot2]
                    ihit = np.zeros(len(iprep), dtype=bool)
                    m = pk == 1
                    if m.any():
                        pm = iprep[m]
                        ihit[m] = ((p_a[pm, 0] <= rx1[m])
                                   & (p_a[pm, 2] >= rx0[m])
                                   & (p_a[pm, 1] <= ry1[m])
                                   & (p_a[pm, 3] >= ry0[m]))
                    m = pk == 2
                    if m.any():
                        pm = iprep[m]
                        ihit[m] = predicates.segs_intersect_rects(
                            p_a[pm, 0], p_a[pm, 1], p_a[pm, 2], p_a[pm, 3],
                            rx0[m], ry0[m], rx1[m], ry1[m])
                    m3 = np.nonzero(pk == 3)[0]
                    if len(m3):
                        contain_hits(np.ones(len(m3), dtype=bool),
                                     rx0[m3], ry0[m3],
                                     wkt_a[iprep[m3]], ihit, m3)
                    hm = np.nonzero(ihit)[0]
                    if len(hm):
                        hit_pids.append(pid_a[iprep[hm]])
                        hit_regs.append(iregion[irx[hm]])

                if not hit_pids:
                    yield empty
                    continue
                hp = np.concatenate(hit_pids)
                hg = np.concatenate(hit_regs)
                order = np.lexsort((hg, hp))
                hp, hg = hp[order], hg[order]
                keep = np.r_[True, (np.diff(hp) != 0) | (np.diff(hg) != 0)]
                yield pd.DataFrame({"probe_id": hp[keep].astype("int64"),
                                    "region_id": hg[keep].astype("int64")})

        return probes.select("probe_id", "wkt").mapInPandas(fn, schema)

    def query_geometry(self, probes: DataFrame, where: str | None = None,
                       with_props: bool = True,
                       return_wkt_key: str | None = None) -> DataFrame:
        """Q3 — geometry-intersects join (≙ QueryGeometry,
        /root/reference/AreaCityQuery.java:179-309). `probes` has
        (probe_id long, wkt string); any POINT/LINESTRING/POLYGON/
        MULTIPOLYGON probe. Returns (probe_id, region_id [, props])
        for every boundary the probe intersects (boundary-touch counts).

        Queries against an index-budget boundary set take the
        BROADCAST-INDEX refine (`_geometry_index_refine`) — zero
        shuffle Exchanges, no per-task WKB decode, local dedup;
        `where` rides along as an in-kernel keep-region array.
        Past-budget sets run the cover-join plan below.
        """
        if self._boundary_index() is not None \
                and self._interior_index() is not None:
            matches = self._geometry_index_refine(
                probes, self._keep_region_ids(where))
            if not with_props:
                return matches
            return self._with_props(matches, return_wkt_key=return_wkt_key)
        base_res = self.base_res
        cover_schema = StructType([
            StructField("probe_id", LongType()),
            StructField("p0", DoubleType()),
            StructField("p1", DoubleType()),
            StructField("p2", DoubleType()),
            StructField("p3", DoubleType()),
            StructField("pkind", LongType()),
            StructField("wkt", StringType()),
            StructField("cell_id", LongType()),
        ])

        def cover_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # Probe classification lives in _decompose_probe_batch
            # (shared with the broadcast-index refine). Kinds 1/2 run
            # through columnar kernels and ship 4 doubles, never WKT;
            # cell cover is ONE vectorized cover_bboxes call per Arrow
            # batch — no per-segment Python.
            for pdf in it:
                dec = _decompose_probe_batch(pdf)
                if dec is None:
                    yield pd.DataFrame({
                        "probe_id": pd.Series([], dtype="int64"),
                        "p0": pd.Series([], dtype="float64"),
                        "p1": pd.Series([], dtype="float64"),
                        "p2": pd.Series([], dtype="float64"),
                        "p3": pd.Series([], dtype="float64"),
                        "pkind": pd.Series([], dtype="int64"),
                        "wkt": pd.Series([], dtype=object),
                        "cell_id": pd.Series([], dtype="int64"),
                    })
                    continue
                pid_a, kind_a, p_a, wkt_a, bb_a = dec
                rep, cid = grid.cover_bboxes(
                    bb_a[:, 0], bb_a[:, 1], bb_a[:, 2], bb_a[:, 3], base_res)
                yield pd.DataFrame({
                    "probe_id": pid_a[rep],
                    "p0": p_a[rep, 0],
                    "p1": p_a[rep, 1],
                    "p2": p_a[rep, 2],
                    "p3": p_a[rep, 3],
                    "pkind": kind_a[rep],
                    "wkt": wkt_a[rep],
                    "cell_id": cid,
                })

        cover = probes.select("probe_id", "wkt").mapInPandas(cover_fn, cover_schema)
        # containment rows need ONE tile per (cell, region) — any tile's
        # vertex decides region⊂probe — so they join a deduped tile side
        # (cuts the WKT-carrying fan-out by the subtile multiplicity).
        # Both tile sides union into ONE join (flag `cr` as a join
        # filter) so the cover UDF evaluates once, not per branch.
        t_base = self._tiles_for(where, hint=False)
        tiles_u = (
            t_base.withColumn("cr", F.lit(0))
            .unionByName(t_base.dropDuplicates(["cell_id", "region_id"])
                         .withColumn("cr", F.lit(1)))
            .withColumnRenamed("cell_id", "tcell")
        )
        if self.broadcast_tiles:
            tiles_u = F.broadcast(tiles_u)
        joined = cover.join(
            tiles_u,
            (F.col("cell_id") == F.col("tcell"))
            & (((F.col("pkind") != 3) & (F.col("cr") == 0))
               | ((F.col("pkind") == 3) & (F.col("cr") == 1))),
        ).drop("tcell", "cr")

        refine_schema = StructType([
            StructField("probe_id", LongType()),
            StructField("region_id", LongType()),
        ])

        def refine_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # tile segment registry cached for the task's lifetime
            # (tile WKB decodes once per task, as in the point refine)
            registry: dict[tuple, np.ndarray] = {}
            probe_cache: dict[int, dict] = {}

            def _tile_groups(pdf, idx, tmnx, tmny):
                """Group candidate rows per tile: lexsorted index, group
                boundaries, and decoded tile segments per group.
                segs_at(s0) returns the RAW ring segments (closed —
                required for parity/containment); xsegs_at(s0) the
                window-run-FILTERED set (required for crossing/touch
                tests, where a Sutherland–Hodgman closure or bridge run
                along the expanded clip window — which can lie OUTSIDE
                the region — must not witness an intersection; see
                _distance_segs)."""
                cid = pdf["cell_id"].to_numpy()[idx]
                rid = pdf["region_id"].to_numpy()[idx]
                xb = tmnx[idx].view(np.int64)
                yb = tmny[idx].view(np.int64)
                order = np.lexsort((yb, xb, rid, cid))
                cs, rs, xs, ys = cid[order], rid[order], xb[order], yb[order]
                new_grp = np.empty(len(idx), dtype=bool)
                new_grp[0] = True
                new_grp[1:] = (np.diff(cs) != 0) | (np.diff(rs) != 0) | \
                              (np.diff(xs) != 0) | (np.diff(ys) != 0)
                starts = np.nonzero(new_grp)[0]
                ends = np.append(starts[1:], len(idx))
                wkb_col = pdf["tile_wkb"].to_numpy()[idx][order]
                mnx_o = tmnx[idx][order]
                mny_o = tmny[idx][order]
                mxx_o = tmxx[idx][order]
                mxy_o = tmxy[idx][order]

                def _ent(s0):
                    key = (cs[s0], rs[s0], xs[s0], ys[s0])
                    ent = registry.get(key)
                    if ent is None:
                        g = wkb.loads(bytes(wkb_col[s0]))
                        raw = predicates.segments_of_rings(core.all_rings(g))
                        e = tiler.CLIP_EPS
                        if len(raw):
                            wx0 = mnx_o[s0] - e
                            wy0 = mny_o[s0] - e
                            wx1 = mxx_o[s0] + e
                            wy1 = mxy_o[s0] + e
                            x1, y1 = raw[:, 0], raw[:, 1]
                            x2, y2 = raw[:, 2], raw[:, 3]
                            on_win = (((x1 == x2) & ((x1 == wx0) | (x1 == wx1)))
                                      | ((y1 == y2) & ((y1 == wy0) | (y1 == wy1))))
                            flt = raw[~on_win]
                        else:
                            flt = raw
                        ent = (raw, flt)
                        registry[key] = ent
                    return ent

                def segs_at(s0):
                    return _ent(s0)[0]

                def xsegs_at(s0):
                    return _ent(s0)[1]

                return order, starts, ends, segs_at, xsegs_at

            for pdf in it:
                n = len(pdf)
                if n == 0:
                    yield pd.DataFrame({"probe_id": pd.Series([], dtype="int64"),
                                        "region_id": pd.Series([], dtype="int64")})
                    continue
                kind = pdf["kind"].to_numpy()
                pkind = pdf["pkind"].to_numpy()
                p0 = pdf["p0"].to_numpy(dtype=np.float64)
                p1 = pdf["p1"].to_numpy(dtype=np.float64)
                p2 = pdf["p2"].to_numpy(dtype=np.float64)
                p3 = pdf["p3"].to_numpy(dtype=np.float64)
                tmnx = pdf["minx"].to_numpy(dtype=np.float64)
                tmny = pdf["miny"].to_numpy(dtype=np.float64)
                tmxx = pdf["maxx"].to_numpy(dtype=np.float64)
                tmxy = pdf["maxy"].to_numpy(dtype=np.float64)
                hit_all = np.zeros(n, dtype=bool)

                # ---- rect probe × rect tile: one closed bbox-overlap test
                # (closed ⇒ boundary touch counts, OGC `intersects`)
                m_rr = (pkind == 1) & (kind != 0)
                if m_rr.any():
                    hit_all[m_rr] = (
                        (p0[m_rr] <= tmxx[m_rr]) & (p2[m_rr] >= tmnx[m_rr])
                        & (p1[m_rr] <= tmxy[m_rr]) & (p3[m_rr] >= tmny[m_rr])
                    )

                # ---- seg probe × rect tile: exact orientation kernel
                m_sr = (pkind == 2) & (kind != 0)
                if m_sr.any():
                    hit_all[m_sr] = predicates.segs_intersect_rects(
                        p0[m_sr], p1[m_sr], p2[m_sr], p3[m_sr],
                        tmnx[m_sr], tmny[m_sr], tmxx[m_sr], tmxy[m_sr])

                # ---- rect probe × boundary tile: group per tile, then
                # (a) any tile segment touches the rect (Liang-Barsky,
                #     batched probes × segments — also covers tile ⊂ rect)
                # (b) rect corner inside the tile polygon (rect ⊂ tile)
                m_rb = np.nonzero((pkind == 1) & (kind == 0))[0]
                if len(m_rb):
                    order, starts, ends, segs_at, xsegs_at = \
                        _tile_groups(pdf, m_rb, tmnx, tmny)
                    a0, a1 = p0[m_rb][order], p1[m_rb][order]
                    a2, a3 = p2[m_rb][order], p3[m_rb][order]
                    hit0 = np.zeros(len(m_rb), dtype=bool)
                    for s0, s1 in zip(starts, ends):
                        touch = predicates.segments_in_cells(
                            xsegs_at(s0),
                            a0[s0:s1], a1[s0:s1], a2[s0:s1], a3[s0:s1])
                        inside = predicates.points_intersect_prepared(
                            a0[s0:s1], a1[s0:s1], segs_at(s0))
                        hit0[s0:s1] = touch | inside
                    back = np.empty(len(m_rb), dtype=np.int64)
                    back[order] = np.arange(len(m_rb))
                    hit_all[m_rb] = hit0[back]

                # ---- seg probe × boundary tile: (a) probe segment
                # crosses any tile segment (orientation broadcast);
                # (b) probe endpoint inside the tile polygon (seg ⊂ tile)
                m_sb = np.nonzero((pkind == 2) & (kind == 0))[0]
                if len(m_sb):
                    order, starts, ends, segs_at, xsegs_at = \
                        _tile_groups(pdf, m_sb, tmnx, tmny)
                    a0, a1 = p0[m_sb][order], p1[m_sb][order]
                    a2, a3 = p2[m_sb][order], p3[m_sb][order]
                    hit0 = np.zeros(len(m_sb), dtype=bool)
                    for s0, s1 in zip(starts, ends):
                        cross = predicates.segs_intersect_segs_any(
                            a0[s0:s1], a1[s0:s1], a2[s0:s1], a3[s0:s1],
                            xsegs_at(s0))
                        inside = predicates.points_intersect_prepared(
                            a0[s0:s1], a1[s0:s1], segs_at(s0))
                        hit0[s0:s1] = cross | inside
                    back = np.empty(len(m_sb), dtype=np.int64)
                    back[order] = np.arange(len(m_sb))
                    hit_all[m_sb] = hit0[back]

                # ---- polygon-probe containment rows: tile⊂probe when no
                # boundary crossing exists — test one point OF the tile
                # (rect corner, or the decoded tile's first vertex)
                # against the probe polygon, vectorized per probe group
                m_c = np.nonzero(pkind == 3)[0]
                if len(m_c):
                    wkt_c = pdf["wkt"].to_numpy()[m_c]
                    # interior tiles: any rect corner decides — take
                    # (minx, miny) for the whole subset in one shot
                    px_t = tmnx[m_c].copy()
                    py_t = tmny[m_c].copy()
                    ok_t = np.ones(len(m_c), dtype=bool)
                    # boundary tiles: first vertex OF the decoded tile —
                    # grouped per tile (decode once via the shared
                    # registry), assigned to the whole group slice; the
                    # old formulation looped per candidate ROW in Python
                    # and dominated large-probe gates
                    sub = np.nonzero(kind[m_c] == 0)[0]
                    if len(sub):
                        order_b, starts_b, ends_b, segs_at_b, xsegs_at_b = \
                            _tile_groups(pdf, m_c[sub], tmnx, tmny)
                        for s0, s1 in zip(starts_b, ends_b):
                            # representative point: prefer a TRUE
                            # boundary vertex (window runs can sit eps
                            # outside the region); fall back to the raw
                            # ring when the piece is window-only
                            segs = xsegs_at_b(s0)
                            if len(segs) == 0:
                                segs = segs_at_b(s0)
                            sl = sub[order_b[s0:s1]]
                            if len(segs) == 0:
                                ok_t[sl] = False
                            else:
                                px_t[sl] = segs[0, 0]
                                py_t[sl] = segs[0, 1]
                    # group by the member's WKT TEXT (not probe_id): a
                    # GEOMETRYCOLLECTION probe emits one pkind-3 row per
                    # polygonal member, so one probe_id can carry
                    # several distinct geometries
                    order = np.argsort(wkt_c, kind="stable")
                    sw = wkt_c[order]
                    starts = np.nonzero(np.r_[True, sw[1:] != sw[:-1]])[0]
                    ends = np.append(starts[1:], len(m_c))
                    hit0 = np.zeros(len(m_c), dtype=bool)
                    for s0, s1 in zip(starts, ends):
                        rows_o = order[s0:s1]
                        wkt0 = wkt_c[rows_o[0]]
                        ent = probe_cache.get(("segs", wkt0))
                        if ent is None:
                            g = probe_cache.get(wkt0)
                            if g is None:
                                g = probe_cache[wkt0] = wkt_codec.loads(wkt0)
                            ent = predicates.segments_of_rings(core.all_rings(g))
                            probe_cache[("segs", wkt0)] = ent
                        sel = rows_o[ok_t[rows_o]]
                        if len(sel) and len(ent):
                            hit0[sel] = predicates.points_intersect_prepared(
                                px_t[sel], py_t[sel], ent)
                    hit_all[m_c] = hit0

                # ---- unrecognized probe shapes: exact pairwise fallback
                m_g = np.nonzero(pkind == 0)[0]
                if len(m_g):
                    pid_g = pdf["probe_id"].to_numpy()[m_g]
                    wkt_g = pdf["wkt"].to_numpy()[m_g]
                    rid_g = pdf["region_id"].to_numpy()[m_g]
                    wkb_g = pdf["tile_wkb"].to_numpy()[m_g]
                    for j in range(len(m_g)):
                        g = probe_cache.get(wkt_g[j])
                        if g is None:
                            g = probe_cache[wkt_g[j]] = wkt_codec.loads(wkt_g[j])
                        i = m_g[j]
                        if kind[i] != 0:
                            tile = distance.rect(tmnx[i], tmny[i], tmxx[i], tmxy[i])
                        else:
                            key2 = (pdf["cell_id"].iat[i], rid_g[j],
                                    tmnx[i:i + 1].view(np.int64)[0],
                                    tmny[i:i + 1].view(np.int64)[0], -1)
                            tile = registry.get(key2)
                            if tile is None:
                                tile = registry[key2] = wkb.loads(bytes(wkb_g[j]))
                        hit_all[i] = predicates.geoms_intersect(g, tile)

                if not hit_all.any():
                    yield pd.DataFrame({"probe_id": pd.Series([], dtype="int64"),
                                        "region_id": pd.Series([], dtype="int64")})
                    continue
                out = pdf.loc[hit_all, ["probe_id", "region_id"]].drop_duplicates()
                yield out.astype({"probe_id": "int64", "region_id": "int64"})

        matches = joined.select(
            "probe_id", "p0", "p1", "p2", "p3", "pkind", "wkt",
            "cell_id", "region_id", "kind",
            "minx", "miny", "maxx", "maxy", "tile_wkb",
        ).mapInPandas(refine_fn, refine_schema).dropDuplicates(["probe_id", "region_id"])
        if not with_props:
            return matches
        return self._with_props(matches, return_wkt_key=return_wkt_key)

    # ---------------------------------------------------------- Q4

    def read_wkt_features(self, where: str | None = None,
                          with_wkt: bool = True) -> DataFrame:
        """Q4 — attribute full-scan + WKT fetch (≙ ReadWKT_FromWkbsFile,
        /root/reference/AreaCityQuery.java:328-399): a plain Catalyst
        scan+filter over `boundaries`, with full-geometry WKT
        reconstructed from WKB on demand."""
        df = self.boundaries
        if where:
            df = df.filter(where)
        if not with_wkt:
            return df.drop("geom_wkb")

        out_schema = StructType(
            [f for f in df.schema.fields if f.name != "geom_wkb"]
            + [StructField("wkt", StringType())]
        )

        def to_wkt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                wkts = [
                    wkt_codec.dumps(wkb.loads(bytes(b))) if b is not None else "EMPTY"
                    for b in pdf["geom_wkb"]
                ]
                out = pdf.drop(columns=["geom_wkb"])
                out["wkt"] = wkts
                yield out

        return df.mapInPandas(to_wkt, out_schema)

    # ------------------------------------------------- raster ↔ vector

    def rasterize_regions(self, res: int, where: str | None = None) -> DataFrame:
        """Raster side of raster↔vector: burn each boundary polygon onto
        the uniform res-`res` cell grid → (region_id, cell_id, kind)
        with kind 1 = fully-covered cell, 0 = edge cell. (The adaptive
        tile table is this raster plus clipped edge geometry; this
        operator exposes the plain uniform-grid mask.)"""
        df = self.boundaries
        if where:
            df = df.filter(where)
        schema = StructType([
            StructField("region_id", LongType()),
            StructField("cell_id", LongType()),
            StructField("kind", LongType()),
        ])

        def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from .tiler import _expand_to_base

            for pdf in it:
                rids, cids, kinds = [], [], []
                for rid, gwkb in zip(pdf["region_id"], pdf["geom_wkb"]):
                    if gwkb is None:
                        continue
                    geom = wkb.loads(bytes(gwkb))
                    cells, ks = grid.polyfill_adaptive(
                        geom, base_res=res, max_res=res)
                    for cid, k in zip(cells.tolist(), ks.tolist()):
                        if (cid >> 56) < res:  # coarse interior → expand
                            for child in _expand_to_base(cid, res).tolist():
                                rids.append(rid)
                                cids.append(child)
                                kinds.append(k)
                        else:
                            rids.append(rid)
                            cids.append(cid)
                            kinds.append(k)
                yield pd.DataFrame({"region_id": rids, "cell_id": cids,
                                    "kind": kinds}).astype("int64")

        src = df.select("region_id", "geom_wkb").repartition(
            max(2, self.spark.sparkContext.defaultParallelism), "region_id")
        return src.mapInPandas(fn, schema)

    def vectorize_cells(self, cells: DataFrame,
                        group_col: str = "region_id") -> DataFrame:
        """Vector side of raster↔vector: merge each group's cells back
        into one (Multi)Polygon WKT — adjacent cells are unioned by
        dissolving shared edges, so a filled k×k block comes back as one
        ring, not k² rects."""
        grouped = cells.groupBy(group_col).agg(
            F.collect_list("cell_id").alias("cell_ids"))
        schema = StructType([
            StructField(group_col, LongType()),
            StructField("n_cells", LongType()),
            StructField("wkt", StringType()),
        ])

        def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                gs, ns, ws = [], [], []
                for gid, cell_ids in zip(pdf[group_col], pdf["cell_ids"]):
                    ids = np.asarray(cell_ids, dtype=np.int64)
                    polys = _dissolve_cells(ids)
                    gs.append(gid)
                    ns.append(len(ids))
                    ws.append(wkt_codec.dumps(
                        {"type": "MultiPolygon", "polys": polys}))
                yield pd.DataFrame({group_col: gs, "n_cells": ns, "wkt": ws})

        return grouped.mapInPandas(fn, schema)

    # ---------------------------------------------------------- Q5

    def debug_tile_splits_wkt(self, where: str | None = None) -> DataFrame:
        """Q5 — tiling introspection (≙ Debug_ReadGeometryGridSplitsWKT,
        /root/reference/AreaCityQuery.java:412-492): reassemble each
        matching feature's tiles into one MULTIPOLYGON WKT (interior
        cells as their rects, boundary cells as clipped pieces)."""
        t = self.tiles
        if where:
            keep = self.boundaries.filter(where).select("region_id")
            t = t.join(F.broadcast(keep), "region_id", "left_semi")
        grouped = t.groupBy("region_id").agg(
            F.collect_list(F.struct("kind", "minx", "miny", "maxx", "maxy", "tile_wkb")).alias("tiles"),
            F.count("*").alias("n_tiles"),
        )
        schema = StructType([
            StructField("region_id", LongType()),
            StructField("n_tiles", LongType()),
            StructField("tiles_wkt", StringType()),
        ])

        def canon(ring: np.ndarray) -> np.ndarray:
            """Rotate a closed ring to start at its lexicographically
            smallest (x, y) vertex, orientation preserved — makes the
            emitted WKT text deterministic (collect_list order and the
            clip algorithm's starting vertex are not)."""
            pts = ring[:-1]
            i = int(np.lexsort((pts[:, 1], pts[:, 0]))[0])
            return np.vstack([pts[i:], pts[:i], pts[i:i + 1]])

        def assemble(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                rids, counts, wkts = [], [], []
                for rid, n, tile_list in zip(pdf["region_id"], pdf["n_tiles"], pdf["tiles"]):
                    keyed = []
                    for trow in tile_list:
                        if trow["kind"] != 0:
                            rings = distance.rect(
                                trow["minx"], trow["miny"], trow["maxx"], trow["maxy"]
                            )["rings"]
                        else:
                            rings = wkb.loads(bytes(trow["tile_wkb"]))["rings"]
                        keyed.append(((float(trow["miny"]), float(trow["minx"])),
                                      [canon(r) for r in rings]))
                    keyed.sort(key=lambda kv: kv[0])  # cell (miny, minx)
                    polys = [rings for _, rings in keyed]
                    rids.append(rid)
                    counts.append(n)
                    wkts.append(wkt_codec.dumps({"type": "MultiPolygon", "polys": polys}))
                yield pd.DataFrame({"region_id": rids, "n_tiles": counts, "tiles_wkt": wkts})

        out = grouped.mapInPandas(assemble, schema)
        cols = ["region_id", "id", "deep", "name", "ext_path"]
        return out.join(F.broadcast(self.boundaries.select(*cols)), "region_id")
