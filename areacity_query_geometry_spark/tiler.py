"""Tile builder: boundaries DataFrame → `tiles` DataFrame.

The distributed replacement for the reference's init-time grid split +
STRtree build (/root/reference/AreaCityQuery.java:1310-1375, 684):
each feature is polyfilled into grid cells by quadtree descent
(grid.polyfill_adaptive); fully-interior cells are emitted WITHOUT
geometry (point lookups on them skip exact math entirely — the
distributed analog of the reference's 4-point-rectangle shortcut,
README.md:288-296); boundary cells carry the feature's rings clipped to
the cell rect (the `polygon.intersection(gridRect)` analog) as WKB.

Single-level join key (hot-path design): every tile is keyed by its
BASE-resolution cell so the probe side computes exactly ONE cell id per
point (pure Spark SQL, whole-stage codegen) and the spatial join is a
plain equi-join with no per-point fan-out. Tiles finer than base_res
(adaptive splits over dense boundaries) are keyed by their base-res
ancestor; interior tiles coarser than base_res are expanded to their
base-res descendants.

Tile schema:
    cell_id   long    — BASE-res cell (the join key)
    res       int     — actual grid resolution of this tile
    region_id long    — owning feature
    deep      int     — denormalized admin level (join-time pushdown)
    kind      int     — 1 whole-cell interior (JVM-side accept),
                        2 interior sub-cell (vectorized rect test),
                        0 boundary (exact geometry refine)
    minx,miny,maxx,maxy double — tile cell rect (kind 2 test + stats)
    tile_wkb  binary  — clipped rings (even-odd), null for interior
    n_pts     int     — clipped-ring vertex count (skew statistics)
"""
from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StructField, StructType,
)

from . import grid
from .geom import core, predicates, wkb

TILE_SCHEMA = StructType([
    StructField("cell_id", LongType()),
    StructField("res", IntegerType()),
    StructField("region_id", LongType()),
    StructField("deep", IntegerType()),
    StructField("kind", IntegerType()),
    StructField("minx", DoubleType()),
    StructField("miny", DoubleType()),
    StructField("maxx", DoubleType()),
    StructField("maxy", DoubleType()),
    StructField("tile_wkb", BinaryType()),
    StructField("n_pts", IntegerType()),
])

# expand the clip window a hair so zero-width slivers (a region edge
# running exactly along a grid line) survive as testable thin polygons —
# without this, a point ON such an edge would false-negative.
CLIP_EPS = 1e-9


def _dissolve_window_runs(ring, wx0, wy0, wx1, wy1):
    """Split a clipped ring at Sutherland–Hodgman BRIDGE runs.

    When one source ring's intersection with the clip window is
    disconnected, S–H emits a single output ring whose components are
    connected by zero-width channels running along the window boundary
    — antiparallel overlapping runs whose enclosed area cancels under
    even-odd parity but whose SEGMENTS lie outside the region (the
    false-distance/false-intersects artifact, see the `fseg` filter of
    engine._build_boundary_index)
    and whose polygons are invalid for downstream JTS consumers of the
    exported `.wkbs`. This pass makes the stored geometry clean:

    1. window-collinear edges (exact equality with the expanded window
       coordinates — assigned at clip time, never computed) subdivide
       at the union of their endpoints along each window line (copied
       coordinates only);
    2. exactly-opposed piece pairs cancel (multiset: |fwd − rev|
       survivors keep the majority direction);
    3. surviving edges re-chain into closed loops (deterministic
       Hierholzer: lowest-original-index successor), dropping
       degenerate 2-edge spikes.

    Returns [ring] UNCHANGED (same array) when nothing cancels — the
    overwhelmingly common case, keeping bridge-free tile WKBs (all of
    the gate fixture world) byte-identical. Total signed area is
    preserved exactly: the shoelace sum is grouping-independent and
    cancelled pairs contribute zero."""
    a = ring[:-1]
    b = ring[1:]
    n = len(a)
    edges = []       # (ax, ay, bx, by) per original edge, expanded below
    win_of = []      # line key per edge, None for interior edges
    for i in range(n):
        ax, ay = float(a[i, 0]), float(a[i, 1])
        bx, by = float(b[i, 0]), float(b[i, 1])
        if ax == bx and (ax == wx0 or ax == wx1):
            key = ("x", ax)
        elif ay == by and (ay == wy0 or ay == wy1):
            key = ("y", ay)
        else:
            key = None
        edges.append((ax, ay, bx, by))
        win_of.append(key)

    # breakpoints per window line: union of collinear edges' endpoints
    brk: dict = {}
    for e, key in zip(edges, win_of):
        if key is None:
            continue
        lo_hi = (e[1], e[3]) if key[0] == "x" else (e[0], e[2])
        brk.setdefault(key, set()).update(lo_hi)

    pieces: dict = {}   # (key, lo, hi) -> [fwd_count, rev_count]
    out = []            # final directed edge list (order preserved)
    for e, key in zip(edges, win_of):
        if key is None:
            out.append(e)
            continue
        va, vb = (e[1], e[3]) if key[0] == "x" else (e[0], e[2])
        cuts = sorted(c for c in brk[key] if min(va, vb) < c < max(va, vb))
        seq = [va] + (cuts if va < vb else cuts[::-1]) + [vb]
        for p, q in zip(seq[:-1], seq[1:]):
            if p == q:
                continue
            lo, hi = (p, q) if p < q else (q, p)
            ent = pieces.setdefault((key, lo, hi), [0, 0])
            ent[0 if p < q else 1] += 1
    # emit surviving window pieces in deterministic (line, lo) order
    cancelled = False
    for (key, lo, hi), (fwd, rev) in sorted(pieces.items()):
        k = min(fwd, rev)
        if k:
            cancelled = True
        keep, direction = (fwd - k, +1) if fwd >= rev else (rev - k, -1)
        for _ in range(keep):
            p, q = (lo, hi) if direction > 0 else (hi, lo)
            if key[0] == "x":
                out.append((key[1], p, key[1], q))
            else:
                out.append((p, key[1], q, key[1]))
    if not cancelled:
        return [ring]

    # deterministic Hierholzer cycle decomposition
    succ: dict = {}
    for i, e in enumerate(out):
        succ.setdefault((e[0], e[1]), []).append(i)
    used = [False] * len(out)
    loops = []
    for start in range(len(out)):
        if used[start]:
            continue
        cyc = []
        cur = start
        while True:
            used[cur] = True
            e = out[cur]
            cyc.append((e[0], e[1]))
            head = (e[2], e[3])
            nxts = [j for j in succ.get(head, []) if not used[j]]
            if not nxts:
                break
            cur = nxts[0]
        if len(cyc) >= 3:
            arr = np.asarray(cyc + [cyc[0]], dtype=np.float64)
            loops.append(arr)
    return loops


def clip_geom_to_cell(geom: dict, cell_id: int) -> bytes | None:
    minx, miny, maxx, maxy = grid.cell_bounds(cell_id)
    minx -= CLIP_EPS
    miny -= CLIP_EPS
    maxx += CLIP_EPS
    maxy += CLIP_EPS
    rings_out = []
    for rings in core.polygons_of(geom):
        for r in rings:
            c = predicates.clip_ring_to_rect(r, minx, miny, maxx, maxy)
            if len(c):
                rings_out.extend(
                    _dissolve_window_runs(c, minx, miny, maxx, maxy))
    if not rings_out:
        return None
    return wkb.dumps({"type": "Polygon", "rings": rings_out})


def _expand_to_base(cid: int, base_res: int) -> np.ndarray:
    """All base_res descendants of a coarser cell (pure int math)."""
    r, ix, iy = (int(v) for v in grid.unpack(cid))
    k = base_res - r
    n = 1 << k
    xs = (ix << k) + np.arange(n, dtype=np.int64)
    ys = (iy << k) + np.arange(n, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return grid.pack(base_res, gx.ravel(), gy.ravel())


def _tile_batches(base_res: int, max_res: int, seg_budget: int):
    cols = ("cell_id", "res", "region_id", "deep", "kind",
            "minx", "miny", "maxx", "maxy", "tile_wkb", "n_pts")

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            num_acc: dict[str, list[np.ndarray]] = {
                k: [] for k in cols if k != "tile_wkb"}
            wkb_acc: list = []

            def push(keys, res_vals, rid, deep, kind, cells_for_bounds,
                     wkbs, npts):
                n = len(keys)
                if n == 0:
                    return
                bx0, by0, bx1, by1 = grid.cells_bounds(cells_for_bounds)
                num_acc["cell_id"].append(np.asarray(keys, dtype=np.int64))
                num_acc["res"].append(
                    np.full(n, res_vals, dtype=np.int64)
                    if np.isscalar(res_vals) else np.asarray(res_vals, dtype=np.int64))
                num_acc["region_id"].append(np.full(n, rid, dtype=np.int64))
                num_acc["deep"].append(np.full(n, deep, dtype=np.int64))
                num_acc["kind"].append(np.full(n, kind, dtype=np.int64))
                num_acc["minx"].append(bx0)
                num_acc["miny"].append(by0)
                num_acc["maxx"].append(bx1)
                num_acc["maxy"].append(by1)
                num_acc["n_pts"].append(
                    np.zeros(n, dtype=np.int64)
                    if npts is None else np.asarray(npts, dtype=np.int64))
                wkb_acc.extend([None] * n if wkbs is None else wkbs)

            for rid, deep, gwkb in zip(pdf["region_id"], pdf["deep"], pdf["geom_wkb"]):
                if gwkb is None:
                    continue  # EMPTY features stay queryable by attribute scan only (T4)
                geom = wkb.loads(bytes(gwkb))
                cells, kinds = grid.polyfill_adaptive(
                    geom, base_res=base_res, max_res=max_res, seg_budget=seg_budget
                )
                if not len(cells):
                    continue
                res_arr = cells >> 56
                m_int = kinds == 1
                # interior, coarser than base → expand to base-res children
                a = np.nonzero(m_int & (res_arr < base_res))[0]
                if len(a):
                    keys = np.concatenate(
                        [_expand_to_base(int(cells[i]), base_res) for i in a])
                    push(keys, base_res, rid, deep, 1, keys, None, None)
                # interior at base res → keyed by itself
                b = np.nonzero(m_int & (res_arr == base_res))[0]
                if len(b):
                    push(cells[b], base_res, rid, deep, 1, cells[b], None, None)
                # interior sub-cell of a dense boundary cell (kind 2),
                # keyed by its base-res ancestor, bounds of the fine cell
                csel = np.nonzero(m_int & (res_arr > base_res))[0]
                if len(csel):
                    r_, ix, iy = grid.unpack(cells[csel])
                    k = r_ - base_res
                    anc = grid.pack(base_res, ix >> k, iy >> k)
                    push(anc, res_arr[csel], rid, deep, 2, cells[csel],
                         None, None)
                # boundary cells: batched clip — every boundary cell is
                # clipped against every ring in four vectorized passes
                # (predicates.clip_ring_to_rects) instead of re-walking
                # the full ring once per cell
                b_pos = np.nonzero(kinds == 0)[0]
                if len(b_pos):
                    bc = cells[b_pos]
                    bminx, bminy, bmaxx, bmaxy = grid.cells_bounds(bc)
                    ring_csrs = [
                        predicates.clip_ring_to_rects(
                            np.asarray(ring0, dtype=np.float64),
                            bminx - CLIP_EPS, bminy - CLIP_EPS,
                            bmaxx + CLIP_EPS, bmaxy + CLIP_EPS)
                        for rings in core.polygons_of(geom)
                        for ring0 in rings
                    ]
                    keep_idx: list[int] = []
                    wkbs: list[bytes] = []
                    npts: list[int] = []
                    for i in range(len(bc)):
                        rings_out = []
                        for vx, vy, offsets in ring_csrs:
                            s, e2 = int(offsets[i]), int(offsets[i + 1])
                            if e2 > s:
                                n = e2 - s
                                ringarr = np.empty((n + 1, 2))
                                ringarr[:n, 0] = vx[s:e2]
                                ringarr[:n, 1] = vy[s:e2]
                                ringarr[n] = ringarr[0]
                                rings_out.extend(_dissolve_window_runs(
                                    ringarr,
                                    bminx[i] - CLIP_EPS, bminy[i] - CLIP_EPS,
                                    bmaxx[i] + CLIP_EPS, bmaxy[i] + CLIP_EPS))
                        if not rings_out:
                            continue
                        twkb = wkb.dumps({"type": "Polygon", "rings": rings_out})
                        keep_idx.append(i)
                        wkbs.append(twkb)
                        npts.append((len(twkb) // 16) & 0x7FFFFFFF)
                    if keep_idx:
                        sel = np.asarray(keep_idx, dtype=np.int64)
                        bsel = bc[sel]
                        r_sel = res_arr[b_pos][sel]
                        fine = r_sel > base_res
                        keys = bsel.copy()
                        if fine.any():
                            rf, ixf, iyf = grid.unpack(bsel[fine])
                            kf = rf - base_res
                            keys[fine] = grid.pack(base_res, ixf >> kf, iyf >> kf)
                        push(keys, r_sel, rid, deep, 0, bsel, wkbs, npts)

            out = {k: (np.concatenate(v) if v else np.zeros(0, dtype=np.int64))
                   for k, v in num_acc.items()}
            frame = pd.DataFrame(out)
            frame["tile_wkb"] = pd.Series(wkb_acc, dtype=object)
            yield frame[list(cols)]
    return fn


def build_tiles(
    boundaries: DataFrame,
    base_res: int = 10,
    max_res: int | None = None,
    seg_budget: int = 48,
) -> DataFrame:
    """One Spark job; features spread across all cores (the reference
    capped init at 5 threads, AreaCityQuery.java:551-552 — here the
    cluster width is the cap)."""
    if max_res is None:
        max_res = min(grid.MAX_RES, base_res + 4)
    spark = boundaries.sparkSession
    n_parts = max(2, spark.sparkContext.defaultParallelism * 2)
    src = boundaries.select("region_id", "deep", "geom_wkb").repartition(n_parts, "region_id")
    return src.mapInPandas(_tile_batches(base_res, max_res, seg_budget), TILE_SCHEMA)
