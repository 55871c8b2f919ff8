"""Per-region polyline length: length(segment ∩ region) for every
(probe segment, region) pair — the 1D zonal overlay (road-length-in-
region / linear referencing), beyond the reference's boolean
QueryGeometry intersects (/root/reference/AreaCityQuery.java:179-309).

Distributed shape (mirrors overlay.py, the 2D face):
- Each probe segment SUPERCOVERS its base-res cells in pure codegen
  SQL (`sequence`/`explode` per x-column, then only the y-rows the
  segment passes through in that column) and equi-joins the tile
  table on cell_id — never a cross join, and O(cells crossed) rather
  than O(bbox) for long diagonals.
- Interior tiles (kind 1/2) reduce WITHOUT leaving the JVM:
  axis-aligned segments via exact rect algebra (overlap on the
  varying axis × a half-open band test on the constant axis), general
  diagonals via Liang–Barsky in t-space (safe: the diagonal branch
  divides only by nonzero deltas).
- Only boundary tiles (kind 0) reach the Arrow kernel (`zonal_join`,
  the tile side both zonal verbs share): each batch's tiles come from
  `engine._batch_index`, which decodes each unique tile's WKB once
  with `wkb.ring_segments`. Probe segments are first clipped to the
  EXACT cell (undoing the tiler's CLIP_EPS expansion exactly as
  overlay.py does, so tile pieces partition each region), then
  `piece_lengths` runs one flat pass over (pair, tile segment) rows:
  it finds every proper crossing, orders the breakpoints along each
  segment, and keeps the intervals whose midpoints pass the even-odd
  parity test of the engine's point kernel (`engine._pair_parity`;
  holes handled by parity itself). overlay.py's area kernel is a sum
  of these lengths.
- Tile pieces partition each region, so the final per-(probe, region)
  length is ONE sum aggregation.

Cell-assignment convention (so no run is counted twice or dropped): a
segment COLLINEAR with a cell gridline is assigned half-open — it
belongs to the cell above / to the right (`lo <= c < hi`), enforced
identically in the interior SQL branch and the kernel's cell clip.
Non-collinear crossings of gridlines are measure-zero and need no
convention.

Exactness: for axis-aligned probes over rectilinear regions every
crossing coordinate is COPIED from an edge constant (never computed
by division), interval lengths collapse to |Δx| or |Δy| of dyadic
values, and sums are order-independent — the gate's DuckDB
rect-algebra oracle matches bit-for-bit. Diagonal probes use
parametric crossings (IEEE-deterministic but not decomposition-
invariant); they are property-tested against brute force with
tolerance instead of hash-checked.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from . import grid
from .engine import (
    SLABS, _batch_index, _pair_parity, _ranges, _row_blocks, _seg_rows,
    _slab_of, _slab_rows,
)


def piece_lengths(I: dict, tiles: np.ndarray, x1: np.ndarray,
                  y1: np.ndarray, x2: np.ndarray,
                  y2: np.ndarray) -> np.ndarray:
    """Per pair i, the length of segment i inside the even-odd region of
    tile `tiles[i]` of the boundary index I (`_build_boundary_index`).
    Segments must already be clipped to the window of interest.

    One flat pass over (pair, tile segment) rows: a segment inside one
    y-slab meets only that slab's rows, any other the whole tile's.
    Proper crossings (t strictly inside the segment, u half-open so a
    crossing AT a shared ring vertex counts once) become breakpoints,
    which sort per pair along the segment; the intervals between them
    count when their midpoint passes the even-odd `_pair_parity` over
    its `_slab_rows`. Crossing coordinates copy the edge constant on
    axis-parallel edges, so rectilinear pieces and axis-aligned
    segments stay dyadic-exact. Pairs run in blocks of at most
    PRIM_BLOCK_ROWS crossing rows."""
    out = np.zeros(len(tiles))
    sy0, sh = I["slab_y0"][tiles], I["slab_h"][tiles]
    s1 = _slab_of(y1, sy0, sh)
    one = s1 == _slab_of(y2, sy0, sh)
    slab = tiles * SLABS + s1
    lo = np.where(one, I["slab_ptr"][slab], I["seg_ptr"][tiles])
    cnt = np.where(one, I["slab_ptr"][slab + 1], I["seg_ptr"][tiles + 1]) - lo
    for b0, b1 in _row_blocks(cnt + 1):
        n = b1 - b0
        rp, seg = _ranges(lo[b0:b1], cnt[b0:b1])
        m = one[b0:b1][rp]
        ref = np.empty(len(seg), dtype=np.int64)
        ref[m] = I["slab_seg"][seg[m]]
        ref[~m] = I["tile_seg"][seg[~m]]
        ex1, ey1, ex2, ey2 = _seg_rows(I["SEG"], ref).T
        sx1, sy1 = x1[b0:b1], y1[b0:b1]
        dx, dy = x2[b0:b1] - sx1, y2[b0:b1] - sy1
        gx, gy = ex2 - ex1, ey2 - ey1
        denom = dx[rp] * gy - dy[rp] * gx
        wx, wy = ex1 - sx1[rp], ey1 - sy1[rp]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (wx * gy - wy * gx) / denom
            u = (wx * dy[rp] - wy * dx[rp]) / denom
        v = (np.isfinite(t) & np.isfinite(u)
             & (t > 0.0) & (t < 1.0) & (u >= 0.0) & (u < 1.0))
        si, tc = rp[v], t[v]
        cx = np.where(gx[v] == 0.0, ex1[v], sx1[si] + tc * dx[si])
        cy = np.where(gy[v] == 0.0, ey1[v], sy1[si] + tc * dy[si])

        ar = np.arange(n)
        bp_s = np.concatenate([ar, ar, si])
        bp_t = np.concatenate([np.zeros(n), np.ones(n), tc])
        bp_x = np.concatenate([sx1, x2[b0:b1], cx])
        bp_y = np.concatenate([sy1, y2[b0:b1], cy])
        order = np.lexsort((bp_t, bp_s))
        bs, bx, by = bp_s[order], bp_x[order], bp_y[order]
        same = bs[1:] == bs[:-1]
        ax, ay = bx[:-1][same], by[:-1][same]
        qx, qy = bx[1:][same], by[1:][same]
        ln = np.hypot(qx - ax, qy - ay)
        pos = ln > 0.0
        seg_of, ln = bs[:-1][same][pos], ln[pos]
        mx = 0.5 * (ax[pos] + qx[pos])
        my = 0.5 * (ay[pos] + qy[pos])
        pr, px1, py1, px2, py2 = _slab_rows(I, tiles[b0:b1][seg_of], my)
        yd = py2 - py1
        inside = _pair_parity(px1, py1, py2, np.where(yd == 0, 1.0, yd),
                              px2 - px1, pr, mx[pr], my[pr], len(my))
        out[b0:b1] = np.bincount(seg_of[inside], weights=ln[inside],
                                 minlength=n)
    return out


def _clip_segs_to_rects(x1, y1, x2, y2, wx0, wy0, wx1, wy1):
    """Clip each segment i to its rect i. Returns (nx1, ny1, nx2, ny2,
    keep). Axis-aligned segments clip in exact coordinate space with
    the half-open convention on the constant axis; diagonals via
    Liang–Barsky (divisions by nonzero deltas only)."""
    n = len(x1)
    nx1 = np.empty(n)
    ny1 = np.empty(n)
    nx2 = np.empty(n)
    ny2 = np.empty(n)
    keep = np.zeros(n, dtype=bool)

    horiz = (y1 == y2) & (x1 != x2)
    vert = (x1 == x2) & (y1 != y2)
    diag = (x1 != x2) & (y1 != y2)

    if horiz.any():
        h = horiz
        lo = np.maximum(wx0[h], np.minimum(x1[h], x2[h]))
        hi = np.minimum(wx1[h], np.maximum(x1[h], x2[h]))
        ok = (hi > lo) & (y1[h] >= wy0[h]) & (y1[h] < wy1[h])
        keep[h] = ok
        nx1[h], nx2[h] = lo, hi
        ny1[h] = y1[h]
        ny2[h] = y1[h]
    if vert.any():
        v = vert
        lo = np.maximum(wy0[v], np.minimum(y1[v], y2[v]))
        hi = np.minimum(wy1[v], np.maximum(y1[v], y2[v]))
        ok = (hi > lo) & (x1[v] >= wx0[v]) & (x1[v] < wx1[v])
        keep[v] = ok
        ny1[v], ny2[v] = lo, hi
        nx1[v] = x1[v]
        nx2[v] = x1[v]
    if diag.any():
        d = diag
        dx = x2[d] - x1[d]
        dy = y2[d] - y1[d]
        t1x = (wx0[d] - x1[d]) / dx
        t2x = (wx1[d] - x1[d]) / dx
        t1y = (wy0[d] - y1[d]) / dy
        t2y = (wy1[d] - y1[d]) / dy
        tlo = np.maximum(np.maximum(np.minimum(t1x, t2x),
                                    np.minimum(t1y, t2y)), 0.0)
        thi = np.minimum(np.minimum(np.maximum(t1x, t2x),
                                    np.maximum(t1y, t2y)), 1.0)
        ok = thi > tlo
        keep[d] = ok
        nx1[d] = x1[d] + tlo * dx
        ny1[d] = y1[d] + tlo * dy
        nx2[d] = x1[d] + thi * dx
        ny2[d] = y1[d] + thi * dy
    return nx1, ny1, nx2, ny2, keep


def _boundary_lengths(I: dict, tix: np.ndarray,
                      pdf: pd.DataFrame) -> np.ndarray:
    """`zonal_join` kernel: each row's probe segment clipped to its
    tile's exact cell, then `piece_lengths`."""
    nx1, ny1, nx2, ny2, keep = _clip_segs_to_rects(
        *(pdf[c].to_numpy(dtype=np.float64) for c in
          ("x1", "y1", "x2", "y2", "minx", "miny", "maxx", "maxy")))
    out = np.zeros(len(pdf))
    k = np.nonzero(keep)[0]
    out[k] = piece_lengths(I, tix[k], nx1[k], ny1[k], nx2[k], ny2[k])
    return out


def zonal_join(eng, cand: DataFrame, where: str | None,
               rect_sql: str, kernel, value: str) -> DataFrame:
    """The tile side of both zonal verbs: candidate rows (probe_id,
    probe columns, cell_id) equi-join the tiles of their cell. Rect
    tiles (kind 1/2) answer in the JVM by `rect_sql` over the probe
    columns and the tile rect; boundary tiles (kind 0) by
    `kernel(I, tix, pdf)` over each Arrow batch's `_batch_index`. Each
    tile side is broadcast while its ceiling holds (`eng._pin`). Tile
    pieces partition each region, so the result (probe_id, region_id,
    `value`) is one sum per pair, positive sums only."""
    t = eng._tiles_for(where)
    rect = ("cell_id", "region_id", "minx", "miny", "maxx", "maxy")
    ti = eng._pin(t.filter(F.col("kind") != 0).select(*rect),
                  eng._rect_tiles_fit())
    tb = eng._pin(t.filter(F.col("kind") == 0).select(*rect, "tile_wkb"),
                  eng._boundary_fits())
    schema = StructType([
        StructField("probe_id", LongType()),
        StructField("region_id", LongType()),
        StructField(value, DoubleType()),
    ])

    def boundary_fn(it):
        for pdf in it:
            v = np.zeros(len(pdf))
            if len(pdf):
                I, tix = _batch_index(pdf)
                v = kernel(I, tix, pdf)
            yield pd.DataFrame({
                "probe_id": pdf["probe_id"].to_numpy().astype(np.int64),
                "region_id": pdf["region_id"].to_numpy().astype(np.int64),
                value: v,
            })

    interior = cand.join(ti, "cell_id").selectExpr(
        "probe_id", "region_id", f"{rect_sql} AS {value}")
    boundary = cand.join(tb, "cell_id").mapInPandas(boundary_fn, schema)
    return (interior.unionByName(boundary)
            .groupBy("probe_id", "region_id")
            .agg(F.sum(value).alias(value))
            .filter(F.col(value) > 0.0))


_SEG_SCHEMA = StructType([
    StructField("probe_id", LongType()),
    StructField("x1", DoubleType()),
    StructField("y1", DoubleType()),
    StructField("x2", DoubleType()),
    StructField("y2", DoubleType()),
])


def wkt_segments(probes: DataFrame, id_col: str = "probe_id",
                 wkt_col: str = "wkt") -> DataFrame:
    """Decompose LINESTRING / MULTILINESTRING WKT (plus line members of
    a GEOMETRYCOLLECTION; other members are ignored) into per-segment
    rows (probe_id, x1, y1, x2, y2) — the input shape
    `line_length_in_regions` takes. Lengths are additive, so keeping
    the polyline's own probe_id on every segment makes the join return
    per-POLYLINE lengths with no extra aggregation. Arrow-batched;
    the parse is per-row (WKT is), everything downstream is columnar."""
    from .geom import wkt as wkt_codec

    def fn(it):
        for pdf in it:
            ids, xs1, ys1, xs2, ys2 = [], [], [], [], []
            for pid, text in zip(pdf[id_col], pdf[wkt_col]):
                g = wkt_codec.loads(text)
                stack = [g]
                while stack:
                    cur = stack.pop()
                    t = cur["type"]
                    if t == "GeometryCollection":
                        stack.extend(cur["geoms"])
                        continue
                    if t == "LineString":
                        lines = [cur["xy"]]
                    elif t == "MultiLineString":
                        lines = cur["lines"]
                    else:
                        continue
                    for xy in lines:
                        if len(xy) < 2:
                            continue
                        ids.extend([pid] * (len(xy) - 1))
                        xs1.extend(xy[:-1, 0])
                        ys1.extend(xy[:-1, 1])
                        xs2.extend(xy[1:, 0])
                        ys2.extend(xy[1:, 1])
            yield pd.DataFrame({
                "probe_id": pd.Series(ids, dtype="int64"),
                "x1": pd.Series(xs1, dtype="float64"),
                "y1": pd.Series(ys1, dtype="float64"),
                "x2": pd.Series(xs2, dtype="float64"),
                "y2": pd.Series(ys2, dtype="float64"),
            })

    return probes.select(id_col, wkt_col).mapInPandas(fn, _SEG_SCHEMA)


def line_length_wkt(eng, probes: DataFrame, id_col: str = "probe_id",
                    wkt_col: str = "wkt",
                    where: str | None = None) -> DataFrame:
    """Per-(polyline, region) length straight from WKT probes:
    `wkt_segments` ∘ `line_length_in_regions`."""
    return line_length_in_regions(eng, wkt_segments(probes, id_col,
                                                    wkt_col), where)


def line_length_in_regions(eng, probes: DataFrame,
                           where: str | None = None) -> DataFrame:
    """probes: (probe_id long, x1, y1, x2, y2 double) segments (split
    polylines into per-segment rows upstream; sum per polyline after —
    contributions are additive). Zero-length rows contribute nothing.
    Returns (probe_id, region_id, length) for every region the segment
    runs through with positive length."""
    res = eng.base_res
    w = 360.0 / (1 << res)
    ncells = 1 << res
    pack = (f"(CAST({res} AS BIGINT) * {1 << grid._RES_SHIFT}L"
            f" + ix * {1 << grid._IX_SHIFT}L + iy)")

    # column-wise SUPERCOVER, all codegen: explode the x columns the
    # segment's x-span touches, then per column explode only the y rows
    # the segment actually passes through in that column (evaluate the
    # line at the column's clamped x-range ends). O(cells crossed), not
    # O(bbox) — a 40°-long diagonal covers ~2·span/w cells instead of
    # (span/w)². Axis-aligned segments stay EXACT (horizontal: the y
    # evaluation multiplies by dy = 0; vertical: the x1 = x2 branch
    # copies the y-span), so gate coverage is identical to the bbox
    # cover; diagonal column crossings are fp-evaluated, and a
    # hypothetically misrounded row boundary can only drop a sliver
    # whose in-cell length is O(ulp) — far inside the diagonal paths'
    # stated 1e-9 tolerance.
    cov = probes.selectExpr(
        "probe_id", "x1", "y1", "x2", "y2",
        f"least(greatest(CAST(floor((least(x1, x2) + 180.0) / {w!r}) AS BIGINT), 0L), {ncells - 1}L) AS ix0",
        f"least(greatest(CAST(floor((greatest(x1, x2) + 180.0) / {w!r}) AS BIGINT), 0L), {ncells - 1}L) AS ix1",
    )
    cand = (cov
            .withColumn("ix", F.explode(F.sequence("ix0", "ix1")))
            .selectExpr(
                "probe_id", "x1", "y1", "x2", "y2", "ix",
                f"greatest(ix * {w!r} - 180.0D, least(x1, x2)) AS cx0",
                f"least((ix + 1L) * {w!r} - 180.0D, greatest(x1, x2)) AS cx1")
            .selectExpr(
                "probe_id", "x1", "y1", "x2", "y2", "ix",
                "CASE WHEN x1 = x2 THEN least(y1, y2)"
                " ELSE least(y1 + (cx0 - x1) * (y2 - y1) / (x2 - x1),"
                "            y1 + (cx1 - x1) * (y2 - y1) / (x2 - x1)) END AS ylo",
                "CASE WHEN x1 = x2 THEN greatest(y1, y2)"
                " ELSE greatest(y1 + (cx0 - x1) * (y2 - y1) / (x2 - x1),"
                "               y1 + (cx1 - x1) * (y2 - y1) / (x2 - x1)) END AS yhi")
            .selectExpr(
                "probe_id", "x1", "y1", "x2", "y2", "ix",
                f"least(greatest(CAST(floor((ylo + 90.0) / {w!r}) AS BIGINT), 0L), {ncells - 1}L) AS iy0",
                f"least(greatest(CAST(floor((yhi + 90.0) / {w!r}) AS BIGINT), 0L), {ncells - 1}L) AS iy1")
            .withColumn("iy", F.explode(F.sequence("iy0", "iy1")))
            .selectExpr("probe_id", "x1", "y1", "x2", "y2",
                        f"{pack} AS cell_id"))

    # interior tiles: the whole clipped run counts. Axis-aligned →
    # exact rect algebra with the half-open constant-axis band;
    # diagonal → Liang–Barsky (x1<>x2 AND y1<>y2 so no 0/0).
    return zonal_join(eng, cand, where, """CASE
             WHEN y1 = y2 AND x1 <> x2 THEN
               greatest(0.0D, least(maxx, greatest(x1, x2))
                        - greatest(minx, least(x1, x2)))
               * CASE WHEN y1 >= miny AND y1 < maxy THEN 1.0D ELSE 0.0D END
             WHEN x1 = x2 AND y1 <> y2 THEN
               greatest(0.0D, least(maxy, greatest(y1, y2))
                        - greatest(miny, least(y1, y2)))
               * CASE WHEN x1 >= minx AND x1 < maxx THEN 1.0D ELSE 0.0D END
             WHEN x1 <> x2 AND y1 <> y2 THEN
               sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))
               * greatest(0.0D,
                   least(greatest((minx - x1) / (x2 - x1), (maxx - x1) / (x2 - x1)),
                         greatest((miny - y1) / (y2 - y1), (maxy - y1) / (y2 - y1)),
                         1.0D)
                   - greatest(least((minx - x1) / (x2 - x1), (maxx - x1) / (x2 - x1)),
                              least((miny - y1) / (y2 - y1), (maxy - y1) / (y2 - y1)),
                              0.0D))
             ELSE 0.0D
           END""", _boundary_lengths, "length")
