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
- Only boundary tiles (kind 0) reach the Arrow kernel: each stored
  tile piece's segments decode once per tile per task; probe segments
  are first clipped to the EXACT cell (undoing the tiler's CLIP_EPS
  expansion exactly as overlay.py does, so tile pieces partition each
  region), then `seg_lengths_in_piece` finds every proper crossing
  against the piece's edges, orders the breakpoints along the
  segment, and keeps the intervals whose midpoints pass the even-odd
  parity test (holes handled by parity itself; `points_parity` is the
  engine's division-free kernel).
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
from .geom import core, predicates, wkb


def seg_lengths_in_piece(sx1: np.ndarray, sy1: np.ndarray,
                         sx2: np.ndarray, sy2: np.ndarray,
                         segs: np.ndarray) -> np.ndarray:
    """Per input segment, the total length of the part inside the
    even-odd region bounded by `segs` ((m, 4) edge array). Inputs must
    already be clipped to the window of interest. Crossing coordinates
    copy the edge constant on axis-parallel edges (dyadic-exact for
    rectilinear pieces + axis-aligned probes); interval membership is
    the midpoint's division-free parity."""
    n = len(sx1)
    if n == 0 or len(segs) == 0:
        return np.zeros(n)
    dx = sx2 - sx1
    dy = sy2 - sy1
    ex1, ey1, ex2, ey2 = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    gx = ex2 - ex1
    gy = ey2 - ey1
    denom = dx[:, None] * gy[None, :] - dy[:, None] * gx[None, :]
    wx = ex1[None, :] - sx1[:, None]
    wy = ey1[None, :] - sy1[:, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (wx * gy[None, :] - wy * gx[None, :]) / denom
        u = (wx * dy[:, None] - wy * dx[:, None]) / denom
    # proper crossings only; u half-open so a crossing AT a shared ring
    # vertex is counted once, not once per incident edge
    valid = (np.isfinite(t) & np.isfinite(u)
             & (t > 0.0) & (t < 1.0) & (u >= 0.0) & (u < 1.0))
    si, ei = np.nonzero(valid)
    tc = t[si, ei]
    cx = np.where(gx[ei] == 0.0, ex1[ei], sx1[si] + tc * dx[si])
    cy = np.where(gy[ei] == 0.0, ey1[ei], sy1[si] + tc * dy[si])

    bp_s = np.concatenate([np.arange(n), np.arange(n), si])
    bp_t = np.concatenate([np.zeros(n), np.ones(n), tc])
    bp_x = np.concatenate([sx1, sx2, cx])
    bp_y = np.concatenate([sy1, sy2, cy])
    order = np.lexsort((bp_t, bp_s))
    bs, bx, by = bp_s[order], bp_x[order], bp_y[order]
    same = bs[1:] == bs[:-1]
    ax, ay = bx[:-1][same], by[:-1][same]
    qx, qy = bx[1:][same], by[1:][same]
    seg_of = bs[:-1][same]
    inside = predicates.points_parity(0.5 * (ax + qx), 0.5 * (ay + qy),
                                      segs)
    ln = np.hypot(qx - ax, qy - ay)
    return np.bincount(seg_of[inside], weights=ln[inside], minlength=n)


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


_OUT_SCHEMA = StructType([
    StructField("probe_id", LongType()),
    StructField("region_id", LongType()),
    StructField("length", DoubleType()),
])


def _boundary_length_fn(it):
    """Arrow kernel over (probe segment × boundary tile) candidates:
    decode each tile piece once per task, clip the tile's probe
    segments to the exact cell, run one crossing/parity pass."""
    registry: dict[tuple, np.ndarray] = {}

    def _empty():
        return pd.DataFrame({
            "probe_id": pd.Series([], dtype="int64"),
            "region_id": pd.Series([], dtype="int64"),
            "length": pd.Series([], dtype="float64"),
        })

    for pdf in it:
        n = len(pdf)
        if n == 0:
            yield _empty()
            continue
        cid = pdf["cell_id"].to_numpy()
        rid = pdf["region_id"].to_numpy()
        mnx = pdf["minx"].to_numpy(dtype=np.float64)
        mny = pdf["miny"].to_numpy(dtype=np.float64)
        mxx = pdf["maxx"].to_numpy(dtype=np.float64)
        mxy = pdf["maxy"].to_numpy(dtype=np.float64)
        x1 = pdf["x1"].to_numpy(dtype=np.float64)
        y1 = pdf["y1"].to_numpy(dtype=np.float64)
        x2 = pdf["x2"].to_numpy(dtype=np.float64)
        y2 = pdf["y2"].to_numpy(dtype=np.float64)
        pid = pdf["probe_id"].to_numpy()
        wkb_col = pdf["tile_wkb"].to_numpy()

        xb = mnx.view(np.int64)
        yb = mny.view(np.int64)
        order = np.lexsort((yb, xb, rid, cid))
        cs, rs, xs, ys = cid[order], rid[order], xb[order], yb[order]
        new_grp = np.empty(n, dtype=bool)
        new_grp[0] = True
        new_grp[1:] = (np.diff(cs) != 0) | (np.diff(rs) != 0) | \
                      (np.diff(xs) != 0) | (np.diff(ys) != 0)
        starts = np.nonzero(new_grp)[0]
        ends = np.append(starts[1:], n)

        len_out = np.zeros(n)
        for s0, s1 in zip(starts, ends):
            g = order[s0:s1]
            key = (cs[s0], rs[s0], xs[s0], ys[s0])
            piece = registry.get(key)
            if piece is None:
                geom = wkb.loads(bytes(wkb_col[g[0]]))
                piece = predicates.segments_of_rings(core.all_rings(geom))
                registry[key] = piece
            nx1, ny1, nx2, ny2, keep = _clip_segs_to_rects(
                x1[g], y1[g], x2[g], y2[g],
                mnx[g], mny[g], mxx[g], mxy[g])
            if keep.any():
                k = np.nonzero(keep)[0]
                lens = seg_lengths_in_piece(
                    nx1[k], ny1[k], nx2[k], ny2[k], piece)
                len_out[g[k]] = lens

        yield pd.DataFrame({
            "probe_id": pid.astype(np.int64),
            "region_id": rid.astype(np.int64),
            "length": len_out,
        })


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

    t = eng._tiles_for(where)
    ti = t.filter(F.col("kind") != 0).select(
        "cell_id", "region_id", "minx", "miny", "maxx", "maxy")
    tb = t.filter(F.col("kind") == 0).select(
        "cell_id", "region_id", "minx", "miny", "maxx", "maxy", "tile_wkb")
    ti = eng._pin(ti, eng._rect_tiles_fit())
    tb = eng._pin(tb, eng._boundary_fits())

    # interior tiles: the whole clipped run counts. Axis-aligned →
    # exact rect algebra with the half-open constant-axis band;
    # diagonal → Liang–Barsky (x1<>x2 AND y1<>y2 so no 0/0).
    interior = cand.join(ti, "cell_id").selectExpr(
        "probe_id", "region_id",
        """CASE
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
           END AS length""")
    boundary = (cand.join(tb, "cell_id")
                .select("probe_id", "x1", "y1", "x2", "y2", "cell_id",
                        "region_id", "minx", "miny", "maxx", "maxy",
                        "tile_wkb")
                .mapInPandas(_boundary_length_fn, _OUT_SCHEMA))

    return (interior.unionByName(boundary)
            .groupBy("probe_id", "region_id")
            .agg(F.sum("length").alias("length"))
            .filter(F.col("length") > 0.0))
