"""Zonal overlay-area join: per (probe rect, region) area of intersection.

The reference answers only the BOOLEAN intersects question
(QueryGeometry, /root/reference/AreaCityQuery.java:179-309); this
module adds the quantitative face a coverage/exposure analysis needs —
how MUCH of a probe window falls in each admin region — as a
first-class distributed operator over the same tile table.

Distributed shape (the one that survives 100 TB):
- Probe rects cover their base-res cells in pure codegen SQL (two
  `sequence`/`explode` generators, same pattern as knn.py) and
  equi-join the tile table on cell_id — never a cross join.
- Interior tiles (kind 1 whole cells, kind 2 interior sub-cells)
  reduce to a clamped rect-overlap product WITHOUT leaving the JVM:
  `greatest(0, least(maxx,px1)-greatest(minx,px0)) * ...` — the bulk
  of any region's area never touches Python.
- Only boundary tiles (kind 0) reach the Arrow kernel, which
  linework.py's `zonal_join` runs for both zonal verbs: each batch's
  tiles come from `engine._batch_index` (rows grouped by tile, each
  unique tile's WKB decoded once by `wkb.ring_segments`), and
  `piece_areas` answers every (window, tile) row in one flat pass.
  The window is exact cell ∩ probe: the tiler clips against an
  eps-EXPANDED cell (tiler.CLIP_EPS) so slivers along grid lines stay
  point-testable, which means raw piece areas would double-count
  those slivers across neighbouring tiles — the exact-cell window
  restores the partition (a sliver strictly outside its exact cell
  contributes 0.0 exactly).
- Area is a sum of band lengths: cut the window into horizontal bands
  at every vertex y and every crossing of its vertical sides; inside a
  band the piece's width is linear in y, so band height × the length
  of the piece along the band's mid-line (`linework.piece_lengths`,
  the even-odd crossing kernel) is the band's exact area. Even-odd
  parity needs no ring roles, so the flattened tile WKB (shells,
  holes, islands, in any orientation) is used as stored.
- Tile pieces partition every region, so the final per-(probe, region)
  area is ONE sum aggregation; contributions are exact dyadic
  multiples for dyadic inputs (fixture coords 2^-6, res-7/9 cell edges
  multiples of 45·2^-10 → every vertex a multiple of 2^-10, every
  band height and mid-line length a multiple of 2^-10, every term a
  multiple of 2^-20 bounded ≪ 2^53), so the sum is order-independent
  bit-exact and the DuckDB rect-algebra oracle matches without
  tolerance.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from . import grid
from .engine import _ranges, _row_blocks, _seg_rows
from .linework import piece_lengths, zonal_join


def piece_areas(I: dict, tiles: np.ndarray, x0: np.ndarray,
                y0: np.ndarray, x1: np.ndarray,
                y1: np.ndarray) -> np.ndarray:
    """Per pair i, the area of tile `tiles[i]`'s even-odd region P (of
    the boundary index I) inside the window [x0, x1] × [y0, y1]; 0.0
    for an empty window. The band identity

        area(P ∩ W) = Σ_k (y_k+1 − y_k) · |P ∩ [x0,x1] × {(y_k + y_k+1)/2}|

    holds when the band edges y_k are y0, y1 and every y strictly
    between them at which the tile has a vertex inside [x0, x1] or a
    segment crossing x = x0 or x = x1: inside one band no boundary
    segment starts, ends or leaves the strip, so P's width is linear in
    y and the midpoint rule is exact. The mid-line lengths are
    `piece_lengths`. For dyadic pieces and windows every term is exact,
    so the area is bit-equal to the shoelace area of the clipped rings.
    Pairs run in blocks of at most PRIM_BLOCK_ROWS tile segments."""
    out = np.zeros(len(tiles))
    cnt = I["seg_ptr"][tiles + 1] - I["seg_ptr"][tiles]
    for b0, b1 in _row_blocks(cnt + 1):
        wx0, wy0, wx1, wy1 = (a[b0:b1] for a in (x0, y0, x1, y1))
        rp, seg = _ranges(I["seg_ptr"][tiles[b0:b1]], cnt[b0:b1])
        ex1, ey1, ex2, ey2 = _seg_rows(I["SEG"], I["tile_seg"][seg]).T
        # band edges: the vertices in [x0, x1] (each ring vertex starts
        # one segment) and the crossings of x = x0 and x = x1
        v = (ex1 >= wx0[rp]) & (ex1 <= wx1[rp])
        ys, yp = [ey1[v]], [rp[v]]
        lo, hi = np.minimum(ex1, ex2), np.maximum(ex1, ex2)
        for xc in (wx0[rp], wx1[rp]):
            c = (lo < xc) & (xc < hi)
            ys.append(ey1[c] + (xc[c] - ex1[c]) * (ey2[c] - ey1[c])
                      / (ex2[c] - ex1[c]))
            yp.append(rp[c])
        ys, yp = np.concatenate(ys), np.concatenate(yp)
        m = (ys > wy0[yp]) & (ys < wy1[yp])
        ar = np.arange(b1 - b0)
        ys = np.concatenate([wy0, wy1, ys[m]])
        yp = np.concatenate([ar, ar, yp[m]])
        order = np.lexsort((ys, yp))
        ys, yp = ys[order], yp[order]
        ok = (wx1 > wx0) & (wy1 > wy0)
        band = (yp[1:] == yp[:-1]) & (ys[1:] > ys[:-1]) & ok[yp[:-1]]
        bb, ya, yb = yp[:-1][band], ys[:-1][band], ys[1:][band]
        mid = 0.5 * (ya + yb)
        ln = piece_lengths(I, tiles[b0:b1][bb], wx0[bb], mid, wx1[bb], mid)
        out[b0:b1] = np.bincount(bb, weights=(yb - ya) * ln,
                                 minlength=b1 - b0)
    return out


def _boundary_areas(I: dict, tix: np.ndarray,
                    pdf: pd.DataFrame) -> np.ndarray:
    """`zonal_join` kernel: `piece_areas` over the window exact cell ∩
    probe rect (NOT the CLIP_EPS-expanded tiler window; see the module
    docstring)."""
    mnx, mny, mxx, mxy, px0, py0, px1, py1 = (
        pdf[k].to_numpy(dtype=np.float64) for k in
        ("minx", "miny", "maxx", "maxy", "px0", "py0", "px1", "py1"))
    return piece_areas(I, tix, np.maximum(mnx, px0), np.maximum(mny, py0),
                       np.minimum(mxx, px1), np.minimum(mxy, py1))


def overlay_rect_area(eng, probes: DataFrame,
                      where: str | None = None,
                      max_cells_per_side: int | None = None) -> DataFrame:
    """probes: (probe_id long, x0, y0, x1, y1 double) axis-aligned
    windows. Returns (probe_id, region_id, area) — planar square-degree
    area of probe∩region for every overlapping region (boundary-touch
    pairs have area 0 and are dropped, matching an area > 0 oracle).

    max_cells_per_side caps the per-task cover fan-out of HUGE windows:
    a window spanning more than that many base-res cells on a side is
    decomposed (in pure codegen SQL) into grid-aligned sub-windows of at
    most max_cells_per_side² cells each before the cover explode, and
    the existing probe_id sum re-assembles them. Sub-window edges lie ON
    cell boundaries (exact dyadic multiples of 45·2^(3-res)), and tiles
    never cross cell lines, so every per-tile contribution — interior
    rect product and boundary band sum alike — is BIT-IDENTICAL to the
    undecomposed run; only the summation grouping changes, and the sum
    itself is exact for dyadic inputs (module docstring). This is the
    SCALE.md overlay recipe for continent-scale windows: fan-out per
    exploded row stays bounded, skew from one giant window spreads
    across tasks.
    """
    res = eng.base_res
    w = 360.0 / (1 << res)
    n = 1 << res
    pack = (f"(CAST({res} AS BIGINT) * {1 << grid._RES_SHIFT}L"
            f" + ix * {1 << grid._IX_SHIFT}L + iy)")

    cov = probes.selectExpr(
        "probe_id", "x0 AS px0", "y0 AS py0", "x1 AS px1", "y1 AS py1",
        f"least(greatest(CAST(floor((x0 + 180.0) / {w!r}) AS BIGINT), 0L), {n - 1}L) AS ix0",
        f"least(greatest(CAST(floor((x1 + 180.0) / {w!r}) AS BIGINT), 0L), {n - 1}L) AS ix1",
        f"least(greatest(CAST(floor((y0 + 90.0) / {w!r}) AS BIGINT), 0L), {n - 1}L) AS iy0",
        f"least(greatest(CAST(floor((y1 + 90.0) / {w!r}) AS BIGINT), 0L), {n - 1}L) AS iy1",
    )
    if max_cells_per_side is not None:
        m = int(max_cells_per_side)
        if m < 1:
            raise ValueError("max_cells_per_side must be >= 1")
        # chunk starts every m cells; each sub-window's cell range is
        # [cx, min(cx+m-1, ix1)] and its probe rect is clamped to the
        # chunk's OUTER cell boundaries (so cell∩sub-probe ≡ cell∩probe
        # for every cell in the chunk — bit-identical contributions).
        cov = (cov
               .withColumn("cx", F.explode(F.expr(f"sequence(ix0, ix1, {m})")))
               .withColumn("cy", F.explode(F.expr(f"sequence(iy0, iy1, {m})")))
               .selectExpr(
                   "probe_id",
                   f"greatest(px0, cx * {w!r} - 180.0D) AS px0",
                   f"greatest(py0, cy * {w!r} - 90.0D) AS py0",
                   f"least(px1, (cx + {m}) * {w!r} - 180.0D) AS px1",
                   f"least(py1, (cy + {m}) * {w!r} - 90.0D) AS py1",
                   "cx AS ix0", f"least(cx + {m - 1}L, ix1) AS ix1",
                   "cy AS iy0", f"least(cy + {m - 1}L, iy1) AS iy1"))
    cand = (cov
            .withColumn("ix", F.explode(F.sequence("ix0", "ix1")))
            .withColumn("iy", F.explode(F.sequence("iy0", "iy1")))
            .selectExpr("probe_id", "px0", "py0", "px1", "py1",
                        f"{pack} AS cell_id"))

    return zonal_join(
        eng, cand, where,
        "greatest(0.0D, least(maxx, px1) - greatest(minx, px0))"
        " * greatest(0.0D, least(maxy, py1) - greatest(miny, py0))",
        _boundary_areas, "area")


def rect_decompose(rings: list) -> np.ndarray:
    """Scanline decomposition of a RECTILINEAR polygon (axis-parallel
    edges only; holes as extra rings, even-odd) into disjoint rects
    (k, 4) [x0, y0, x1, y1]. Every output coordinate is COPIED from a
    vertex — never computed — so the decomposition is exact and
    area-preserving bit-for-bit: per y-band between consecutive
    distinct vertex y's, the inside x-intervals come from parity
    counting of the vertical edges crossing the band. Raises on
    non-rectilinear input (a diagonal edge)."""
    vx_lo, vx_hi = [], []
    vys: list[float] = []
    vedges = []  # (x, ylo, yhi)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if len(r) < 4:
            continue
        x1, y1 = r[:-1, 0], r[:-1, 1]
        x2, y2 = r[1:, 0], r[1:, 1]
        diag = (x1 != x2) & (y1 != y2)
        if diag.any():
            raise ValueError("rect_decompose requires rectilinear rings")
        vert = x1 == x2
        for xe, ya, yb in zip(x1[vert], y1[vert], y2[vert]):
            if ya != yb:
                vedges.append((xe, min(ya, yb), max(ya, yb)))
        vys.extend(r[:, 1])
    if not vedges:
        return np.zeros((0, 4))
    ys = np.unique(np.asarray(vys))
    ex = np.array([e[0] for e in vedges])
    elo = np.array([e[1] for e in vedges])
    ehi = np.array([e[2] for e in vedges])
    out = []
    for ylo, yhi in zip(ys[:-1], ys[1:]):
        # a vertical edge crosses this band iff it spans it entirely
        # (rectilinear edges begin/end on vertex y's, so partial
        # overlap is impossible)
        m = (elo <= ylo) & (ehi >= yhi)
        xs = np.sort(ex[m])
        if len(xs) % 2:
            raise ValueError("non-closed rectilinear ring set")
        for xa, xb in xs.reshape(-1, 2):
            if xb > xa:
                out.append((xa, ylo, xb, yhi))
    return np.asarray(out, dtype=np.float64) if out else np.zeros((0, 4))


_RECT_SCHEMA = StructType([
    StructField("probe_id", LongType()),
    StructField("x0", DoubleType()),
    StructField("y0", DoubleType()),
    StructField("x1", DoubleType()),
    StructField("y1", DoubleType()),
])


def poly_rect_probes(probes: DataFrame, id_col: str = "probe_id",
                     wkt_col: str = "wkt") -> DataFrame:
    """Decompose rectilinear POLYGON / MULTIPOLYGON WKT probes into the
    disjoint rect rows `overlay_rect_area` takes (each keeps its
    polygon's probe_id — the final per-probe sum reassembles areas
    exactly because the rects partition the polygon)."""
    from .geom import core, wkt as wkt_codec

    def fn(it):
        for pdf in it:
            ids, xs0, ys0, xs1, ys1 = [], [], [], [], []
            for pid, text in zip(pdf[id_col], pdf[wkt_col]):
                g = wkt_codec.loads(text)
                for rings in core.polygons_of(g):
                    for (xa, ya, xb, yb) in rect_decompose(rings):
                        ids.append(pid)
                        xs0.append(xa)
                        ys0.append(ya)
                        xs1.append(xb)
                        ys1.append(yb)
            yield pd.DataFrame({
                "probe_id": pd.Series(ids, dtype="int64"),
                "x0": pd.Series(xs0, dtype="float64"),
                "y0": pd.Series(ys0, dtype="float64"),
                "x1": pd.Series(xs1, dtype="float64"),
                "y1": pd.Series(ys1, dtype="float64"),
            })

    return probes.select(id_col, wkt_col).mapInPandas(fn, _RECT_SCHEMA)


def overlay_poly_area(eng, probes: DataFrame, id_col: str = "probe_id",
                      wkt_col: str = "wkt", where: str | None = None,
                      max_cells_per_side: int | None = None) -> DataFrame:
    """Per-(rectilinear polygon probe, region) EXACT intersection area:
    scanline rect decomposition (exact, coordinates copied) ∘ the
    verified rect overlay join. Holes in the probe are handled by the
    decomposition itself (parity bands skip them). General curved
    probes are out of scope by contract — the decomposition raises on
    a diagonal edge rather than approximating silently."""
    # materialize the decomposition ONCE: overlay_rect_area consumes
    # its probes in both the interior and boundary branches, and
    # without a barrier Spark would re-run the WKT parse + scanline
    # per branch. localCheckpoint (ContextCleaner-reclaimed) keeps the
    # shared session cache-free — the same pattern knn.py uses.
    rects = poly_rect_probes(probes, id_col, wkt_col) \
        .localCheckpoint(eager=True)
    return overlay_rect_area(eng, rects, where, max_cells_per_side)


def zonal_raster_sum(eng, raster: DataFrame,
                     where: str | None = None,
                     max_cells_per_side: int | None = None) -> DataFrame:
    """Area-weighted zonal statistics: raster is (cell_id long, value
    double) — grid-packed raster cells at ANY resolution (the res lives
    in the id, mixed resolutions are fine; one row per cell). Treating
    each value as uniform over its cell, returns per region

        (region_id, n_cells, weighted_sum)

    where n_cells counts raster cells overlapping the region with
    positive area and weighted_sum = Σ value · area(cell ∩ region) —
    the classic zonal-sum/zonal-mean building block (divide by the
    region's overlay area for the mean). Completes the raster↔vector
    trio next to engine.rasterize_regions (vector→raster) and
    engine.vectorize_cells (raster→vector).

    Distributed shape: each raster cell is an axis-aligned window, so
    this is exactly `overlay_rect_area` (cell rect derived from the
    packed id in pure codegen bit arithmetic) followed by one skinny
    probe_id equi-join to re-attach values and one final region_id
    aggregation — at 10^12 raster cells nothing new shuffles beyond
    the overlay join itself plus two bounded-width exchanges. For
    dyadic region coords and dyadic values every contribution is an
    exact IEEE sum term (see module docstring), so the result is
    order-independent and a DuckDB rect-algebra oracle matches
    bit-for-bit."""
    probes = raster.selectExpr(
        "cell_id AS probe_id",
        f"360.0D / CAST(shiftleft(1L, CAST(shiftright(cell_id, "
        f"{grid._RES_SHIFT}) AS INT)) AS DOUBLE) AS _w",
        f"(shiftright(cell_id, {grid._IX_SHIFT}) & {grid._MASK28}L) AS _ix",
        f"(cell_id & {grid._MASK28}L) AS _iy",
    ).selectExpr(
        "probe_id",
        "_ix * _w - 180.0D AS x0", "_iy * _w - 90.0D AS y0",
        "(_ix + 1L) * _w - 180.0D AS x1", "(_iy + 1L) * _w - 90.0D AS y1")
    per = overlay_rect_area(eng, probes, where, max_cells_per_side)
    vals = raster.selectExpr("cell_id AS probe_id", "value")
    return (per.join(vals, "probe_id")
            .groupBy("region_id")
            .agg(F.count("*").alias("n_cells"),
                 F.sum(F.expr("value * area")).alias("weighted_sum")))
