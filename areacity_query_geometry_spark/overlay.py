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
- Only boundary tiles (kind 0) reach the Arrow kernel. Each stored
  ring is re-clipped to (exact cell ∩ probe): the tiler clips against
  an eps-EXPANDED cell (tiler.CLIP_EPS) so slivers along grid lines
  stay point-testable, which means raw piece areas would double-count
  those slivers across neighbouring tiles — the re-clip restores the
  exact partition (a sliver strictly outside its exact cell clips to
  area 0.0 exactly). Ring WKB decodes ONCE per tile per task and the
  clip is `predicates.clip_ring_to_rects` — one CSR Sutherland-Hodgman
  pass per ring across ALL of the tile's probe windows, no per-row
  Python.
- Shell/hole signs: area(region ∩ W) distributes over the polygon
  structure — Σ_parts [area(shell∩W) − Σ area(hole∩W)] — so each
  ring carries a FIXED sign independent of the probe window. The tile
  WKB flattens ring roles away, so the sign is recovered once per tile
  from nesting parity: ring i is negated iff an odd number of
  larger-|area| rings of the same piece contain its interior sample
  (rings of one piece never cross, so containment is decided by one
  strict point-parity test). Exact for the rectilinear gate fixtures;
  for arbitrary curved pieces the sample test is standard-fp robust.
- Tile pieces partition every region, so the final per-(probe, region)
  area is ONE sum aggregation; contributions are exact dyadic
  multiples for dyadic inputs (fixture coords 2^-6, res-7/9 cell edges
  multiples of 45·2^-10 → every vertex a multiple of 2^-10, every
  term a multiple of 2^-21 bounded ≪ 2^53), so the sum is
  order-independent bit-exact and the DuckDB rect-algebra oracle
  matches without tolerance.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from . import grid
from .geom import core, predicates, wkb


def csr_ring_areas(vx: np.ndarray, vy: np.ndarray,
                   offsets: np.ndarray) -> np.ndarray:
    """Signed shoelace area per CSR slice of OPEN rings (the layout
    `predicates.clip_ring_to_rects` returns). Wraparound handled via a
    next-index vector; empty slices → 0.0. Exact for dyadic inputs
    (cumsum magnitude stays far under 2^53)."""
    k = len(offsets) - 1
    n = len(vx)
    if n == 0:
        return np.zeros(k)
    starts = offsets[:-1]
    ends = offsets[1:]
    nxt = np.arange(1, n + 1, dtype=np.int64)
    nonempty = ends > starts
    nxt[ends[nonempty] - 1] = starts[nonempty]
    terms = vx * vy[nxt] - vx[nxt] * vy
    c = np.concatenate([[0.0], np.cumsum(terms)])
    return 0.5 * (c[ends] - c[starts])


def interior_sample(ring: np.ndarray):
    """A point strictly inside a simple closed ring, or None for
    degenerate rings: horizontal scanline through the widest gap
    between distinct vertex y-values, widest crossing interval's
    midpoint. Exact-arithmetic for rectilinear rings."""
    if len(ring) < 4:
        return None
    uys = np.unique(ring[:, 1])
    if len(uys) < 2:
        return None
    gaps = np.diff(uys)
    gi = int(np.argmax(gaps))
    if gaps[gi] <= 0.0:
        return None
    ys = 0.5 * (uys[gi] + uys[gi + 1])
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    m = (y1 <= ys) != (y2 <= ys)
    if not m.any():
        return None
    xc = np.sort(x1[m] + (ys - y1[m]) * (x2[m] - x1[m]) / (y2[m] - y1[m]))
    if len(xc) < 2 or len(xc) % 2:
        return None
    pairs = xc.reshape(-1, 2)
    widths = pairs[:, 1] - pairs[:, 0]
    wi = int(np.argmax(widths))
    if widths[wi] <= 0.0:
        return None
    return (0.5 * (pairs[wi, 0] + pairs[wi, 1]), ys)


def ring_signs(rings: list[np.ndarray]) -> np.ndarray:
    """+1/−1 per ring of one tile piece: (−1)^depth where depth counts
    the other rings containing this ring's interior (|area| ordering +
    index tiebreak decides direction — rings of a piece never cross,
    so `sample_i inside j` with |A_j| ≥ |A_i| means j ⊇ i)."""
    k = len(rings)
    signs = np.ones(k)
    if k < 2:
        return signs
    abs_a = np.array([abs(core.ring_area(r)) for r in rings])
    segs = [predicates.segments_of_rings([r]) for r in rings]
    for i in range(k):
        if abs_a[i] == 0.0:
            continue
        s = interior_sample(rings[i])
        if s is None:
            continue
        px = np.array([s[0]])
        py = np.array([s[1]])
        depth = 0
        for j in range(k):
            if j == i:
                continue
            bigger = abs_a[j] > abs_a[i] or (abs_a[j] == abs_a[i] and j < i)
            if bigger and bool(predicates.points_parity(px, py, segs[j])[0]):
                depth += 1
        if depth % 2:
            signs[i] = -1.0
    return signs


_OUT_SCHEMA = StructType([
    StructField("probe_id", LongType()),
    StructField("region_id", LongType()),
    StructField("area", DoubleType()),
])


def _boundary_overlay_fn(it):
    """Arrow kernel over (probe window × boundary tile) candidate rows:
    decode + sign each tile piece once per task, CSR-clip each ring
    across the tile's probe windows, emit signed |area| sums."""
    registry: dict[tuple, tuple] = {}

    def _empty():
        return pd.DataFrame({
            "probe_id": pd.Series([], dtype="int64"),
            "region_id": pd.Series([], dtype="int64"),
            "area": pd.Series([], dtype="float64"),
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
        px0 = pdf["px0"].to_numpy(dtype=np.float64)
        py0 = pdf["py0"].to_numpy(dtype=np.float64)
        px1 = pdf["px1"].to_numpy(dtype=np.float64)
        py1 = pdf["py1"].to_numpy(dtype=np.float64)
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

        area_out = np.zeros(n)
        for s0, s1 in zip(starts, ends):
            g = order[s0:s1]
            key = (cs[s0], rs[s0], xs[s0], ys[s0])
            ent = registry.get(key)
            if ent is None:
                geom = wkb.loads(bytes(wkb_col[g[0]]))
                rings = core.all_rings(geom)
                ent = (rings, ring_signs(rings))
                registry[key] = ent
            rings, signs = ent
            # window = exact cell ∩ probe rect (NOT the eps-expanded
            # tiler window — see module docstring)
            wx0 = np.maximum(mnx[g], px0[g])
            wy0 = np.maximum(mny[g], py0[g])
            wx1 = np.minimum(mxx[g], px1[g])
            wy1 = np.minimum(mxy[g], py1[g])
            acc = np.zeros(len(g))
            for ring, sgn in zip(rings, signs):
                vx, vy, offs = predicates.clip_ring_to_rects(
                    ring, wx0, wy0, wx1, wy1)
                acc += sgn * np.abs(csr_ring_areas(vx, vy, offs))
            area_out[g] = acc

        yield pd.DataFrame({
            "probe_id": pid.astype(np.int64),
            "region_id": rid.astype(np.int64),
            "area": area_out,
        })


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
    rect product and boundary ring clip alike — is BIT-IDENTICAL to the
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

    t = eng._tiles_for(where)
    ti = t.filter(F.col("kind") != 0).select(
        "cell_id", "region_id", "minx", "miny", "maxx", "maxy")
    tb = t.filter(F.col("kind") == 0).select(
        "cell_id", "region_id", "minx", "miny", "maxx", "maxy", "tile_wkb")
    ti = eng._pin(ti, eng._rect_tiles_fit())
    tb = eng._pin(tb, eng._boundary_fits())

    interior = cand.join(ti, "cell_id").selectExpr(
        "probe_id", "region_id",
        "greatest(0.0D, least(maxx, px1) - greatest(minx, px0))"
        " * greatest(0.0D, least(maxy, py1) - greatest(miny, py0)) AS area")
    boundary = (cand.join(tb, "cell_id")
                .select("probe_id", "px0", "py0", "px1", "py1", "cell_id",
                        "region_id", "minx", "miny", "maxx", "maxy",
                        "tile_wkb")
                .mapInPandas(_boundary_overlay_fn, _OUT_SCHEMA))

    return (interior.unionByName(boundary)
            .groupBy("probe_id", "region_id")
            .agg(F.sum("area").alias("area"))
            .filter(F.col("area") > 0.0))


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
    from .geom import wkt as wkt_codec

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
