"""Exact kNN point→point join, grid-bucketed with ring expansion.

The reference's kNN is point→boundary (QueryPointWithTolerance,
/root/reference/AreaCityQuery.java:92-148, engine.py Q2); this module
adds the other kNN shape a spatial analytics engine needs: for each
probe point, the k nearest points of a second table — WITHOUT a cross
join at any scale.

Algorithm (exact, terminating):
- The points side is assigned to uniform res-R grid cells once
  (JVM-codegen arithmetic, grid.cell_id_sql_expr).
- Round r covers each unresolved probe's radius-ρ Chebyshev box with
  res-R cells (two `sequence`/`explode` generators — still codegen),
  equi-joins to the points' cells, ranks candidates per probe by
  (d², point_id), and CERTIFIES a probe once it holds k candidates
  with k-th distance² ≤ ρ²: every point outside the box has
  max(|dx|,|dy|) > ρ, hence d² > ρ², so nothing outside can improve
  the top-k. A probe whose clamped box covers the whole grid saw every
  point and resolves unconditionally (with < k rows iff the points
  table itself holds < k rows).
- Unresolved probes re-cover with ρ×growth; each round's box is a
  superset of the previous one's, so rounds are independent (no
  carried minima) and the loop ends in O(log_growth(world/ρ0)) rounds.

Distance is PLANAR squared degrees — division-free dyadic arithmetic,
so results are exact and engine-independent (the DuckDB oracle matches
bit-for-bit; CLAUDE.md pins this repo convention). For geographic
ranking at scale, rank by haversine within the candidate set instead —
the pruning bound must then be in meters (engine._gc_bound, the
great-circle lower bound behind Q2's tolerance -1 search).

100 TB shape: one shuffle per round (the cell equi-join + the probe
window share the probe-key exchange); per-round driver traffic is ONE
scalar (the unresolved count); state between rounds is the unresolved
probe list, localCheckpoint'd (ContextCleaner-reclaimed, repo
convention — never .cache in gates). Cell fan-out per probe is
bounded by the grid (≤ 4^res cells), and the points side is touched
only through its cell index — skew in probe density salts naturally
through the probe-key window partitioning.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from . import grid

_MAX_ROUNDS = 16


def _round_candidates(active: DataFrame, pts: DataFrame,
                      w: float, n: int, pack: str,
                      carry: tuple = ()):
    """One round's cover + candidate stage (cov, cand) — split out so
    tools/plan_audit.py can assert the join is an EQUI-join on cell_id
    (never CartesianProduct / BroadcastNestedLoopJoin). `carry` names
    extra pts columns to pass through to the candidates (free — they
    ride the one existing join; rejoining them later would cost a
    second points-sized shuffle)."""
    cov = active.selectExpr(
        "probe_id", "lng", "lat", "rho",
        f"least(greatest(CAST(floor((lng - rho + 180.0) / {w!r}) AS BIGINT), 0L), {n - 1}L) AS ix0",
        f"least(greatest(CAST(floor((lng + rho + 180.0) / {w!r}) AS BIGINT), 0L), {n - 1}L) AS ix1",
        f"least(greatest(CAST(floor((lat - rho + 90.0) / {w!r}) AS BIGINT), 0L), {n - 1}L) AS iy0",
        f"least(greatest(CAST(floor((lat + rho + 90.0) / {w!r}) AS BIGINT), 0L), {n - 1}L) AS iy1",
    ).withColumn(
        "full_box",
        F.expr(f"ix0 = 0L AND ix1 = {n - 1}L"
               f" AND iy0 = 0L AND iy1 = {n - 1}L"))
    cand = (cov
            .withColumn("ix", F.explode(F.sequence("ix0", "ix1")))
            .withColumn("iy", F.explode(F.sequence("iy0", "iy1")))
            .selectExpr("probe_id", "lng", "lat", "rho", "full_box",
                        f"{pack} AS cell_id")
            .join(pts, "cell_id")
            .selectExpr(
                "probe_id", "rho", "full_box", "point_id",
                "(plng - lng) * (plng - lng)"
                " + (plat - lat) * (plat - lat) AS d2",
                *carry))
    return cov, cand


def range_point_join(probes: DataFrame, points: DataFrame,
                     radius_deg: float, res: int = 6,
                     point_cols: tuple = ()) -> DataFrame:
    """Spatial distance-range join: every (probe, point) pair with
    planar degree distance ≤ radius. ONE cover pass is complete and
    exact — the radius-ρ Chebyshev box contains the full L2 disc, so
    cover cells ⊇ all qualifying points and the d² ≤ ρ² filter is the
    only refinement. Same cost model as one knn_point_join round:
    probe fan-out = the box's cell count, equi-join on cell_id, never
    a cross join. Returns (probe_id, point_id, d2, *point_cols) —
    `point_cols` ride the one cell equi-join for free.

    point_cols may not collide with the join's internal/probe-side
    names (probe_id, lng, lat, rho, cell_id, d2, ...) — they would bind
    ambiguously in the cell equi-join; rejected up front (ADVICE r4)."""
    reserved = {"probe_id", "lng", "lat", "rho", "full_box", "cell_id",
                "d2", "point_id", "plng", "plat",
                "ix", "iy", "ix0", "ix1", "iy0", "iy1"}
    bad = sorted(reserved.intersection(point_cols))
    if bad:
        raise ValueError(
            f"range_point_join: point_cols {bad} collide with internal "
            f"join column names; alias them on the points side first "
            f"(e.g. SELECT {bad[0]} AS p_{bad[0]})")
    w = 360.0 / (1 << res)
    n = 1 << res
    pack = (f"(CAST({res} AS BIGINT) * {1 << grid._RES_SHIFT}L"
            f" + ix * {1 << grid._IX_SHIFT}L + iy)")
    pts = points.selectExpr(
        "point_id", "lng AS plng", "lat AS plat",
        f"{grid.cell_id_sql_expr('lng', 'lat', res)} AS cell_id",
        *point_cols)
    active = probes.selectExpr("probe_id", "lng", "lat").withColumn(
        "rho", F.lit(float(radius_deg)))
    _, cand = _round_candidates(active, pts, w, n, pack, carry=point_cols)
    return (cand.filter(F.col("d2") <= F.col("rho") * F.col("rho"))
            .select("probe_id", "point_id", "d2", *point_cols))


def knn_point_join(probes: DataFrame, points: DataFrame, k: int = 3,
                   res: int = 6, growth: float = 4.0) -> DataFrame:
    """probes: (probe_id long, lng double, lat double);
    points: (point_id long, lng double, lat double).
    Returns (probe_id, rank 1..k, point_id, d2) — the k nearest points
    per probe by planar squared-degree distance, ties broken by
    point_id. Probes resolve over log-many radius-doubling rounds;
    a probe emits fewer than k rows only if the points table holds
    fewer than k rows."""
    w = 360.0 / (1 << res)
    n = 1 << res
    pack = (f"(CAST({res} AS BIGINT) * {1 << grid._RES_SHIFT}L"
            f" + ix * {1 << grid._IX_SHIFT}L + iy)")

    pts = points.selectExpr(
        "point_id", "lng AS plng", "lat AS plat",
        f"{grid.cell_id_sql_expr('lng', 'lat', res)} AS cell_id",
    ).localCheckpoint(eager=True)

    active = (probes.selectExpr("probe_id", "lng", "lat")
              .withColumn("rho", F.lit(float(w)))
              .localCheckpoint(eager=True))
    parts: list[DataFrame] = []
    for _ in range(_MAX_ROUNDS):
        if active.isEmpty():
            break
        cov, cand = _round_candidates(active, pts, w, n, pack)
        win = Window.partitionBy("probe_id").orderBy("d2", "point_id")
        topk = (cand.withColumn("rank", F.row_number().over(win))
                .filter(F.col("rank") <= k)
                .localCheckpoint(eager=True))
        stats = topk.groupBy("probe_id", "rho").agg(
            F.max("d2").alias("kth_d2"), F.count("*").alias("cnt"))
        # a full-box probe saw every point and resolves even with zero
        # or < k candidates; others need k certified winners
        done = (cov.filter("full_box").select("probe_id")
                .unionByName(stats.filter(
                    (F.col("cnt") == k)
                    & (F.col("kth_d2") <= F.col("rho") * F.col("rho")))
                    .select("probe_id"))
                .distinct())
        parts.append(
            topk.join(done, "probe_id", "left_semi")
            .select("probe_id", "rank", "point_id", "d2"))
        active = (active.join(done, "probe_id", "left_anti")
                  .withColumn("rho", F.col("rho") * growth)
                  .localCheckpoint(eager=True))
    else:  # pragma: no cover — growth covers the grid in ≤ log rounds
        raise RuntimeError("knn_point_join failed to converge")
    if not parts:
        return probes.sparkSession.createDataFrame(
            [], "probe_id long, rank int, point_id long, d2 double")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
