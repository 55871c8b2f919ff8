"""Correctness checks: order-independent checksums of each operation's
output, and a sampled brute-force oracle over the untiled feature
geometry in `eng.boundaries` (no tiles, no index, no Spark kernels)."""
from __future__ import annotations

import math

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F

from areacity_query_geometry_spark.geom import core, distance, predicates, wkb
from areacity_query_geometry_spark.geom import wkt as wkt_codec

# Q2 oracle: a tolerance distance must lie within this many metres of
# the brute-force minimum (plus a relative share for long distances).
Q2_ABS_BOUND_M = 2.0
Q2_REL_BOUND = 1e-4
# Q2 oracle: probes whose nearest feature of a level sits between these
# shares of the tolerance are not checked for presence, since the
# engine's 24-gon is not a circle
Q2_EDGE_LO, Q2_EDGE_HI = 0.9, 1.1


def checksum(df: DataFrame, ids: list[str], dist: str | None = None,
             sample: tuple[str, list, list[str]] | None = None):
    """One aggregate over the whole output: (rows, sum of xxhash64(ids)
    mod 2^31-1[, sum of distance in mm, rows with a distance]), which is
    order-independent and so must repeat exactly for a seed, plus the
    rows whose `sample[0]` column is in `sample[1]` (columns
    `sample[2]`), for the oracle."""
    aggs = [F.count(F.lit(1)),
            F.sum(F.pmod(F.xxhash64(*ids), F.lit(2147483647)))]
    if dist is not None:
        aggs += [F.sum(F.round(F.col(dist) * 1000).cast("long")),
                 F.count(dist)]
    if sample is not None:
        key, keys, cols = sample
        aggs.append(F.collect_list(F.when(F.col(key).isin(keys),
                                          F.struct(*cols))))
    row = df.agg(*aggs).first()
    sums = tuple(int(v or 0) for v in row[:len(aggs) - (sample is not None)])
    return sums, ([tuple(r) for r in row[-1]] if sample is not None else None)


class BruteForce:
    """Every feature's rings decoded once on the driver, read with
    pyarrow from the tile store's boundary table (what `eng.boundaries`
    loads), so building the oracle runs no Spark job."""

    def __init__(self, boundaries_parquet: str):
        pdf = pq.read_table(boundaries_parquet,
                            columns=["region_id", "deep", "geom_wkb"]).to_pandas()
        self.region = pdf["region_id"].to_numpy().astype(np.int64)
        self.deep = pdf["deep"].to_numpy().astype(np.int64)
        self.geoms, self.segs = [], []
        box = []
        for b in pdf["geom_wkb"]:
            g = wkb.loads(bytes(b))
            self.geoms.append(g)
            self.segs.append(predicates.segments_of_rings(core.all_rings(g)))
            box.append(core.bounds(g))
        self.box = np.array(box).reshape(-1, 4)

    def point_hits(self, px: np.ndarray, py: np.ndarray) -> list[set[int]]:
        hits: list[set[int]] = [set() for _ in px]
        for f in range(len(self.region)):
            x0, y0, x1, y1 = self.box[f]
            sel = np.nonzero((px >= x0) & (px <= x1)
                             & (py >= y0) & (py <= y1))[0]
            if not len(sel):
                continue
            inside = predicates.points_intersect_prepared(
                px[sel], py[sel], self.segs[f])
            for i in sel[inside]:
                hits[i].add(int(self.region[f]))
        return hits

    def geometry_hits(self, wkts: list[str]) -> list[set[int]]:
        out = []
        for text in wkts:
            g = wkt_codec.loads(text)
            x0, y0, x1, y1 = core.bounds(g)
            cand = np.nonzero((self.box[:, 0] <= x1) & (self.box[:, 2] >= x0)
                              & (self.box[:, 1] <= y1) & (self.box[:, 3] >= y0))[0]
            out.append({int(self.region[f]) for f in cand
                        if predicates.geoms_intersect(g, self.geoms[f])})
        return out

    def nearest_by_deep(self, x: float, y: float,
                        reach_m: float) -> dict[int, float]:
        """Per level, the haversine minimum from (x, y) over the segments
        of every feature within `reach_m`: each segment's nearest point
        in cos(lat)-scaled degrees (locally metric), then haversine."""
        c = math.cos(math.radians(y))
        rx = reach_m / (111_320.0 * max(c, 1e-6))
        ry = reach_m / 111_320.0
        cand = np.nonzero((self.box[:, 0] <= x + rx) & (self.box[:, 2] >= x - rx)
                          & (self.box[:, 1] <= y + ry) & (self.box[:, 3] >= y - ry))[0]
        best: dict[int, float] = {}
        for f in cand:
            s = self.segs[f]
            x1, y1, x2, y2 = s[:, 0] * c, s[:, 1], s[:, 2] * c, s[:, 3]
            dx, dy = x2 - x1, y2 - y1
            ll = dx * dx + dy * dy
            t = np.where(ll > 0, ((x * c - x1) * dx + (y - y1) * dy)
                         / np.where(ll > 0, ll, 1.0), 0.0)
            t = np.clip(t, 0.0, 1.0)
            qx = (x1 + t * dx) / c
            qy = y1 + t * dy
            d = float(np.min(distance.haversine(x, y, qx, qy)))
            k = int(self.deep[f])
            best[k] = min(best.get(k, math.inf), d)
        return best


def check_q2(bf: BruteForce, probes: list[tuple[int, float, float]],
             rows: list, tol_m: float) -> dict:
    """rows: (point_id, region_id, deep, point_distance) from Q2 on
    `probes`. Returns {"checked", "mismatches", "max_abs_err_m",
    "skipped_edge"}."""
    by_pt: dict[int, list] = {}
    for r in rows:
        by_pt.setdefault(int(r[0]), []).append(r)
    px = np.array([p[1] for p in probes])
    py = np.array([p[2] for p in probes])
    hits = bf.point_hits(px, py)
    out = {"checked": 0, "mismatches": 0, "max_abs_err_m": 0.0,
           "skipped_edge": 0}
    for (pid, x, y), hit in zip(probes, hits):
        got = by_pt.get(pid, [])
        out["checked"] += 1
        if hit:
            if {int(r[1]) for r in got} != hit or any(r[3] is not None
                                                      for r in got):
                out["mismatches"] += 1
            continue
        near = bf.nearest_by_deep(x, y, Q2_EDGE_HI * tol_m + 1000.0)
        got_deep = {int(r[2]): float(r[3]) for r in got}
        ok = True
        for deep in set(near) | set(got_deep):
            want = near.get(deep, math.inf)
            if want > Q2_EDGE_HI * tol_m:
                ok &= deep not in got_deep
            elif want < Q2_EDGE_LO * tol_m:
                if deep not in got_deep:
                    ok = False
                    continue
                err = abs(got_deep[deep] - want)
                out["max_abs_err_m"] = max(out["max_abs_err_m"], err)
                ok &= err <= Q2_ABS_BOUND_M + Q2_REL_BOUND * want
            else:
                out["skipped_edge"] += 1
        out["mismatches"] += 0 if ok else 1
    return out
