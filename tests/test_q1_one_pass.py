"""Q1's two plans agree on a generated boundary set (no external
files): the one-pass plan (one scalar Arrow UDF over the probe, then
explode) and the join fallback (an index over its ceiling: interior
join UNION the tile-join refine, its boundary tile side shuffled or,
with only the interior index off, broadcast) return the same
(point, region) rows — unfiltered, `where`-filtered, on probes sitting
exactly on shared edges, and with string id columns from the docs
table. Also pins the one-pass plan shape and the metrics split.
"""
from __future__ import annotations

import contextlib
import io
import json
import re
from collections import Counter

import numpy as np
import pytest

from areacity_query_geometry_spark import docs
from areacity_query_geometry_spark.engine import SpatialEngine

BASE_RES = 9


@pytest.fixture(scope="module")
def fixture_path(dense_geojson):
    return dense_geojson


@pytest.fixture(scope="module")
def engines(spark, dense_engine):
    one = dense_engine

    def variant(**kw):
        return SpatialEngine(spark, one.boundaries, one.tiles, BASE_RES, **kw)

    return {"one_pass": one,
            "join": variant(broadcast_wkb_budget=0),
            "join_bcast": variant(interior_broadcast_rows=0)}


def _district_rings(path):
    rings = {}
    with open(path) as f:
        for line in f:
            if line.startswith('{"type":"Feature"'):
                ft = json.loads(line.rstrip(",\n"))
                if ft["properties"]["deep"] == "2":
                    rings[ft["properties"]["name"]] = \
                        ft["geometry"]["coordinates"][0][:-1]
    return rings


@pytest.fixture(scope="module")
def edge_probes(fixture_path):
    """Ring vertices shared by exactly two districts (points on a
    shared edge, lattice corners excluded), each with the names of the
    two districts it must match."""
    owners: dict[tuple, list[str]] = {}
    for name, ring in _district_rings(fixture_path).items():
        for x, y in ring:
            owners.setdefault((x, y), []).append(name)
    shared = sorted((xy, names) for xy, names in owners.items()
                    if len(names) == 2)
    rng = np.random.default_rng(5)
    pick = rng.choice(len(shared), size=min(300, len(shared)), replace=False)
    return [shared[i] for i in sorted(pick)]


def _probe_df(spark, edge_probes):
    rng = np.random.default_rng(11)
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(
        rng.uniform(72.5, 135.5, 3000), rng.uniform(17.5, 54.5, 3000)))]
    base = len(rows)
    rows += [(base + i, float(x), float(y))
             for i, ((x, y), _) in enumerate(edge_probes)]
    rows += [(base + len(edge_probes), None, 30.0),
             (base + len(edge_probes) + 1, None, None)]
    return spark.createDataFrame(rows, "point_id long, lng double, lat double")


def _rows(df, cols=("point_id", "region_id")):
    return Counter(tuple(r) for r in df.select(*cols).collect())


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _nodes(plan: str, name: str) -> int:
    return len(re.findall(rf"\(\d+\) {name}\n", plan))


def test_index_on_one_pass_and_off_on_fallbacks(engines):
    one, join = engines["one_pass"], engines["join"]
    assert one._interior_index() is not None
    assert one._boundary_index() is not None
    assert join._boundary_index() is None
    assert engines["join_bcast"]._interior_index() is None
    assert join._one_pass_indexes() is None
    assert engines["join_bcast"]._one_pass_indexes() is None


@pytest.mark.parametrize("where", [None, "deep = 1"])
def test_three_plans_return_identical_rows(spark, engines, edge_probes,
                                           where):
    pts = _probe_df(spark, edge_probes)
    got = {k: _rows(e.query_points(pts, where=where, with_props=False))
           for k, e in engines.items()}
    assert got["one_pass"] == got["join"] == got["join_bcast"]
    assert max(got["one_pass"].values()) == 1  # no duplicate rows
    if where is None:
        # nested lattice: every in-bbox random probe hits 3 levels
        n_hit = len({p for p, _ in got["one_pass"]})
        assert n_hit > 2500
    else:
        unfiltered = _rows(engines["join"].query_points(pts,
                                                        with_props=False))
        keep = {r.region_id for r in engines["join"].boundaries
                .filter(where).select("region_id").collect()}
        assert got["one_pass"] == Counter(
            {k: v for k, v in unfiltered.items() if k[1] in keep})


def test_edge_touch_matches_both_neighbours(spark, engines, edge_probes):
    pts = _probe_df(spark, edge_probes)
    names = {r.region_id: r.name for r in
             engines["one_pass"].boundaries.select("region_id", "name")
             .collect()}
    base = 3000
    for key, eng in engines.items():
        hits: dict[int, set[str]] = {}
        for p, region in _rows(eng.query_points(pts, with_props=False)):
            hits.setdefault(p, set()).add(names[region])
        for i, (_, pair) in enumerate(edge_probes):
            assert set(pair) <= hits.get(base + i, set()), (key, i, pair)


def test_metrics_split_adds_up(spark, engines, edge_probes):
    pts = _probe_df(spark, edge_probes)
    counts = {}
    for key in engines:
        df, obs = engines[key].query_points_with_metrics(pts)
        total = df.count()
        n_int = obs["interior"].get["rows"]
        n_ref = obs["refined"].get["rows"]
        assert n_int > 0 and n_ref > 0
        assert n_int + n_ref == total
        counts[key] = (n_int, n_ref)
    assert counts["one_pass"] == counts["join"] == counts["join_bcast"]


def test_one_pass_plan_reads_probe_once(spark, engines, edge_probes):
    one = engines["one_pass"]
    pts = _probe_df(spark, edge_probes)
    for where in (None, "deep = 0"):
        plan = _plan(one.query_points(pts, where=where, with_props=False))
        assert _nodes(plan, "ArrowEvalPython") == 1
        for name in ("Union", "Exchange", "BroadcastExchange",
                     "MapInPandas"):
            assert _nodes(plan, name) == 0, (where, name)
    for key in ("join", "join_bcast"):
        assert _nodes(_plan(engines[key].query_points(
            pts, with_props=False)), "Union") == 1, key


def test_docs_join_one_scan_and_same_rows(spark, engines, tmp_path):
    """String id columns stay in the JVM; the docs parquet is scanned
    once by the one-pass plan and both plans agree row for row."""
    path = str(tmp_path / "docs.parquet")
    docs.generate_docs(spark, 300, seed=3).write.parquet(path)
    ids = ("doc_id", "span_idx")

    def q1(eng):
        pts = docs.geo_span_points(spark.read.parquet(path))
        return eng.query_points(pts, with_props=False, id_cols=ids)

    one = q1(engines["one_pass"])
    assert _nodes(_plan(one), r"Scan parquet\s*") == 1
    cols = (*ids, "region_id")
    got = _rows(one, cols)
    assert got
    assert got == _rows(q1(engines["join"]), cols) \
        == _rows(q1(engines["join_bcast"]), cols)
