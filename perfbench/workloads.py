"""The benchmark's workloads: setup, the timed window, the traced layer
breakdown and the correctness checks, all driven through the public
API (`tile_store.load_or_build`, `SpatialEngine.query_points` /
`query_points_with_tolerance` / `query_geometry`,
`docs.geo_span_points`)."""
from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from areacity_query_geometry_spark import docs, tiler
from areacity_query_geometry_spark.engine import (
    SpatialEngine, _make_index_refine_fn,
)
from areacity_query_geometry_spark.sources import geojson_source, tile_store

import oracle
import procmon

TOLERANCE_M = 25_000.0
OP_TIMEOUT_S = 60.0
# setups per run; setup_s is their median
SETUPS = 3
# untimed full-size rounds before the window. The first also brings
# back the oracle's sample rows, so it runs another plan than the
# timed rounds; after it, the JVM's executor threads still spent about
# a third more CPU in the next round than in the one after that (JIT
# compilation still under way)
WARM_ROUNDS = 2
# timed rounds per run, at least
MIN_ROUNDS = 2
# oracle sample sizes
SAMPLE_DOCS = 120
SAMPLE_Q2 = 160
SAMPLE_Q3 = 45
DOC_IDS = ("doc_id", "span_idx")
# the module functions load_or_build calls when it builds a store, and
# the span each runs in during the traced cold build
BUILD_CALLS = ((geojson_source, "read_boundaries", "sources.read_boundaries"),
               (tiler, "build_tiles", "tiler.build_tiles"),
               (tile_store, "save", "sources.tile_store.save"),
               (tile_store, "load", "sources.tile_store.reload"))


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Run:
    """State of one benchmark run: the session, the inputs, operation
    accounting, per-operation Spark counts and layer metrics."""

    def __init__(self, spark, info: dict, tracer, seconds: float, seed: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.info = info
        self.tracer = tracer
        self.seconds = seconds
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.mismatches = 0
        self.notes: list[str] = []
        self.op_counts: list[tuple[int, int, int]] = []
        self.layers: dict[str, float] = {}
        self.detail: dict = {}
        self.eng: SpatialEngine | None = None
        self.setup_s = 0.0
        self.small_s = 0.0
        self.window_rounds = 0
        self.round_s = 0.0
        self.wall_rate = 0.0
        self.cpu_rate = 0.0
        self.bf: oracle.BruteForce | None = None
        self._n = 0

    # ------------------------------------------------------- operations

    def op(self, name: str, fn, count_jobs: bool = True):
        """Run one operation in its own Spark job group under a timeout.
        Returns (result or None on failure, seconds)."""
        self._n += 1
        group = f"{name}-{self._n}"
        self.sc.setJobGroup(group, name, interruptOnCancel=True)
        timer = threading.Timer(OP_TIMEOUT_S, self.sc.cancelJobGroup, [group])
        timer.start()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, req=group):
                res = fn()
        except Exception:  # a failed job, a crashed worker or a timeout
            self.failed += 1
            self.notes.append(f"{group} failed: "
                              + traceback.format_exc(limit=2)[-400:])
            res = None
        finally:
            timer.cancel()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        dt = time.perf_counter() - t0
        if count_jobs:
            self.op_counts.append(self._job_counts(group))
        return res, dt

    def _job_counts(self, group: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                stages += 1
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        return len(jobs), stages, tasks

    def fail(self, what: str, exc: BaseException) -> None:
        """A failure outside an operation: counted as a failed one."""
        self.attempted += 1
        self.failed += 1
        self.notes.append(f"{what} failed: {exc!r}"[:400])

    def mismatch(self, what: str) -> None:
        """A wrong checksum or oracle answer: a failed operation."""
        self.mismatches += 1
        self.failed += 1
        self.notes.append(f"mismatch: {what}")

    def same(self, name: str, ref, got) -> None:
        if got is not None and got != ref:
            self.mismatch(f"{name} checksum {got} != {ref}")

    # ------------------------------------------------------------ setup

    def cold_build(self) -> None:
        """Traced runs only, after the window: tile_store.load_or_build
        from the GeoJSON into an empty store, with a span around each
        module function it calls. Reading and tiling are lazy: they run
        as one job at load_or_build's tiles.count(), which is the self
        time of its own span and is counted with the tiler."""
        store = os.path.join(self.info["dir"], "cold_store")
        shutil.rmtree(store, ignore_errors=True)
        t = self.tracer
        orig = [getattr(m, a) for m, a, _ in BUILD_CALLS]
        for (m, a, name), fn in zip(BUILD_CALLS, orig):
            setattr(m, a, t.wrap(name, fn))
        try:
            eng, _ = self.op(
                "sources.tile_store.load_or_build",
                lambda: tile_store.load_or_build(
                    self.spark, self.info["geojson"], store,
                    base_res=self.info["base_res"]),
                count_jobs=False)
        finally:
            for (m, a, _), fn in zip(BUILD_CALLS, orig):
                setattr(m, a, fn)
        shutil.rmtree(store, ignore_errors=True)
        if eng is None:
            return
        eng.boundaries.unpersist()
        eng.tiles.unpersist()
        st = t.self_times()
        self.layers.update({
            "sources.read_boundaries_s": st["sources.read_boundaries"],
            "tiler.build_tiles_s": (st["tiler.build_tiles"]
                                    + st["sources.tile_store.load_or_build"]),
            "sources.tile_store.save_s": st["sources.tile_store.save"],
        })

    def setup(self, small_round) -> bool:
        """What a user pays to start serving a built boundary release:
        load_or_build on the checkout's store (its load path), then one
        small round on the new engine, which builds its lazy indexes.
        Done SETUPS times in this process, each on a new engine; setup_s
        is the median of their CPU seconds (procmon.cpu_seconds), which
        leave out the time the host steals. The first also pays the
        process's first-run costs (Python worker start). Traced runs then
        time the warm small round twice: a round's fixed per-job
        overhead.
        `small_round` returns its seconds, or None if it failed.
        Returns False, with the failure counted, if the store would not
        load."""
        store = self.info["store"]
        totals, cpus, loads, firsts = [], [], [], []
        for _ in range(SETUPS):
            if self.eng is not None:
                self.eng.boundaries.unpersist()
                self.eng.tiles.unpersist()
            cpu0 = procmon.cpu_seconds()
            t0 = time.perf_counter()
            with self.tracer.span("setup"):
                eng, load_s = self.op(
                    "sources.tile_store.load",
                    lambda: tile_store.load_or_build(
                        self.spark, self.info["geojson"], store,
                        base_res=self.info["base_res"]),
                    count_jobs=False)
                if eng is None:
                    return False
                self.eng = eng
                with self.tracer.span("setup.first_call"):
                    first_s = small_round()
            totals.append(time.perf_counter() - t0)
            cpus.append(procmon.cpu_seconds() - cpu0)
            loads.append(load_s)
            if first_s is not None:
                firsts.append(first_s)
        self.setup_s = statistics.median(cpus)
        self.detail["setups_s"] = totals
        self.detail["setups_cpu_s"] = cpus
        self.layers["sources.tile_store.load_s"] = statistics.median(loads)
        if self.tracer.enabled:
            smalls = [s for s in (small_round(), small_round()) if s is not None]
            self.small_s = _median(smalls)
            self.detail["small_round_s"] = self.small_s
            if firsts and smalls:
                self.layers["engine.index_build_s"] = (_median(firsts)
                                                       - self.small_s)
        self._store_stats(store)
        self.bf = oracle.BruteForce(os.path.join(store, "boundaries"))
        return True

    def _store_stats(self, store: str) -> None:
        eng = self.eng
        nbytes = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(store) for f in fs)
        kinds = eng._tile_counts_by_kind()
        self.detail["store_bytes"] = nbytes
        self.layers.update({
            "sources.tile_store.bytes": nbytes,
            "tiler.tiles": sum(kinds.values()),
            "tiler.boundary_tiles": sum(v for k, v in kinds.items() if k != 1),
            "tiler.boundary_wkb_bytes": eng._boundary_wkb_bytes(),
        })

    # ----------------------------------------------------------- window

    def window(self, round_fn, work: int) -> None:
        """Closed loop, one client: WARM_ROUNDS untimed rounds (the JIT
        is still compiling for the full-size round after the small ones),
        then rounds back to back until `seconds` have passed and at
        least MIN_ROUNDS rounds are done. `round_fn` returns its seconds,
        or None if it failed; `work` is the probes in one round. Rates
        are the median round's. With tracing on, every other round runs
        with spans off, so the run can report the tracer's overhead. A
        failed round is counted and the loop goes on, until more than
        10 operations failed or time is up."""
        for _ in range(WARM_ROUNDS):
            round_fn()
        secs, traced, plain, cpu_rates = [], [], [], []
        self.op_counts.clear()
        t_end = time.perf_counter() + self.seconds
        tracing = self.tracer.enabled
        while len(secs) < MIN_ROUNDS or time.perf_counter() < t_end:
            self.tracer.enabled = tracing and len(secs) % 2 == 0
            cpu0 = procmon.cpu_seconds()
            dt = round_fn()
            cpu_s = procmon.cpu_seconds() - cpu0
            self.tracer.enabled = tracing
            if dt is None:
                if self.failed > 10 or time.perf_counter() > t_end:
                    break
                continue
            secs.append(dt)
            cpu_rates.append(work / cpu_s)
            (traced if len(secs) % 2 else plain).append(dt)
        self.op_count_layers()
        self.window_rounds = len(secs)
        if not secs:
            self.notes.append("no window round completed")
            return
        if tracing and traced and plain:
            self.layers["trace.overhead_share"] = (
                statistics.median(traced) / statistics.median(plain) - 1.0)
        self.detail["rounds_s"] = secs
        self.detail["rounds_probes_per_cpu_s"] = cpu_rates
        self.round_s = statistics.median(secs)
        self.wall_rate = work / self.round_s
        self.cpu_rate = statistics.median(cpu_rates)
        if self.small_s:
            # a round's fixed per-job overhead, as a share of the round
            self.detail["overhead_share"] = self.small_s / self.round_s
            self.layers["window.overhead_share"] = self.small_s / self.round_s

    def op_count_layers(self) -> None:
        if self.op_counts:
            a = np.array(self.op_counts, dtype=float).mean(axis=0)
            self.layers.update({"spark.jobs_per_op": a[0],
                                "spark.stages_per_op": a[1],
                                "spark.tasks_per_op": a[2]})


# ------------------------------------------------------------- docs_q1

def _sample_spans(run: Run) -> tuple[list[str], pd.DataFrame]:
    """Sampled docs and their geo spans, read from the parquet file on
    the driver and parsed here, independently of docs.geo_span_points."""
    rng = np.random.default_rng([run.seed, 10])
    ids = sorted(f"doc-{i:08d}" for i in rng.choice(
        run.info["docs_shape"]["docs"], SAMPLE_DOCS, replace=False))
    table = pq.read_table(run.info["docs"])
    keep = pc.is_in(table["doc_id"], value_set=pa.array(ids))
    rows = []
    for d in table.filter(keep).to_pylist():
        for i, span in enumerate(d["spans"]):
            if span["kind"] == "geo":
                lng, lat = span["text"][len("geo:"):].split(",")
                rows.append((d["doc_id"], i, float(lng), float(lat)))
    return ids, pd.DataFrame(rows, columns=[*DOC_IDS, "lng", "lat"])


def docs_q1(run: Run, traced: bool) -> None:
    """Closed loop: scan the docs parquet, explode geo spans, Q1 with
    (doc_id, span_idx) passthrough; each pass is one operation."""
    n_geo = run.info["docs_shape"]["geo_spans"]
    ids, spans = _sample_spans(run)
    ref: list = []
    small_ref: list = []

    def q1(path: str, sample=None):
        pts = docs.geo_span_points(run.spark.read.parquet(path))
        m = run.eng.query_points(pts, with_props=False, id_cols=DOC_IDS)
        return oracle.checksum(m, [*DOC_IDS, "region_id"], sample=sample)

    def small_round():
        res, dt = run.op("docs_q1.small", lambda: q1(run.info["small"]["docs"]))
        if res is None:
            return None
        if not small_ref:
            small_ref.append(res)
        run.same("docs_q1.small", small_ref[0][0], res[0])
        return dt

    def one_round():
        # the first warm round also brings back the oracle's sample rows
        sample = None if ref else ("doc_id", ids, [*DOC_IDS, "region_id"])
        res, dt = run.op("docs_q1", lambda: q1(run.info["docs"], sample))
        if res is None:
            return None
        if not ref:
            ref.append(res)
        run.same("docs_q1", ref[0][0], res[0])
        return dt

    if not run.setup(small_round):
        return
    run.window(one_round, n_geo)
    if ref:
        run.detail["checksum"] = {"docs_q1": list(ref[0][0])}
        got: dict = {}
        for doc_id, span_idx, region in ref[0][1]:
            got.setdefault((doc_id, span_idx), set()).add(int(region))
        want = run.bf.point_hits(spans["lng"].to_numpy(),
                                 spans["lat"].to_numpy())
        bad = sum(got.pop((d, i), set()) != w for d, i, w in zip(
            spans["doc_id"], spans["span_idx"], want)) + len(got)
        run.detail["oracle_q1"] = {"checked": len(spans), "mismatches": bad}
        if bad:
            run.mismatch(f"Q1 oracle: {bad} of {len(spans)} spans")
    if traced:
        if run.window_rounds:
            _docs_layers(run, run.round_s)
        run.cold_build()


class _LocalBroadcast:
    """Stands in for a Broadcast so the refine kernel runs on the
    driver over captured batches."""

    def __init__(self, value):
        self.value = value


def _docs_layers(run: Run, e2e_s: float) -> None:
    """Cumulative plan prefixes, each timed twice; a stage's cost is the
    difference between the medians of consecutive prefixes."""
    spark, eng, t = run.spark, run.eng, run.tracer
    _, tiles_view = eng.create_views("pb")
    bc, bcells = eng._boundary_index()
    cell = eng.cell_expr("lng", "lat")

    def scan():
        return spark.read.parquet(run.info["docs"])

    def points():
        return docs.geo_span_points(scan())

    def cells():
        return points().withColumn("cell_id", F.expr(cell))

    def interior():
        cells().createOrReplaceTempView("pb_probes")
        return spark.sql(
            f"SELECT /*+ BROADCAST(t) */ p.doc_id, p.span_idx, t.region_id "
            f"FROM pb_probes p "
            f"JOIN {tiles_view} t ON t.cell_id = p.cell_id AND t.kind = 1")

    def handoff():
        # the probe columns the refine receives go in; as many columns
        # as it returns come back
        sel = (cells().join(F.broadcast(bcells), "cell_id", "left_semi")
               .select(*DOC_IDS, "lng", "lat", "cell_id"))
        back = sel.select(*DOC_IDS, F.col("cell_id").alias("region_id")).schema
        echo = sel.mapInPandas(
            lambda it: (p[[*DOC_IDS, "cell_id"]].set_axis(back.names, axis=1)
                        for p in it), back)
        return interior().unionByName(echo)

    def full():
        return eng.query_points(points(), with_props=False, id_cols=DOC_IDS)

    # each prefix is consumed by the same checksum aggregate the timed
    # rounds use, so the chain ends at the end-to-end operation
    prefixes = [("sources.docs_scan_s", scan, ["doc_id", "spans"]),
                ("docs.geo_span_points_s", points, [*DOC_IDS, "lng", "lat"]),
                ("grid.cell_id_s", cells, [*DOC_IDS, "cell_id"]),
                ("engine.q1.interior_join_s", interior, [*DOC_IDS, "region_id"]),
                ("engine.q1.arrow_handoff_s", handoff, [*DOC_IDS, "region_id"]),
                ("engine.q1.boundary_refine_s", full, [*DOC_IDS, "region_id"])]
    secs: dict[str, list[float]] = {k: [] for k, _, _ in prefixes}
    for _ in range(2):
        for name, plan, cols in prefixes:
            _, dt = run.op(f"prefix.{name}",
                           lambda: oracle.checksum(plan(), cols),
                           count_jobs=False)
            secs[name].append(dt)
    med = [statistics.median(secs[k]) for k, _, _ in prefixes]
    for i, (name, _, _) in enumerate(prefixes):
        run.layers[name] = med[i] - (med[i - 1] if i else 0.0)
    run.layers["engine.q1.stage_sum_share"] = med[-1] / e2e_s

    # counts: interior / refined rows from query_points_with_metrics
    # (it takes one point_id column), boundary-cell probes from an
    # outside semi-join on the boundary cells
    pid_pts = points().withColumn("point_id", F.xxhash64(*DOC_IDS))
    with t.span("engine.q1.metrics"):
        out, obs = eng.query_points_with_metrics(pid_pts)
        out.write.format("noop").mode("overwrite").save()
        n_int = obs["interior"].get["rows"]
        n_ref = obs["refined"].get["rows"]
        bprobes = cells().join(F.broadcast(bcells), "cell_id", "left_semi")
        n_bp = bprobes.count()
    run.layers.update({
        "engine.q1.interior_rows": n_int, "engine.q1.refined_rows": n_ref,
        "engine.q1.boundary_probe_rows": n_bp,
        "engine.q1.refine_useful_ratio": n_ref / max(n_bp, 1)})

    # the refine kernel alone, on the driver, over the captured
    # boundary-cell probes in Arrow-sized batches
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    pdf = bprobes.select(*DOC_IDS, "lng", "lat", "cell_id").toPandas()
    fn = _make_index_refine_fn(DOC_IDS, _LocalBroadcast(bc.value))
    batches = [pdf.iloc[s:s + batch] for s in range(0, len(pdf), batch)]
    with t.span("engine.q1.refine_kernel"):
        t0 = time.perf_counter()
        n_out = sum(len(b) for b in fn(iter(batches)))
        run.layers["engine.q1.refine_kernel_s"] = time.perf_counter() - t0
    if n_out != n_ref:
        run.mismatch(f"driver kernel rows {n_out} != refined rows {n_ref}")


# ------------------------------------------------------ nearest_shapes

def nearest_shapes(run: Run, traced: bool) -> None:
    """Closed loop: each round is Q2 at 25 km over the widened-bbox
    probes, then Q3 over the rect / line / diamond WKT mix."""
    spark = run.spark
    shape = run.info["probe_shape"]
    small = run.info["small"]
    n2, n3 = shape["q2_probes"], shape["q3_probes"]
    rng = np.random.default_rng([run.seed, 11])
    q2pts = pq.read_table(run.info["q2"]).to_pandas()
    q3wkt = pq.read_table(run.info["q3"]).to_pandas()
    x0, y0, x1, y1 = run.info["extent"]
    outside = np.nonzero((q2pts["lng"] < x0) | (q2pts["lng"] > x1)
                         | (q2pts["lat"] < y0) | (q2pts["lat"] > y1))[0]
    s2 = q2pts.iloc[np.unique(np.concatenate([
        rng.choice(len(q2pts), SAMPLE_Q2 // 2, replace=False),
        rng.choice(outside, SAMPLE_Q2 // 2, replace=False)]))]
    s3 = q3wkt.iloc[np.sort(rng.choice(len(q3wkt), SAMPLE_Q3, replace=False))]
    ref: dict = {}
    q2_secs, q3_secs = [], []

    def q2(path: str, sample=None):
        out = run.eng.query_points_with_tolerance(
            spark.read.parquet(path), TOLERANCE_M)
        return oracle.checksum(out, ["point_id", "region_id"],
                               "point_distance", sample=sample)

    def q3(path: str, sample=None):
        wk = spark.read.parquet(path).select("probe_id", "wkt")
        return oracle.checksum(run.eng.query_geometry(wk, with_props=False),
                               ["probe_id", "region_id"], sample=sample)

    def both(suffix: str, q2_sample=None, q3_sample=None):
        """Q2 then Q3 on one input pair, each checked against the first
        result of its name; returns their seconds, or None."""
        r2, t2 = run.op("q2" + suffix, lambda: q2(
            small["q2"] if suffix else run.info["q2"], q2_sample))
        r3, t3 = run.op("q3" + suffix, lambda: q3(
            small["q3"] if suffix else run.info["q3"], q3_sample))
        for name, res in (("q2" + suffix, r2), ("q3" + suffix, r3)):
            if res is not None:
                ref.setdefault(name, res)
                run.same(name, ref[name][0], res[0])
        if r2 is None or r3 is None:
            return None
        return t2, t3

    def small_round():
        ts = both(".small")
        return None if ts is None else sum(ts)

    def one_round():
        # the first warm round also brings back the oracle's sample rows
        ts = both("", None if "q2" in ref else (
            "point_id", s2["point_id"].tolist(),
            ["point_id", "region_id", "deep", "point_distance"]),
            None if "q3" in ref else (
            "probe_id", s3["probe_id"].tolist(), ["probe_id", "region_id"]))
        if ts is None:
            return None
        q2_secs.append(ts[0])
        q3_secs.append(ts[1])
        return sum(ts)

    if not run.setup(small_round):
        return
    run.window(one_round, n2 + n3)
    n = run.window_rounds
    q2_secs, q3_secs = q2_secs[len(q2_secs) - n:], q3_secs[len(q3_secs) - n:]
    run.detail["q2_round_s"] = _median(q2_secs)
    run.detail["q3_round_s"] = _median(q3_secs)
    run.detail["checksum"] = {k: list(v[0]) for k, v in ref.items()}
    if "q2" in ref:
        probes = list(zip(s2["point_id"].astype(int), s2["lng"], s2["lat"]))
        res = oracle.check_q2(run.bf, probes, ref["q2"][1], TOLERANCE_M)
        run.detail["oracle_q2"] = res
        if res["mismatches"]:
            run.mismatch(f"Q2 oracle: {res['mismatches']} of {res['checked']}")
    if "q3" in ref:
        got: dict = {}
        for pid, region in ref["q3"][1]:
            got.setdefault(int(pid), set()).add(int(region))
        want = run.bf.geometry_hits(s3["wkt"].tolist())
        bad = sum(got.get(int(p), set()) != w
                  for p, w in zip(s3["probe_id"], want))
        run.detail["oracle_q3"] = {"checked": len(s3), "mismatches": bad}
        if bad:
            run.mismatch(f"Q3 oracle: {bad} of {len(s3)} probes")
    if traced:
        if n:
            _nearest_layers(run, ref, n2 / statistics.median(q2_secs),
                            n3 / statistics.median(q3_secs))
        run.cold_build()


def _nearest_layers(run: Run, ref: dict, q2_rate: float, q3_rate: float) -> None:
    """Q2 split into its Q1 match and the distance stage (Q2 time minus
    a Q1 with props on the same probes), plus row counts."""
    spark, eng = run.spark, run.eng
    shape = run.info["probe_shape"]
    n2 = shape["q2_probes"]
    pts = spark.read.parquet(run.info["q2"])

    def match():
        return oracle.checksum(eng.query_points(pts), ["point_id", "region_id"])

    match_s = []
    for _ in range(2):
        _, dt = run.op("engine.q2.match", match, count_jobs=False)
        match_s.append(dt)
    with run.tracer.span("engine.q2.miss_count"):
        hit_pts = (eng.query_points(pts, with_props=False)
                   .select("point_id").distinct().count())
    tol_rows = ref["q2"][0][3] if "q2" in ref else 0
    misses = n2 - hit_pts
    run.layers.update({
        "engine.q2.match_s": statistics.median(match_s),
        "engine.q2.distance_s": n2 / q2_rate - statistics.median(match_s),
        "engine.q2.miss_rows": misses,
        "engine.q2.tolerance_rows": tol_rows,
        "engine.q2.useful_ratio": tol_rows / max(misses, 1),
        "engine.q2.probes_per_s": q2_rate,
        "engine.q3.rows": ref["q3"][0][0] if "q3" in ref else 0,
        "engine.q3.probes_per_s": q3_rate,
        **{f"engine.q3.probes_{k}": v
           for k, v in shape["q3_by_kind"].items()},
    })


WORKLOADS = {"docs_q1": docs_q1, "nearest_shapes": nearest_shapes}

