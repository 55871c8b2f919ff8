"""Benchmark harness (driver-run per round).

Headline: coordinate lookups/sec through the full engine (point →
cell-grid join → interior shortcut / Arrow refine) against the
reference's own China province boundary fixture — the apples-to-apples
analog of the reference's QPS benchmark (/root/reference/Test.java:437-603,
baseline 11,034 lookups/sec/core in-memory, README.md:196).

The OFFICIAL headline is the ISOLATED `spark-submit local[8]` leg
(fresh JVM, package shipped as a --py-files zip, tools/submit_job.py q1) —
not an in-session figure — and every timed run in this file records its
own window's /proc/stat steal%% plus all per-run times in the JSON, so
the number carries its host-conditions evidence (VERDICT r2 #1: the
round-2 record mis-reported in both directions and couldn't prove it).
The in-session local[$SPARK_GRAFT_CPUS] figures remain as secondary
fields (`insession_*`).

Also times the driver-gate queries at $SPARK_GRAFT_SF_DIR.

Prints ONE COMPACT JSON line (the driver keeps only the last 2000
chars of stdout and parses the final line — r3's detail-laden line
overflowed that window and the driver recorded `parsed: null`):
  {"metric": ..., "value": <isolated headline elapsed sec>, "unit": "sec",
   "queries": {...per-query best sec...}, "sf": ..., "cpus": N,
   "lookups_per_sec": ..., "per_core": ..., "detail": "BENCH_DETAIL.json"}
Full evidence (per-run times, steal%%, PSI stalls, isolated-leg JSON,
Q2 iteration telemetry) goes to BENCH_DETAIL.json next to this file.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
# glibc malloc tunables BEFORE the JVM starts (workers inherit): large
# numpy temporaries otherwise mmap/munmap per call and the page-fault
# churn serializes concurrent Arrow kernels (hostload.MALLOC_TUNING)
os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# 100M probes ≈ 6s/run at steady state: large enough that per-job fixed
# overhead (~1-2s of stage scheduling) stops dominating the throughput
# figure; probes are generated by Range, so no input materialization.
N_LOOKUPS = int(os.environ.get("SPARK_GRAFT_LOOKUPS", "100000000"))

PROVINCE_FIXTURE = "/root/reference/仅供测试-全国省级GeoJSON数据-大幅简化粗略版.json"


def build_session():
    from pyspark.sql import SparkSession

    from areacity_query_geometry_spark.hostload import driver_memory_conf

    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("aqgs-bench")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        # a host-sized, pre-touched heap (hostload.driver_memory_conf)
        .config(map=driver_memory_conf())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .getOrCreate()
    )


def headline_docs_join(spark, eng, n_docs: int) -> dict:
    """The north-star shape: n_docs interleaved text+geo+media docs →
    posexplode → JVM geo parse → cell-grid join, with (doc_id,
    span_idx) passthrough. Spans generated by Range (no input
    materialization)."""
    from areacity_query_geometry_spark import docs as docsmod

    docs = spark.range(n_docs).selectExpr(
        "CAST(id AS STRING) AS doc_id",
        """array(
          named_struct('kind','text','text','header',
                       'media_ref',CAST(NULL AS STRING),'offset',0),
          named_struct('kind','geo','text',
            concat('geo:', CAST(73.0 + (id * 37 % 62000) / 1000.0 AS STRING),
                   ',', CAST(18.0 + (id * 101 % 36000) / 1000.0 AS STRING)),
            'media_ref',CAST(NULL AS STRING),'offset',1),
          named_struct('kind','image','text',CAST(NULL AS STRING),
            'media_ref', concat('blob://img/', CAST(id AS STRING)),'offset',2)
        ) AS spans""")
    pts = docsmod.geo_span_points(docs)
    ids = ("doc_id", "span_idx")
    eng.query_points(pts.sample(0.01, seed=1), with_props=False,
                     id_cols=ids).count()  # warm
    from areacity_query_geometry_spark.hostload import TimedRuns

    timed = TimedRuns()
    hits = 0
    for _ in range(2):
        hits = timed.run(lambda: eng.query_points(
            pts, with_props=False, id_cols=ids).count())
    return {
        "docs_join_sec": round(timed.best, 2),
        "docs_join_detail": timed.detail(),
        "n_docs": n_docs,
        "docs_hits": hits,
        "docs_per_sec": round(n_docs / timed.best, 1),
    }


def headline_point_lookup(spark) -> dict:
    """N synthetic probes over the China bbox vs the province fixture."""
    from pyspark.sql import functions as F

    from areacity_query_geometry_spark.engine import SpatialEngine

    t0 = time.time()
    eng = SpatialEngine.from_geojson(spark, PROVINCE_FIXTURE, base_res=13)
    build_s = time.time() - t0

    # deterministic probe cloud over/around China (incl. ocean misses)
    probes = spark.range(N_LOOKUPS).select(
        F.col("id").alias("point_id"),
        (73.0 + (F.col("id") * 37 % 62000) / 1000.0).alias("lng"),
        (18.0 + (F.col("id") * 101 % 36000) / 1000.0).alias("lat"),
    )
    # warmup: spin up Python UDF workers + JIT before the timed run (the
    # reference's QPS bench likewise measures steady-state, Test.java:437-603).
    # sample() (NOT limit(), which collapses to one partition) keeps every
    # partition populated so all workers fork+import before the clock starts.
    eng.query_points(probes.sample(0.03, seed=1), with_props=False).count()

    # best of 3 timed runs — the host is a shared guest with fluctuating
    # CPU steal; min is the steady-state number (reference methodology),
    # and each run's window steal%% rides along as evidence
    from areacity_query_geometry_spark.hostload import TimedRuns

    timed = TimedRuns()
    n_hits = 0
    for _ in range(3):
        n_hits = timed.run(
            lambda: eng.query_points(probes, with_props=False).count())
    query_s = timed.best
    return {
        "insession_build_sec": round(build_s, 2),
        "insession_lookup_sec": round(query_s, 2),
        "insession_lookup_detail": timed.detail(),
        "n_probes": N_LOOKUPS,
        "n_hits": n_hits,
        "insession_lookups_per_sec": round(N_LOOKUPS / query_s, 1),
        "insession_lookups_per_sec_per_core": round(N_LOOKUPS / query_s / CPUS, 1),
    }, eng


def isolated_headline(n_lookups: int, cpus: int = 8) -> dict | None:
    """The OFFICIAL headline leg: a fresh-JVM `spark-submit
    --master local[8] --py-files <zip> tools/submit_job.py q1 <n>` run
    from a neutral cwd (tools/scaling_bench.run) — isolated from this
    session's broadcasts, codegen cache, and GC state. Returns the q1
    job's JSON (per-run times + steal%% included), or None if
    spark-submit is unavailable in the calling environment."""
    try:
        from tools.scaling_bench import run as submit_run

        return submit_run("q1", cpus, [n_lookups])
    except Exception as e:
        print(f"# isolated headline leg failed ({e}); "
              "falling back to in-session figure", file=sys.stderr)
        return None


RECHECK_RATIO = 1.5


def flag_rechecks(qtimes: dict, qdetail: dict, hist: dict) -> dict:
    """Gates to recheck in a fresh JVM: a gate of at least 1 s whose
    best time this round is above RECHECK_RATIO × its previous round's
    recorded best, read at < 0.5% steal, is either a real regression or
    shared-session state (r4's q2 gate read 9.13 s shared vs 3.63 s
    isolated). Sub-second gates are skipped (their noise is as large
    as the ratio), as are gates without history (first round / renamed
    gate) and stolen windows, which explain the reading on their own.
    1.5x, not 2x: r5's 1.81x and 1.78x readings slipped under 2x.
    Returns {name: {"shared_sec", "prev_best_sec"}}."""
    flagged = {}
    for name, best in qtimes.items():
        h = hist.get(name)
        det = qdetail.get(name) or {}
        if not h or h <= 0 or best < 1.0 or best <= RECHECK_RATIO * h:
            continue
        if min(det.get("runs_steal_pct") or [100.0]) >= 0.5:
            continue
        flagged[name] = {"shared_sec": best, "prev_best_sec": h}
    return flagged


def main():
    from areacity_query_geometry_spark.hostload import TimedRuns, cpu_snapshot, steal_pct

    bench_snap = cpu_snapshot()
    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")

    # both headline legs run on the province fixture; without it they
    # are skipped and only the gates run
    have_fixture = os.path.exists(PROVINCE_FIXTURE)
    # The in-session legs are SECONDARY evidence (the official headline
    # is the isolated spark-submit run below) — a Py4J/JVM hiccup here
    # must not zero out the whole round record. On failure: record the
    # error, restart the session, continue to the gates.
    head = {}
    try:
        if have_fixture:
            head, eng = headline_point_lookup(spark)
            head.update(headline_docs_join(spark, eng,
                                           max(1_000_000, N_LOOKUPS // 10)))
    except Exception as e:
        print(f"# in-session headline failed: {e!r}", file=sys.stderr)
        head = {"insession_error": repr(e)[:300]}
        try:
            spark.stop()
        except Exception:
            pass
        spark = build_session()
        spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    # Steady-state latency per query (best of 2 runs): run 1 pays one-time
    # session costs (whole-stage codegen compile, broadcast build, Python
    # worker fork+import) that are amortized over a real workload; the
    # reference's QPS tables are likewise steady-state (Test.java:437-603).
    # cold_total_sec reports the sum of first runs for transparency;
    # query_detail carries every run's time + its window's steal%%.
    qtimes = {}
    qdetail = {}
    cold_total = 0.0
    for name, fn in entrymod.queries().items():
        timed = TimedRuns()

        def one_run(fn=fn):
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()

        try:
            for _ in range(2):
                timed.run(one_run)
            # host CPU steal is bursty: when the two runs disagree badly,
            # a third sample keeps one stolen run from defining the metric
            if timed.best > 0.2 and max(timed.secs) / timed.best > 1.5:
                timed.run(one_run)
            qtimes[name] = round(timed.best, 3)
            qdetail[name] = timed.detail()
            cold_total += timed.secs[0]
        except Exception as e:  # keep the bench line intact on one bad query
            qtimes[name] = -1.0
            print(f"# bench query {name} failed: {e}", file=sys.stderr)
    try:
        spark.stop()
    except Exception as e:  # a dead JVM must not cost the isolated leg
        print(f"# spark.stop failed: {e!r}", file=sys.stderr)

    # Auto-escalating recheck (VERDICT r4 next-round #6): self-adjudicate
    # suspect gates (flag_rechecks) by rerunning them in a fresh JVM via
    # tools/isolated_gates.py and recording BOTH numbers.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    iso_rechecks = {}
    try:
        with open(detail_path) as f:
            prev = json.load(f)
        # history is only comparable at the same SF and core count — a
        # quick sf0.01 verify run must not become the baseline the next
        # sf0.1 round is judged against (everything would read >2x)
        hist = prev.get("queries", {}) \
            if (prev.get("sf") == SF_DIR.rstrip("/").split("/")[-1]
                and prev.get("cpus") == CPUS) else {}
    except (OSError, ValueError):
        hist = {}
    flagged = flag_rechecks(qtimes, qdetail, hist)
    if flagged:
        import subprocess

        try:
            proc = subprocess.run(
                [sys.executable, os.path.join("tools", "isolated_gates.py"),
                 ",".join(flagged), "2", "8"],
                cwd=os.path.dirname(os.path.abspath(__file__)),
                env={**os.environ, "SPARK_GRAFT_SF_DIR": SF_DIR},
                capture_output=True, text=True, timeout=1800)
            summary = json.loads(
                proc.stdout.strip().splitlines()[-1])["summary"]
            for name, sec in summary.items():
                flagged[name]["isolated_sec"] = sec
            iso_rechecks = flagged
        except Exception as e:
            iso_rechecks = {"error": repr(e)[:300], **flagged}
        print(f"# isolated_rechecks: {json.dumps(iso_rechecks)}",
              file=sys.stderr)

    # official headline: the isolated fresh-JVM spark-submit local[8] leg
    iso = isolated_headline(N_LOOKUPS) if have_fixture else None
    if iso is not None:
        headline_sec = iso["sec"]
        head.update({
            "lookups_per_sec": iso["throughput"],
            "lookups_per_sec_per_core": round(iso["throughput"] / iso["cpus"], 1),
            "build_sec": iso.get("build_sec"),
            "lookup_sec": iso["sec"],
        })
        mode = f"isolated-spark-submit-local[{iso['cpus']}]"
    else:
        headline_sec = head.get("insession_lookup_sec", -1.0)
        head.update({
            "lookups_per_sec": head.get("insession_lookups_per_sec"),
            "lookups_per_sec_per_core": head.get("insession_lookups_per_sec_per_core"),
            "build_sec": head.get("insession_build_sec"),
            "lookup_sec": head.get("insession_lookup_sec"),
        })
        mode = ("in-session-fallback" if have_fixture
                else f"skipped: missing {PROVINCE_FIXTURE}")

    detail = {
        "headline_mode": mode,
        "isolated": iso,
        "queries": qtimes,
        "query_detail": qdetail,
        "isolated_rechecks": iso_rechecks,
        "cold_total_sec": round(cold_total, 1),
        "bench_window_steal_pct": steal_pct(bench_snap, cpu_snapshot()),
        "sf": SF_DIR.rstrip("/").split("/")[-1],
        "cpus": CPUS,
        **head,
    }
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)

    # The driver keeps only the LAST 2000 chars of stdout and parses the
    # final line as JSON — round 3's detail-laden line outgrew that window
    # and the round's record lost its parsed metrics. The final line is
    # therefore a compact summary (full evidence in BENCH_DETAIL.json).
    out = {
        "metric": "point_lookup_throughput",
        "value": headline_sec,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in qtimes.items()},
        "sf": detail["sf"],
        "cpus": CPUS,
        "mode": mode,
        "lookups_per_sec": head.get("lookups_per_sec"),
        "per_core": head.get("lookups_per_sec_per_core"),
        "build_sec": head.get("build_sec"),
        "docs_per_sec": head.get("docs_per_sec"),
        "detail": "BENCH_DETAIL.json",
    }
    if iso_rechecks:
        # compact: count + the worst confirmed ratio only — the full
        # per-gate map lives in BENCH_DETAIL.json (a 15-gate map once
        # ate ~450 chars of the 1950-char line and pushed 21 per-gate
        # times out of the driver record)
        confirmed = {k: v for k, v in iso_rechecks.items()
                     if isinstance(v, dict) and "isolated_sec" in v}
        out["isolated_rechecks_n"] = len(iso_rechecks)
        if confirmed:
            worst = max(confirmed,
                        key=lambda k: confirmed[k]["isolated_sec"]
                        / max(confirmed[k]["prev_best_sec"], 1e-9))
            out["isolated_worst"] = {
                worst: round(confirmed[worst]["isolated_sec"], 2)}
    line = json.dumps(out, separators=(",", ":"))  # compact: 61 gates
    if len(line) > 1950:  # stay inside the driver's tail window, always
        out["queries"] = {k: round(v, 1) for k, v in qtimes.items()}
        line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1950:  # next tier: whole seconds (full 2dp in DETAIL)
        out["queries"] = {k: int(round(v)) for k, v in qtimes.items()}
        line = json.dumps(out, separators=(",", ":"))
    while len(line) > 1950 and out["queries"]:
        # last resort: drop the fastest gates, keep a visible count so
        # the omission is explicit (never silent truncation)
        fastest = min(out["queries"], key=lambda k: (qtimes[k], -len(k)))
        del out["queries"][fastest]
        out["queries_omitted"] = len(qtimes) - len(out["queries"])
        line = json.dumps(out, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    try:
        main()
    except BaseException:
        # The driver (and CLAUDE.md's loop) runs `bench.py 2>/dev/null`
        # — an uncaught exception would exit 1 with EMPTY stdout and no
        # post-mortem anywhere (observed intermittently in r4). Keep
        # the traceback: full copy to /tmp/bench_crash.log, compact
        # last-line JSON to stdout so the round record shows the error
        # instead of silence.
        import traceback
        tb = traceback.format_exc()
        try:
            with open("/tmp/bench_crash.log", "a") as fh:
                fh.write(tb + "\n")
        except OSError:
            pass
        print(json.dumps({"metric": "point_lookup_throughput",
                          "error": tb.strip().splitlines()[-1][:300],
                          "crash_log": "/tmp/bench_crash.log"},
                         separators=(",", ":")))
        raise
