"""Host-sized benchmark of the spatial engine.

    python3 perfbench/run.py --workload docs_q1 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the seed's inputs (untimed,
cached under .perfbench_cache/<code hash>/), starts a local Spark session sized to
the host, times the cold setup and then the workload in a closed loop
with one client for --seconds, checks the outputs, and prints one JSON
line last: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones in BENCHMARK.json; with
--trace 1 they are the per-layer ones, and the run's spans go to
.perfbench_out/. See perfbench/README.md for the workloads.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "areacity_query_geometry_spark"
CACHES = os.path.join(ROOT, ".perfbench_cache")
OUT = os.path.join(ROOT, ".perfbench_out")


def code_hash() -> str:
    """Hash of the package's and the benchmark's Python sources. The
    cache (inputs, tile store, recorded checksums) is kept per hash, so
    any code change rebuilds the store and re-records the checksums."""
    h = hashlib.sha256()
    for top in (PACKAGE, os.path.basename(HERE)):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def cache_dir(key: str) -> str:
    """This code's cache directory; other codes' caches are removed."""
    if os.path.isdir(CACHES):
        for name in os.listdir(CACHES):
            path = os.path.join(CACHES, name)
            if name == key:
                continue
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
    path = os.path.join(CACHES, key)
    os.makedirs(path, exist_ok=True)
    return path


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: build the tile store described by this JSON and exit
    p.add_argument("--build-store", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def environment(cache: str) -> None:
    """Everything the JVM and its Python workers inherit, set before
    the session starts: the package on the path, scratch space inside
    the checkout, and the glibc malloc tuning the repo's sessions use."""
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    from areacity_query_geometry_spark import hostload

    hostload.apply_malloc_tuning()


def session(host: dict):
    """local[nproc], driver memory a third of the host's, the session
    settings the repo's own sessions use; Spark defaults otherwise."""
    from pyspark.sql import SparkSession

    n = host["nproc"]
    mem_g = max(2, min(8, int(host["mem_gb"] // 3)))
    tmp = os.environ["TMPDIR"]
    spark = (SparkSession.builder.master(f"local[{n}]")
             .appName("perfbench")
             .config("spark.driver.memory", f"{mem_g}g")
             .config("spark.sql.shuffle.partitions", str(n))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", os.path.join(tmp, "spark"))
             .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it:
    spark.stop() alone leaves the JVM up until this process exits. The
    JVM exits when its stdin closes; it stops its Python workers."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None or gateway.proc is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def build_store(info: dict, host: dict) -> None:
    """Build the checkout's tile store from the GeoJSON (run in a
    process of its own, see ensure_store)."""
    from areacity_query_geometry_spark.sources import tile_store

    spark = session(host)
    try:
        tile_store.load_or_build(spark, info["geojson"], info["store"],
                                 base_res=info["base_res"])
    finally:
        stop(spark)


def ensure_store(info: dict, host: dict, args) -> float:
    """The tile store is built once per code hash (the boundary set has
    no seed), in a child process, so the run that triggers it still
    measures a cold setup; returns the seconds spent building it here,
    or 0. A finished store is marked by a file written after its build."""
    done = info["store"] + ".done"
    if os.path.exists(done):
        return 0.0
    shutil.rmtree(info["store"], ignore_errors=True)
    job = json.dumps({"info": {k: info[k] for k in ("geojson", "store",
                                                   "base_res")},
                      "host": host})
    t0 = time.perf_counter()
    code = subprocess.call(
        [sys.executable, os.path.abspath(__file__), "--workload",
         args.workload, "--seed", str(args.seed), "--seconds",
         str(args.seconds), "--build-store", job],
        stdout=sys.stderr)
    if code != 0:
        raise RuntimeError(f"tile store build failed: exit {code}")
    open(done, "w").close()
    return time.perf_counter() - t0


def repeat_check(run, seed_dir: str, workload: str) -> None:
    """A seed's checksums must repeat exactly from run to run: the
    first run of the seed under this code hash records them, later
    runs compare."""
    got = run.detail.get("checksum")
    if not got:
        return
    path = os.path.join(seed_dir, f"checksum-{workload}.json")
    if os.path.exists(path):
        with open(path) as f:
            want = json.load(f)
        if want != got:
            run.mismatch(f"checksums {got} differ from an earlier run's {want}")
    else:
        with open(path, "w") as f:
            json.dump(got, f)


def main(argv) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if args.build_store:
        job = json.loads(args.build_store)
        environment(os.path.dirname(job["info"]["store"]))
        build_store(job["info"], job["host"])
        return 0
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/: run from the root "
              "of a full checkout", file=sys.stderr)
        return 2
    bench = spec()
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    import procmon

    # every process the run starts, and every process those leave
    # behind, is waited for before the run exits
    procmon.adopt_orphans()
    try:
        return measure(args, bench)
    finally:
        procmon.end_descendants()


def measure(args, bench: dict) -> int:
    key = code_hash()
    cache = cache_dir(key)
    environment(cache)

    import inputs
    import procmon
    import workloads
    from spans import Tracer

    host = procmon.host_shape()
    info = inputs.ensure(cache, args.seed, args.workload)
    info["store"] = os.path.join(cache, f"store-r{info['base_res']}")
    store_build_s = ensure_store(info, host, args)
    tracer = Tracer(bool(args.trace))
    window = procmon.HostWindow()
    t_start = time.perf_counter()
    with procmon.RssSampler() as rss:
        spark = session(host)
        try:
            run = workloads.Run(spark, info, tracer, args.seconds, args.seed)
            try:
                workloads.WORKLOADS[args.workload](run, bool(args.trace))
            except Exception as e:  # counted; the result line still prints
                run.fail("workload", e)
        finally:
            stop(spark)
    hostw = window.close()
    repeat_check(run, info["dir"], args.workload)

    run.layers.update({
        "mem.jvm_peak_rss_mb": rss.jvm_peak_mb,
        "mem.py_workers_sum_peak_rss_mb": rss.workers_sum_peak_mb,
        "host.steal_pct": hostw["steal_pct"],
        "host.psi_full_stall_s": hostw["psi_full_stall_s"],
        "window.probes_per_s": run.wall_rate,
    })
    e2e = {
        "setup_s": run.setup_s,
        "store_bytes_per_input_byte":
            run.detail.get("store_bytes", 0) / info["geojson_bytes"],
        "py_worker_peak_rss_mb": rss.worker_peak_mb,
        "probes_per_cpu_s": run.cpu_rate,
    }
    section = "per_layer" if args.trace else "end_to_end"
    values = {**run.layers, **e2e}
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in bench[section]}

    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "code_hash": key,
        "wall_s": round(time.perf_counter() - t_start, 2),
        "host": {**host, **hostw},
        "fixture": {**info["boundaries"], "base_res": info["base_res"],
                    "geojson_bytes": info["geojson_bytes"],
                    "docs": info.get("docs_shape"),
                    "probes": info.get("probe_shape")},
        "store_build_s": store_build_s,
        "wall_probes_per_s": run.wall_rate,
        "mismatches": run.mismatches, "notes": run.notes[:20],
        **run.detail,
    }
    if args.trace:
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json")
        tracer.write(path, {"detail": detail, "layers": run.layers})
        detail["trace_file"] = os.path.relpath(path, ROOT)
    print("detail " + json.dumps(detail, default=str))
    # nothing was checked when no window round completed
    correct = run.mismatches == 0 and run.window_rounds > 0
    print(json.dumps({"correct": correct,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
