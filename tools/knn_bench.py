"""kNN point→point join N-vs-4N scaling bench.

Runs tools/submit_knn.py (fresh JVM per leg, -Xms pre-touch,
steady-state best-of-3, interleaved iterations — the scaling_bench
methodology) at local[N] and local[4N] on the SAME deterministic
probe/point lattices, asserting BIT-exact cross-leg equality of the
result checksums (row count, Σd², Σ point_id·rank — all exact dyadic /
integer sums, so parallelism cannot change them), and writes a KNN
block into BENCH/BASELINE.md with throughput at both levels plus
scaling efficiency.

Usage: python tools/knn_bench.py [n_small] [n_probes] [n_points] [iters] [res]
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

from scaling_bench import (
    APPEND_MARKER, _fmt_runs, build_zip, driver_submit_args, MALLOC_TUNING,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BEGIN = "<!-- KNN_BENCH_BEGIN (tools/knn_bench.py rewrites this block) -->"
END = "<!-- KNN_BENCH_END -->"


def run_knn(cpus: int, n_probes: int, n_points: int, res: int) -> dict:
    zip_path = build_zip()
    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(sys.executable), "spark-submit")
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", LANG="C.UTF-8",
               **MALLOC_TUNING)  # see hostload.MALLOC_TUNING: worker
    # page-fault churn serialized concurrent Arrow kernels on this guest
    with tempfile.TemporaryDirectory() as neutral_cwd:
        out = subprocess.run(
            [spark_submit,
             "--master", f"local[{cpus}]",
             "--conf", f"spark.sql.shuffle.partitions={cpus}",
             "--conf", "spark.ui.enabled=false",
             "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=65536",
             *driver_submit_args(),
             "--py-files", zip_path,
             os.path.join(REPO, "tools", "submit_knn.py"),
             str(n_probes), str(n_points), str(res)],
            capture_output=True, text=True, cwd=neutral_cwd,
            timeout=3600, env=env,
        )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"spark-submit failed:\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main():
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    n_probes = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    n_points = int(sys.argv[3]) if len(sys.argv) > 3 else 1_000_000
    iters = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    res = int(sys.argv[5]) if len(sys.argv) > 5 else 12

    small = big = None
    for _ in range(iters):  # interleave so both legs sample comparable hosts
        s = run_knn(n_small, n_probes, n_points, res)
        b = run_knn(n_small * 4, n_probes, n_points, res)
        for key in ("rows", "sum_d2", "sum_pr"):
            assert s[key] == b[key], \
                f"checksum {key} differs across legs: {s[key]} vs {b[key]}"
        if small is None:
            small, big = s, b
            continue
        for best, cand in ((small, s), (big, b)):
            if cand["sec"] < best["sec"]:
                best.update(cand)
    eff = big["throughput"] / small["throughput"] / 4.0
    result = {"N": small, "4N": big,
              "scaling_efficiency": round(eff, 3),
              "n_probes": n_probes, "n_points": n_points, "res": res}
    print(json.dumps(result))

    block = f"""{BEGIN}
## kNN point→point join scaling (ring-expansion rounds)

`knn.knn_point_join` (grid-bucketed ring expansion, one probe-key
shuffle per radius-doubling round, never a cross join): {n_probes:,}
probes × {n_points:,} points on dyadic 1/64° lattices, k=3, bucket
res={res} (measured optimal: round 1 resolves nearly every probe).
Fresh JVM per leg, full untimed warm pass, steady-state best-of-3,
interleaved N/4N iterations:

| config | elapsed (s) | probes/s | membw (GB/s) | all runs (sec @ steal%) |
|---|---|---|---|---|
| local[{small['cpus']}] (N) | {small['sec']} | {small['throughput']:,.0f} | {small.get('membw_gbps', 'n/a')} | {_fmt_runs(small)} |
| local[{big['cpus']}] (4N) | {big['sec']} | {big['throughput']:,.0f} | {big.get('membw_gbps', 'n/a')} | {_fmt_runs(big)} |

**kNN scaling efficiency = {eff:.3f}** (target ≥ 0.8). Cross-leg
checksums asserted bit-exact before this table is written: rows
{big['rows']:,}, Σd² {big['sum_d2']!r}, Σ point_id·rank
{big['sum_pr']} — all exact dyadic / integer sums, so a parallelism
level cannot change them without a real correctness bug.
{END}"""

    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    src = open(path).read() if os.path.exists(path) else APPEND_MARKER + "\n"
    if BEGIN in src and END in src:
        pre, rest = src.split(BEGIN, 1)
        _, post = rest.split(END, 1)
        out = pre + block + post
    elif APPEND_MARKER in src:
        head, tail = src.split(APPEND_MARKER, 1)
        out = head + APPEND_MARKER + "\n\n" + block + "\n" + tail
    else:
        out = src + "\n" + block + "\n"
    with open(path, "w") as f:
        f.write(out)


if __name__ == "__main__":
    main()
