"""Douglas–Peucker simplification N-vs-4N scaling bench — the
Arrow-kernel-bound leg of the north-rule roll-up (tools/submit_simplify.py
via fresh spark-submit JVMs, interleaved legs, bit-exact cross-leg
checksum assertion). Writes a SIMPLIFY block into BENCH/BASELINE.md.

Usage: python tools/simplify_bench.py [n_small] [n_verts] [per_line] [iters]
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
BEGIN = "<!-- SIMPLIFY_BENCH_BEGIN (tools/simplify_bench.py rewrites this block) -->"
END = "<!-- SIMPLIFY_BENCH_END -->"


def run_leg(cpus: int, n_verts: int, per_line: int,
            mode: str = "clustered") -> dict:
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
             "--conf", f"spark.sql.shuffle.partitions={cpus * 2}",
             "--conf", "spark.ui.enabled=false",
             "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=1048576",
             *driver_submit_args(),
             "--py-files", zip_path,
             os.path.join(REPO, "tools", "submit_simplify.py"),
             str(n_verts), str(per_line), "5.0", mode],
            capture_output=True, text=True, cwd=neutral_cwd,
            timeout=3600, env=env,
        )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"spark-submit failed:\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main():
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    n_verts = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
    per_line = int(sys.argv[3]) if len(sys.argv) > 3 else 1000
    iters = int(sys.argv[4]) if len(sys.argv) > 4 else 2

    small = big = None
    for _ in range(iters):  # interleave so both legs sample comparable hosts
        s = run_leg(n_small, n_verts, per_line)
        b = run_leg(n_small * 4, n_verts, per_line)
        for key in ("rows", "sum_seq", "sum_lr", "sum_xy"):
            assert s[key] == b[key], \
                f"checksum {key} differs across legs: {s[key]} vs {b[key]}"
        if small is None:
            small, big = s, b
            continue
        for best, cand in ((small, s), (big, b)):
            if cand["sec"] < best["sec"]:
                best.update(cand)
    # one general-layout (shuffle+sort first) reference run at 4N —
    # context row, same checksums
    gen = run_leg(n_small * 4, n_verts, per_line, mode="general")
    for key in ("rows", "sum_seq", "sum_lr", "sum_xy"):
        assert gen[key] == big[key], \
            f"checksum {key} differs clustered vs general: " \
            f"{big[key]} vs {gen[key]}"
    eff = big["throughput"] / small["throughput"] / 4.0
    result = {"N": small, "4N": big, "general_4N": gen,
              "scaling_efficiency": round(eff, 3),
              "n_verts": n_verts, "per_line": per_line}
    print(json.dumps(result))

    block = f"""{BEGIN}
## Douglas–Peucker simplification scaling (Arrow-kernel-bound leg)

`simplify.simplify_lines` over {n_verts:,} vertices in
{n_verts // per_line:,} lines of {per_line}, ε=5°. Headline rows run
the CLUSTERED layout (lines contiguous within partitions — what a
trajectory store's bucketing gives for free) with
assume_clustered=True: ZERO shuffle, so the leg measures the Arrow
hop + the breadth-first cache-chunked DP kernel — the
Python-worker-bound path none of the join-bound legs exercises. The
`general` row pays the operator's repartition + partition sort first;
on this host that 32-byte×n exchange is memory-bandwidth-bound (the
documented ~2× band) and is context, not the scaling criterion.
Fresh JVM per leg, untimed warm pass, steady-state best-of-3,
interleaved N/4N iterations, identical checksums everywhere:

| config | elapsed (s) | verts/s | membw (GB/s) | all runs (sec @ steal%) |
|---|---|---|---|---|
| local[{small['cpus']}] (N, clustered) | {small['sec']} | {small['throughput']:,.0f} | {small.get('membw_gbps', 'n/a')} | {_fmt_runs(small)} |
| local[{big['cpus']}] (4N, clustered) | {big['sec']} | {big['throughput']:,.0f} | {big.get('membw_gbps', 'n/a')} | {_fmt_runs(big)} |
| local[{gen['cpus']}] (general layout) | {gen['sec']} | {gen['throughput']:,.0f} | {gen.get('membw_gbps', 'n/a')} | {_fmt_runs(gen)} |

**Simplify scaling efficiency (clustered) = {eff:.3f}** (target
≥ 0.8). Checksums asserted bit-exact across legs AND layouts before
this table is written: kept rows {big['rows']:,}, Σseq
{big['sum_seq']}, Σ line·rank {big['sum_lr']}, Σ scaled x+y
{big['sum_xy']} — integer sums over the keep-set, which neither
parallelism nor layout can change without a real correctness bug.
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
