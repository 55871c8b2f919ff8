"""Q3 geometry-intersects N-vs-4N scaling bench.

Runs tools/submit_q3.py (fresh JVM per leg, -Xms pre-touch,
steady-state best-of-3, interleaved iterations — the scaling_bench
methodology) at local[N] and local[4N] on the SAME deterministic WKT
probe lattice over the reference-density boundary set, asserting
bit-exact cross-leg equality of the result checksums (row count, hit
hash), and writes a Q3 block into BENCH/BASELINE.md with throughput at
both levels plus scaling efficiency. The measured plan is the r4
broadcast-index refine — zero shuffle Exchanges, so this leg is the
purest map-parallel scaling evidence in the matrix.

Usage: python tools/q3_bench.py [n_small] [n_probes] [iters] [base_res]
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
BEGIN = "<!-- Q3_BENCH_BEGIN (tools/q3_bench.py rewrites this block) -->"
END = "<!-- Q3_BENCH_END -->"


def run_q3(cpus: int, n_probes: int, base_res: int) -> dict:
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
             os.path.join(REPO, "tools", "submit_q3.py"),
             str(n_probes), str(base_res)],
            capture_output=True, text=True, cwd=neutral_cwd,
            timeout=3600, env=env,
        )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"spark-submit failed:\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main():
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    n_probes = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    iters = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    base_res = int(sys.argv[4]) if len(sys.argv) > 4 else 13

    small = big = None
    for _ in range(iters):  # interleave so both legs sample comparable hosts
        s = run_q3(n_small, n_probes, base_res)
        b = run_q3(n_small * 4, n_probes, base_res)
        for key in ("rows", "hit_hash"):
            assert s[key] == b[key], \
                f"checksum {key} differs across legs: {s[key]} vs {b[key]}"
        if small is None:
            small, big = s, b
            continue
        for best, cand in ((small, s), (big, b)):
            if cand["sec"] < best["sec"]:
                best.update(cand)
    eff = big["throughput"] / small["throughput"] / 4.0
    result = {"N": small, "4N": big, "scaling_efficiency": round(eff, 3),
              "n_probes": n_probes, "base_res": base_res}
    print(json.dumps(result))

    block = f"""{BEGIN}
## Q3 geometry-intersects scaling (broadcast-index refine)

`SpatialEngine.query_geometry` (≙ the reference's QueryGeometry) over
the reference-density set (3,502 nested features,
base_res={base_res}): {n_probes:,} WKT probes — a lattice cycling
rect / line / diamond, each ~0.15° across, spanning 1° beyond the
bbox so rect-overlap, segment-crossing, containment and miss regimes
all fire. The measured plan is the r4 broadcast-index refine: ONE
mapInPandas, ZERO shuffle Exchanges (plan-audited) — probes stream
unshuffled against the pre-decoded boundary + interior CSRs. Fresh
JVM per leg, full untimed warm pass, steady-state best-of-3,
interleaved N/4N iterations:

| config | elapsed (s) | probes/s | membw (GB/s) | all runs (sec @ steal%) |
|---|---|---|---|---|
| local[{small['cpus']}] (N) | {small['sec']} | {small['throughput']:,.0f} | {small.get('membw_gbps', 'n/a')} | {_fmt_runs(small)} |
| local[{big['cpus']}] (4N) | {big['sec']} | {big['throughput']:,.0f} | {big.get('membw_gbps', 'n/a')} | {_fmt_runs(big)} |

**Q3 scaling efficiency = {eff:.3f}** (target ≥ 0.8). Cross-leg
checksums asserted bit-exact before this table is written:
{big['rows']:,} (probe, region) hits, hit hash {big['hit_hash']} —
the hit set is partitioning-independent, so a parallelism level
cannot change it without a real kernel bug.
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
