"""MinHash+LSH near-dup N-vs-4N scaling bench.

Runs tools/submit_dedup.py (fresh JVM per leg, -Xms pre-touch,
steady-state best-of-3, interleaved iterations) at local[N] and
local[4N] on the SAME deterministic synthetic corpus, asserting
bit-exact cross-leg equality of the checksums (pair count, pair hash,
Σ rounded jaccard), and writes a DEDUP block into BENCH/BASELINE.md.
Completes the scaling matrix's LLM-pipeline row: the measured pipeline
is pipeline/minhash.py::near_dup_sql — the SAME SQL the DuckDB-checked
`minhash_lsh_near_dup` gate runs.

Usage: python tools/dedup_bench.py [n_small] [n_docs] [iters]
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
BEGIN = "<!-- DEDUP_BENCH_BEGIN (tools/dedup_bench.py rewrites this block) -->"
END = "<!-- DEDUP_BENCH_END -->"


def run_dedup(cpus: int, n_docs: int) -> dict:
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
             *driver_submit_args(),
             "--py-files", zip_path,
             os.path.join(REPO, "tools", "submit_dedup.py"),
             str(n_docs)],
            capture_output=True, text=True, cwd=neutral_cwd,
            timeout=3600, env=env,
        )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"spark-submit failed:\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main():
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
    iters = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    small = big = None
    for _ in range(iters):  # interleave so both legs sample comparable hosts
        s = run_dedup(n_small, n_docs)
        b = run_dedup(n_small * 4, n_docs)
        for key in ("pairs", "pair_hash", "jacc_sum"):
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
              "n_docs": n_docs}
    print(json.dumps(result))

    block = f"""{BEGIN}
## MinHash+LSH near-dup scaling (the gate pipeline, bigger corpus)

`pipeline/minhash.py::near_dup_sql` — the SAME SQL the DuckDB-checked
`minhash_lsh_near_dup` gate runs (shingle → md5-prefix hash → 16
min-aggregates in ONE group-by pass → 4-band bucket self-join → exact
Jaccard verify; no all-pairs join anywhere) — over {n_docs:,} synthetic
50-word docs in clusters of 8 with within-cluster Jaccard ≈ 0.6-0.75
({big['pairs']:,} verified near-dup pairs). Fresh JVM per leg, full
untimed warm pass, steady-state best-of-3, interleaved N/4N iterations:

| config | elapsed (s) | docs/s | membw (GB/s) | all runs (sec @ steal%) |
|---|---|---|---|---|
| local[{small['cpus']}] (N) | {small['sec']} | {small['throughput']:,.0f} | {small.get('membw_gbps', 'n/a')} | {_fmt_runs(small)} |
| local[{big['cpus']}] (4N) | {big['sec']} | {big['throughput']:,.0f} | {big.get('membw_gbps', 'n/a')} | {_fmt_runs(big)} |

**Dedup scaling efficiency = {eff:.3f}** (target ≥ 0.8). Cross-leg
checksums asserted bit-exact before this table is written: pairs
{big['pairs']:,}, pair hash {big['pair_hash']}, Σ round(jaccard·10⁴)
{big['jacc_sum']:,} — integer sums over exact shingle-count ratios, so
a parallelism level cannot change them without a real correctness bug.
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
