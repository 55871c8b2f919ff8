"""Overlay-area join N-vs-4N scaling bench over the dense boundary set.

Runs tools/submit_overlay.py (fresh JVM per leg, -Xms pre-touch,
steady-state best-of-3, interleaved iterations — the scaling_bench
methodology) at local[N] and local[4N] on the SAME deterministic
window stream over the reference-density fixture (3,502 nested
prov/city/district features), and writes an OVERLAY block into
BENCH/BASELINE.md recording throughput at both parallelism levels plus
scaling efficiency — the two-cluster-size evidence for the overlay
operator.

Correctness is cross-checked structurally per leg AND across legs:
within a leg the per-deep intersection-area sums must agree to 1e-9
relative (the dense fixture is a watertight 3-level partition, so
district areas ≡ city areas ≡ province areas ≡ total window area for
interior windows); across legs the per-deep pair COUNTS must match
exactly and areas to 1e-9 relative (summation order differs with
parallelism).

Usage: python tools/overlay_bench.py [n_small] [windows] [iters] [base_res]
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
BEGIN = "<!-- OVERLAY_BENCH_BEGIN (tools/overlay_bench.py rewrites this block) -->"
END = "<!-- OVERLAY_BENCH_END -->"


def run_overlay(cpus: int, windows: int, base_res: int) -> dict:
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
             os.path.join(REPO, "tools", "submit_overlay.py"),
             str(windows), str(base_res)],
            capture_output=True, text=True, cwd=neutral_cwd,
            timeout=3600, env=env,
        )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"spark-submit failed:\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def _check(leg: dict) -> None:
    areas = [leg["area_by_deep"][k] for k in sorted(leg["area_by_deep"])]
    lo, hi = min(areas), max(areas)
    assert hi - lo <= 1e-9 * max(abs(hi), 1.0), \
        f"watertight invariant broken: per-deep areas {areas}"


def _cross_check(a: dict, b: dict) -> None:
    assert a["pairs_by_deep"] == b["pairs_by_deep"], \
        f"pair counts differ across legs: {a['pairs_by_deep']} vs {b['pairs_by_deep']}"
    for k in a["area_by_deep"]:
        x, y = a["area_by_deep"][k], b["area_by_deep"][k]
        assert abs(x - y) <= 1e-9 * max(abs(x), 1.0), \
            f"area differs across legs at deep {k}: {x} vs {y}"


def main():
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    windows = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    iters = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    base_res = int(sys.argv[4]) if len(sys.argv) > 4 else 9

    small = big = None
    for _ in range(iters):  # interleave so both legs sample comparable hosts
        s = run_overlay(n_small, windows, base_res)
        b = run_overlay(n_small * 4, windows, base_res)
        for leg in (s, b):
            _check(leg)
        _cross_check(s, b)
        if small is None:
            small, big = s, b
            continue
        for best, cand in ((small, s), (big, b)):
            if cand["sec"] < best["sec"]:
                best.update(cand)
    eff = big["throughput"] / small["throughput"] / 4.0
    total_pairs = sum(big["pairs_by_deep"].values())
    result = {"N": small, "4N": big,
              "scaling_efficiency": round(eff, 3),
              "windows": windows, "base_res": base_res,
              "pairs_total": total_pairs}
    print(json.dumps(result))

    block = f"""{BEGIN}
## Overlay-area join scaling (zonal window × region exact areas)

`overlay.overlay_rect_area` over the reference-density boundary set
(3,502 nested prov/city/district features, 732k ring points,
base_res={base_res}): {windows:,} windows of 0.25–0.75° per side, each
returning the EXACT intersection area with every overlapping region at
all 3 admin levels ({total_pairs:,} (window, region) pairs). Fresh JVM
per leg, full untimed warm pass, steady-state best-of-3, interleaved
N/4N iterations:

| config | elapsed (s) | windows/s | pairs/s | membw (GB/s) | all runs (sec @ steal%) |
|---|---|---|---|---|---|
| local[{small['cpus']}] (N) | {small['sec']} | {small['throughput']:,.0f} | {total_pairs/small['sec']:,.0f} | {small.get('membw_gbps', 'n/a')} | {_fmt_runs(small)} |
| local[{big['cpus']}] (4N) | {big['sec']} | {big['throughput']:,.0f} | {total_pairs/big['sec']:,.0f} | {big.get('membw_gbps', 'n/a')} | {_fmt_runs(big)} |

**Overlay scaling efficiency = {eff:.3f}** (target ≥ 0.8). Per-leg
watertight check: district ≡ city ≡ province ≡ total window area sums
to 1e-9 relative (the fixture is a 3-level exact partition); cross-leg
check: pair counts identical, areas equal to 1e-9 relative (summation
order is the only difference) — both asserted by the bench before this
table is written. base_res {base_res} is throughput-optimal for
windows of this span (measured 9 ≈ 8 > 10 ≫ 13; coarse cover cells win
because the CSR clip kernel amortizes boundary tiles better than the
cover join amortizes 16× more interior rows).
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
