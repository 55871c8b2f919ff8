"""Host-load self-measurement for benchmarks.

This sandbox is a Firecracker guest on a shared host: CPU steal bursts
inflate wall-clock timings unpredictably (VERDICT r2 "what's wrong" #1
— the round-2 bench record mis-reported in both directions because
runs carried no evidence of host conditions). Every timed run now
records the guest-wide steal%% over its own window, so a reader can
separate engine regressions from host noise without re-running.
"""
from __future__ import annotations

import os
import time

#: glibc malloc tunables for every process tree that runs Arrow
#: kernels. Without them, numpy's large temporaries go through
#: mmap/munmap on every allocate/free; on this Firecracker guest the
#: resulting page-fault churn serializes across concurrent Python
#: workers (measured: the DP kernel fell from 2.5M to 0.42M verts/s
#: PER WORKER going 1→8 workers; with the thresholds raised workers
#: hold their heap and stay at 2.0–2.9M — a 6× parallel-scaling
#: recovery, reproduce via /tmp-style mp.Pool probe). The cost is
#: each worker retaining its peak heap (~tens of MB here). These must
#: be in the environment BEFORE the JVM (and hence its forked Python
#: workers) starts — glibc reads them at process startup.
MALLOC_TUNING = {
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
}


def apply_malloc_tuning() -> None:
    """setdefault MALLOC_TUNING into os.environ. Call before creating
    the SparkSession (the JVM inherits the driver env; local-mode
    Python workers fork from the JVM)."""
    for k, v in MALLOC_TUNING.items():
        os.environ.setdefault(k, v)


def driver_memory_conf() -> dict[str, str]:
    """Driver JVM memory for a benchmark session, sized from the host's
    MemTotal: a heap (-Xmx) of a third of it, 2-90 GB, of which 2/5, at
    most 24 GB, is committed up front (-Xms with AlwaysPreTouch). The
    pre-touch exists because lazy G1 heap growth under page faulting
    cost a measured 65-127 s on the first heap-hungry run (see
    tools/scaling_bench.py); the sizes follow the host because a fixed
    -Xms24g cannot even be committed on a 16 GB host. Pass the items as
    SparkSession `.config`s, or to spark-submit through
    `driver_submit_args`."""
    with open("/proc/meminfo") as f:
        mem_g = int(f.readline().split()[1]) / 2**20
    heap = max(2, min(90, int(mem_g / 3)))
    return {
        "spark.driver.memory": f"{heap}g",
        "spark.driver.extraJavaOptions":
            f"-Xms{max(1, min(24, heap * 2 // 5))}g -XX:+AlwaysPreTouch",
    }


def driver_submit_args() -> list[str]:
    """`driver_memory_conf` as spark-submit `--conf` arguments."""
    return [a for k, v in driver_memory_conf().items()
            for a in ("--conf", f"{k}={v}")]


def psi_snapshot() -> dict:
    """Cumulative pressure-stall totals (µs) from /proc/pressure: the
    'full' lines for cpu/io/memory. Empty dict if PSI is unavailable.
    Steal%% misses two real host effects this catches: virtio-disk
    stalls (io.full) and memory reclaim (memory.full)."""
    out = {}
    for kind in ("cpu", "io", "memory"):
        try:
            with open(f"/proc/pressure/{kind}") as f:
                for line in f:
                    if line.startswith("full"):
                        out[kind] = int(line.rsplit("total=", 1)[1])
        except (OSError, ValueError, IndexError):
            pass
    return out


def psi_stall_sec(before: dict, after: dict) -> dict:
    """Per-kind full-stall seconds between two psi snapshots."""
    return {k: round((after[k] - before[k]) / 1e6, 2)
            for k in after if k in before}


_BW_BUFS: list | None = None


def membw_probe_gbps(mb: int = 64, threads: int = 4, reps: int = 4) -> float:
    """Guest memory-bandwidth probe: `threads` concurrent numpy
    in-place scales (GIL released) over buffers far beyond LLC;
    returns aggregate read+write GB/s. The host's memory-bandwidth
    contention shows up in NEITHER /proc/stat steal nor PSI, yet costs
    up to ~2× on timed runs — a probe value recorded next to each leg
    lets a reader see 'slow window' vs 'engine regression' directly.
    Buffers are cached module-level: only the first call pays the
    (slow-on-this-guest) page faulting, later calls cost ~0.1s."""
    global _BW_BUFS
    try:
        from concurrent.futures import ThreadPoolExecutor

        import numpy as np

        fresh = _BW_BUFS is None or len(_BW_BUFS) != threads
        if fresh:
            _BW_BUFS = [np.ones(mb * 131072, dtype=np.float64)
                        for _ in range(threads)]  # mb MiB each

        def scale(a):
            a *= 1.0001

        with ThreadPoolExecutor(threads) as ex:
            if fresh:
                list(ex.map(scale, _BW_BUFS))  # untimed page-fault pass
            t0 = time.perf_counter()
            for _ in range(reps):
                list(ex.map(scale, _BW_BUFS))
            dt = time.perf_counter() - t0
        return round(2 * reps * threads * _BW_BUFS[0].nbytes / dt / 1e9, 1)
    except Exception:
        return -1.0


def cpu_snapshot() -> tuple[int, int]:
    """(total_jiffies, steal_jiffies) from /proc/stat's cpu line."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(v) for v in parts[1:]]
        return sum(vals), vals[7] if len(vals) > 7 else 0
    except (OSError, ValueError, IndexError):
        return (0, 0)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Steal%% of total CPU time between two snapshots (0.0 if the
    window is empty or /proc/stat was unreadable)."""
    dt = after[0] - before[0]
    ds = after[1] - before[1]
    if dt <= 0:
        return 0.0
    return round(100.0 * ds / dt, 2)


class TimedRuns:
    """Collect (elapsed_sec, steal_pct) per run; expose best + detail."""

    def __init__(self) -> None:
        self.secs: list[float] = []
        self.steals: list[float] = []
        self.stalls: list[dict] = []

    def run(self, fn):
        snap = cpu_snapshot()
        psi0 = psi_snapshot()
        t0 = time.time()
        result = fn()
        dt = time.time() - t0
        self.secs.append(round(dt, 3))
        self.steals.append(steal_pct(snap, cpu_snapshot()))
        self.stalls.append(psi_stall_sec(psi0, psi_snapshot()))
        return result

    @property
    def best(self) -> float:
        return min(self.secs)

    def detail(self) -> dict:
        return {"runs_sec": self.secs, "runs_steal_pct": self.steals,
                "runs_stall_sec": self.stalls}
