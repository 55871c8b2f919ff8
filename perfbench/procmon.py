"""/proc sampling from the benchmark process: the peak RSS of the
driver JVM and of every PySpark Python worker, plus host evidence."""
from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

from areacity_query_geometry_spark import hostload


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(kids: dict[int, list[int]], root: int) -> list[int]:
    stack, seen = [root], []
    while stack:
        for c in kids.get(stack.pop(), ()):
            seen.append(c)
            stack.append(c)
    return seen


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of its descendants: one whose
    parent ends first (a Python worker whose JVM has exited) is
    re-parented here rather than to init, so end_descendants can see
    it and wait for it."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def end_descendants(grace: float = 20.0) -> None:
    """Wait until no descendant of this process is left: give them
    `grace` seconds to end on their own, then SIGTERM them and give
    them 10 s more, then SIGKILL them and wait up to 10 s, reaping each
    one that exits."""
    for sig, wait in ((None, grace), (signal.SIGTERM, 10.0),
                      (signal.SIGKILL, 10.0)):
        kids = _descendants(_children(), os.getpid())
        for pid in kids if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while kids and time.monotonic() < deadline:
            _reap()
            kids = _descendants(_children(), os.getpid())
            time.sleep(0.05)
        if not kids:
            return


# HotSpot's JIT compiler threads, as /proc shows their names: their
# CPU is the JVM warming up, not work done for the probes, and it
# swings from run to run
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def cpu_seconds() -> float:
    """User + system CPU seconds of every thread of this process and of
    every live descendant (the JVM and the Python workers), except the
    JIT compiler threads, plus what each has collected from children
    it reaped, so a worker that exits keeps counting. Time the host
    steals from the guest is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid(), *_descendants(_children(), os.getpid())]:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[13]) + int(fields[14])
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
            except OSError:
                continue
            if head.split("(", 1)[1].startswith(JIT_THREADS):
                continue
            fields = tail.split()
            total += int(fields[11]) + int(fields[12])
    return total / tick


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, ValueError, IndexError):
        pass
    return 0.0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class RssSampler:
    """Background thread: every `period` seconds, walk this process's
    descendants and keep the peak RSS of the JVM, of the largest single
    Python worker, and of all Python workers together."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.jvm_peak_mb = 0.0
        self.worker_peak_mb = 0.0
        self.workers_sum_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _classify(pid: int) -> str:
        # not cached: spark-class execs the driver JVM in place of the
        # shell, so a pid's command line changes
        cmd = _cmdline(pid)
        if "java" in cmd.split(" ", 1)[0]:
            return "jvm"
        return "worker" if "pyspark" in cmd and "python" in cmd else "other"

    def sample(self) -> None:
        workers = 0.0
        for pid in _descendants(_children(), os.getpid()):
            kind = self._classify(pid)
            if kind == "other":
                continue
            rss = _rss_mb(pid)
            if kind == "jvm":
                self.jvm_peak_mb = max(self.jvm_peak_mb, rss)
            else:
                self.worker_peak_mb = max(self.worker_peak_mb, rss)
                workers += rss
        self.workers_sum_peak_mb = max(self.workers_sum_peak_mb, workers)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


class HostWindow:
    """Steal% and PSI full-stall seconds over the run's window."""

    def __init__(self) -> None:
        self.cpu0 = hostload.cpu_snapshot()
        self.psi0 = hostload.psi_snapshot()

    def close(self) -> dict:
        stall = hostload.psi_stall_sec(self.psi0, hostload.psi_snapshot())
        return {"steal_pct": hostload.steal_pct(self.cpu0,
                                                hostload.cpu_snapshot()),
                "psi_full_stall_s": round(sum(stall.values()), 3),
                "psi_full_stall_by_kind_s": stall}


def host_shape() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_gb": round(mem_kb / 2**20, 1)}
