"""Host record for every benchmark output, and the peak-RSS sampler.

Each probe that fails records ``None``, which means "unknown" — never
"quiet".  A memcpy probe that cannot allocate its buffers or import numpy
says nothing about the memory bus, so it must not read as a clean one.
"""

from __future__ import annotations

import ctypes
import os
import platform
import signal
import subprocess
import sys
import threading
import time


def memcpy_gbps(mb: int = 64, reps: int = 3) -> float | None:
    """Single-core pre-touched memcpy bandwidth in GB/s (best of ``reps``)."""
    try:
        import numpy as np

        a = np.ones(mb * 1_000_000 // 8)
        b = np.empty_like(a)
    except (ImportError, MemoryError):
        return None
    np.copyto(b, a)  # fault both buffers in before timing
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        np.copyto(b, a)
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(mb / 1000 / best, 2)


_BURN = "import sys,time\ne=time.perf_counter()+float(sys.argv[1])\nwhile time.perf_counter()<e: pass"


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_pct(seconds: float = 0.5) -> float | None:
    """Share of CPU time the hypervisor stole while every core was busy.
    Steal only shows under demand, so the window saturates the cores.
    The burners are plain child processes, waited for before returning: a
    multiprocessing pool would leave its resource tracker running."""
    procs = []
    try:
        n = os.cpu_count() or 1
        s0 = _cpu_times()
        procs = [subprocess.Popen([sys.executable, "-c", _BURN, str(seconds)])
                 for _ in range(n)]
        for p in procs:
            p.wait()
        s1 = _cpu_times()
    except (OSError, ValueError, IndexError):
        return None
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()
    d = [b - a for a, b in zip(s0, s1)]
    if len(d) < 8 or sum(d) <= 0:
        return None
    return round(100.0 * d[7] / sum(d), 2)


def ram_bytes() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        return None
    return None


def probe() -> dict:
    """memcpy and steal readings, taken outside every timed region."""
    return {"memcpy_gbps": memcpy_gbps(), "steal_pct": steal_pct()}


def record(spark=None) -> dict:
    """nproc, RAM and versions; Spark and Java come from the live session."""
    rec = {
        "nproc": os.cpu_count(),
        "ram_bytes": ram_bytes(),
        "python": platform.python_version(),
        "spark": None,
        "java": None,
    }
    if spark is not None:
        rec["spark"] = spark.version
        rec["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    return rec


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def become_subreaper() -> None:
    """Make orphaned descendants (Python workers whose JVM has gone) this
    process's children, so ``reap_descendants`` can find and wait for them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_descendants(grace: float = 10.0) -> list[int]:
    """Wait up to ``grace`` seconds for every descendant to end, then kill
    the rest and wait for them too.  Returns the pids that had to be killed."""
    me = os.getpid()
    deadline = time.monotonic() + grace
    while True:
        _reap()
        live = _descendants(me)
        if not live or time.monotonic() >= deadline:
            break
        time.sleep(0.1)
    for pid in live:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10.0
    while _descendants(me) and time.monotonic() < deadline:
        _reap()
        time.sleep(0.05)
    _reap()
    return live


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the summed RSS of this process's descendants (the JVM and
    the Python workers it forks) until stopped; ``peak_mb`` is the largest
    sum seen."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in _descendants(me))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
