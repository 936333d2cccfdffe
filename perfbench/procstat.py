"""Process-tree and host counters read from /proc, plus the JVM's own
compiler and collector times read through the py4j gateway.

The benchmark process is the root of its tree: the driver JVM and the
Python workers the JVM forks are its descendants, so CPU and memory of
the whole engine are sums over that tree.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # fields after the parenthesised command name (which may hold spaces)
    return s[s.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of the live tree, plus what each
    live process has collected from children that already ended."""
    ticks = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with pages shared between
    processes (the forked Python workers share most of theirs with the
    worker daemon) split among the sharers, so a sum over the tree
    counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb() -> float:
    return sum(_pss_kb(p) for p in tree_pids()) / 1024.0


class PeakMemory:
    """Samples the tree's summed PSS on a background thread. ``take``
    returns the peak since the previous ``take``. Use as a context
    manager around the measured work."""

    interval_s = 0.25

    def __init__(self):
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        mb = tree_pss_mb()
        with self._lock:
            self._peak = max(self._peak, mb)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def take(self) -> float:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0.0
        return peak

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def host_cpu_ticks() -> tuple[int, int]:
    """(steal ticks, total ticks) summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def load_avg_1m() -> float:
    return os.getloadavg()[0]


def jvm_times_ms(spark) -> tuple[float, float]:
    """(JIT compilation ms, GC collection ms) of the driver JVM since it
    started, read through the session's py4j gateway."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    jit = float(mf.getCompilationMXBean().getTotalCompilationTime())
    gc = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
    return jit, float(gc)


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's record."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK
