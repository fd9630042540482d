"""Measurement helpers: percentiles with a sample-count rule, the peak RSS
of this process tree, and the host's steal and external load."""

from __future__ import annotations

import math
import os
import threading

# A percentile is reported only when at least this many samples lie
# beyond it; with fewer, the tail is one or two unlucky samples.
MIN_BEYOND = 10


def min_samples(q: float) -> int:
    """Fewest samples for which percentile ``q`` (0 < q < 1) has
    ``MIN_BEYOND`` samples beyond it: n * (1 - q) >= MIN_BEYOND."""
    return math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)


def percentile(values, q: float) -> float:
    """Percentile ``q`` (0 <= q <= 1) with linear interpolation between
    closest ranks (numpy's default).  Raises ValueError when the samples
    cannot support it under the ``MIN_BEYOND`` rule; the median needs
    only one sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    if q > 0.5 and len(xs) < min_samples(q):
        raise ValueError(
            f"p{q * 100:g} needs {min_samples(q)} samples "
            f"({MIN_BEYOND} beyond it); got {len(xs)}")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 0.5)


def _tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM Spark starts is one)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_mb() -> float:
    """RSS of this process and its descendants, in MB."""
    total_kb = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class PeakRss:
    """Samples the process tree's RSS every ``interval_s`` on a daemon
    thread; ``peak_mb`` is the largest sum seen.  Use as a context
    manager so the thread is always joined."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        # user nice system idle iowait irq softirq steal
        return [int(x) for x in f.readline().split()[1:9]]


def _tree_ticks() -> int:
    ticks = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime stime cutime cstime are fields 14-17 of stat
        ticks += sum(int(x) for x in fields[11:15])
    return ticks


def _steal_pct(d: list[int]) -> float:
    """Stolen share of busy CPU ticks in a /proc/stat delta ``d``."""
    busy = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return 100.0 * d[7] / busy if busy else 0.0


class Steal:
    """The share of the box's busy CPU time the hypervisor stole between
    construction and ``pct()``.  Steal only accrues while a vCPU wants to
    run, so it is taken over busy time, not wall time."""

    def __init__(self):
        self._t0 = _cpu_ticks()

    def pct(self) -> float:
        return _steal_pct([b - a for a, b in zip(self._t0, _cpu_ticks())])


class HostLoad:
    """What the host did during a run, so a disagreement between runs can
    be attributed: the share of busy CPU the hypervisor stole, the share
    of the box's busy CPU spent outside this process tree, and the load
    average at both ends."""

    def __init__(self):
        self._cpu0 = _cpu_ticks()
        self._own0 = _tree_ticks()
        self._load0 = os.getloadavg()[0]

    def report(self) -> dict:
        d = [b - a for a, b in zip(self._cpu0, _cpu_ticks())]
        busy = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
        own = _tree_ticks() - self._own0
        return {
            "steal_pct_of_busy": round(_steal_pct(d), 2),
            "external_pct_of_busy": (round(100.0 * max(0, busy - d[7] - own)
                                           / busy, 2) if busy else 0.0),
            "loadavg_1m_start": self._load0,
            "loadavg_1m_end": os.getloadavg()[0],
        }
