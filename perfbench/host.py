"""Host-side measurements: peak resident memory of the benchmark's process
tree (driver, JVM, Python workers) and host noise from /proc/stat."""

from __future__ import annotations

import os
import re
import threading

# "... Pause Young (Normal) (G1 Evacuation Pause) 1234M->567M(4096M) 3.2ms";
# Remark and Cleanup pauses free nothing, so only collections count
_GC_SIZES = re.compile(r"Pause (?:Young|Full).* (\d+)([KMG])->(\d+)([KMG])\(\d+[KMG]\)")
_MB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    """Resident memory of `pid` and its descendants. Python workers are
    forked from one daemon and share its pages, so each process counts
    its proportional share (Pss) rather than its full resident set."""
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used by `pid` and its descendants,
    including exited children they have reaped. Time the hypervisor
    steals from the host is not in it."""
    ticks = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def gc_heap_mb(path: str) -> dict:
    """Heap occupancy from a `-Xlog:gc` file: the highest seen before a
    collection and the highest left after one (0 without collections).
    The second is the peak of what the heap still held at a collection."""
    before = after = 0.0
    try:
        with open(path) as fh:
            for line in fh:
                m = _GC_SIZES.search(line)
                if m:
                    before = max(before, int(m[1]) * _MB[m[2]])
                    after = max(after, int(m[3]) * _MB[m[4]])
    except OSError:
        pass
    return {"before_gc_mb": before, "after_gc_mb": after}


def cpu_times() -> list[int]:
    """Aggregate jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def cpu_noise(before: list[int], after: list[int]) -> dict:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {
        "busy_pct": 100.0 * (total - d[3] - d[4]) / total,
        "steal_pct": 100.0 * d[7] / total,
    }


class RssSampler:
    """Samples the process tree's resident set every `interval` seconds
    on a daemon thread until `stop`; `peak_mb` is the maximum seen."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval):
                return

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)
