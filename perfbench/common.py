"""Helpers shared by the workloads: percentiles, memory, run context."""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field


def pctl(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the k-th smallest sample, k = ceil(p·n).

    For n=100 that is s[49] for p50 and s[94] for p95 (0-based); taking
    int(p·n) instead indexes one rank too high."""
    if not samples:
        raise ValueError("percentile of an empty sample")
    s = sorted(samples)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def _children(pid: int) -> list[int]:
    """Every live descendant of ``pid``, read from /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status(pid: int) -> dict[str, str]:
    try:
        with open(f"/proc/{pid}/status") as fh:
            return dict(line.rstrip("\n").split(":\t", 1) for line in fh if ":\t" in line)
    except OSError:
        return {}


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this Python driver plus the
    driver JVM it launched, in MiB.  Python worker processes come and
    go with tasks and are left out."""
    me = os.getpid()
    kb = 0
    for pid in [me] + [p for p in _children(me) if _status(p).get("Name") == "java"]:
        kb += int(_status(pid).get("VmHWM", "0 kB").split()[0])
    return kb / 1024.0


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two readings that the hypervisor gave
    to other guests: run-to-run noise the benchmark cannot remove."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8]))


@dataclass
class Outcome:
    """Operations attempted and failed in one run; a failure is an
    operation that raised, answered with an error, or returned a wrong
    result."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)


@dataclass
class RunContext:
    """What a workload gets from the entry point."""

    spark: object
    seed: int
    seconds: float
    trace: bool
    work_dir: str  # scratch directory inside the checkout, removed at exit
    data_dir: str  # generated sf0.1 tables
    small_data_dir: str  # generated sf0.01 tables
    out_dir: str  # where span files are written
    outcome: Outcome = field(default_factory=Outcome)
