"""Pure helpers of the CDC benchmark: percentiles, epoch kinds, host stamps.

Nothing here imports Spark, so the helpers are testable in milliseconds
(``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import math
import os
import resource

#: a percentile is reported only when at least this many samples lie beyond it
MIN_BEYOND = 10


class UnsupportedPercentile(ValueError):
    """The sample is too small to support the requested percentile."""


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q``-quantile."""
    return n - max(1, math.ceil(q * n))


def percentile(values, q: float, min_beyond: int = MIN_BEYOND) -> float:
    """Nearest-rank ``q``-quantile of ``values`` (0 < q < 1).

    Refuses (``UnsupportedPercentile``) when fewer than ``min_beyond``
    samples lie beyond the rank: a p90 needs at least 100 samples at the
    default, a median at least 20."""
    if not 0 < q < 1:
        raise ValueError(f"q must lie in (0, 1), got {q}")
    xs = sorted(values)
    n = len(xs)
    if n == 0 or beyond(n, q) < min_beyond:
        raise UnsupportedPercentile(
            f"p{q * 100:g} needs {min_beyond} samples beyond it; "
            f"{n} samples are too few"
        )
    return xs[max(1, math.ceil(q * n)) - 1]


def highest_supported(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """Highest whole percentile of an ``n``-sample that keeps ``min_beyond``
    samples beyond it, or None when not even a p1 is supported."""
    for p in range(99, 0, -1):
        if beyond(n, p / 100) >= min_beyond:
            return p
    return None


# ------------------------------------------------------------- epoch kinds
PLAIN = "plain"
PARTIAL = "partial_compaction"
FULL = "full_compaction"


def classify_epoch(before: list, after: list) -> str:
    """Kind of one replay call from ``LakeTable.snapshots`` read before and
    after it.

    A call is ``plain`` when every snapshot it added is an append. Any
    ``overwrite`` (or a snapshot marked ``maintenance``) makes it a
    compacting call: ``full`` when the rewrites together replaced every
    bucket live after the call, ``partial`` otherwise."""
    known = {s.snapshot_id for s in before}
    added = [s for s in after if s.snapshot_id not in known]
    rewrites = [
        s
        for s in added
        if s.operation == "overwrite" or s.summary.get("maintenance")
    ]
    if not rewrites:
        return PLAIN
    replaced = {int(b) for s in rewrites for b in s.summary.get("buckets_replaced", [])}
    live = {int(b) for b, fs in after[-1].files.items() if fs} if after else set()
    return FULL if live and live <= replaced else PARTIAL


# ------------------------------------------------------------- host stamps
def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host's aggregate ``cpu`` line."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    vals = [int(v) for v in fields[1:]]
    # guest/guest_nice are already counted in user/nice
    total = sum(vals[:8])
    steal = vals[7] if len(vals) > 7 else 0
    return steal, total


def steal_fraction(start: tuple[int, int], end: tuple[int, int]) -> float:
    dt = end[1] - start[1]
    return (end[0] - start[0]) / dt if dt > 0 else 0.0


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (``VmHWM``) of a live process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def self_max_rss_kb() -> int:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def driver_mem_mb(total_kb: int) -> int:
    """Driver heap sized to the box: a quarter of RAM, between 1 and 2 GiB
    (the workloads' driver needs well under 1 GiB, and a larger heap only
    lets ``peak_rss_mb`` wander more with GC timing)."""
    return max(1024, min(2048, total_kb // 4 // 1024))


def cpus() -> int:
    return len(os.sched_getaffinity(0))
