"""Statistics, host context, memory readings and in-memory spans shared by
the workloads. Pure Python: importable without Spark, so the tests run fast."""

from __future__ import annotations

import math
import os
import platform
import statistics
import time
from contextlib import contextmanager

#: the percentile rule: a tail figure must have at least this many samples
#: beyond it, or it is not reported as that percentile
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p``-th percentile of ``n``."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile that still has MIN_BEYOND samples beyond it
    among ``n``; None when even the median lacks them."""
    p = math.floor(100 * (1 - MIN_BEYOND / n)) if n > 0 else 0
    while p >= 50:
        if beyond(n, p) >= MIN_BEYOND:
            return p
        p -= 1
    return None


def summary(values: list[float], tail_p: int) -> dict:
    """Median and a fixed tail percentile of ``values``, with the sample count
    and how many samples lie beyond the tail (the rule needs >= 10)."""
    n = len(values)
    return {
        "n": n,
        "p50": statistics.median(values) if values else 0.0,
        "tail_p": tail_p,
        "tail": percentile(values, tail_p) if values else 0.0,
        "beyond_tail": beyond(n, tail_p) if values else 0,
        "highest_supported_p": tail_percentile(n) if values else None,
    }


def lag_ms(publish_ts: float, due_ts: float) -> float:
    """Open-loop latency of one event: publish time minus the time it was
    DUE to be generated, so a stalled generator or pipeline charges its wait
    to every later event instead of hiding it (coordinated omission)."""
    return (publish_ts - due_ts) * 1000.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def vm_hwm_mb(pid: int) -> float:
    """High-water resident set (VmHWM) of ``pid`` in MB; 0.0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def host_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def cpu_ticks() -> tuple[int, int]:
    """Host-wide (steal, total) CPU ticks from /proc/stat; (0, 0) if
    unreadable. Steal is time the hypervisor ran someone else's work on
    this machine's virtual CPUs."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


def host_context(cores: int) -> dict:
    """Context recorded in every artifact; never used as a gate or retry."""
    import pyspark

    return {
        "nproc": host_cores(),
        "master": f"local[{cores}]",
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "loadavg_before": list(os.getloadavg()),
    }


class Tracer:
    """Spans kept in memory for one run and written out at its end.

    A span is ``{id, parent, name, start, end, attrs}`` with wall-clock
    seconds; every span of a run shares ``run_id``. Disabled tracers record
    nothing, so the untraced runs pay no cost beyond a branch.
    """

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []  # spans entered with span(), innermost last

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "parent": parent, "name": name, "start": start, "end": end, "attrs": attrs}
        )
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the body as one span under the innermost span still open;
        yields its id for child spans."""
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        self._open.append(sid)
        try:
            yield sid
        finally:
            self._open.pop()
            self.spans[sid]["end"] = time.time()

    def self_times(self) -> dict[int, float]:
        """Per span: its duration minus the part of it its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            clipped = [
                (max(a, s["start"]), min(b, s["end"]))
                for a, b in children.get(s["id"], [])
                if min(b, s["end"]) > max(a, s["start"])
            ]
            out[s["id"]] = (s["end"] - s["start"]) - union_length(clipped)
        return out

    def self_time_by_name(self) -> dict[str, float]:
        totals: dict[str, float] = {}
        st = self.self_times()
        for s in self.spans:
            totals[s["name"]] = totals.get(s["name"], 0.0) + st[s["id"]]
        return totals

    def dump(self) -> dict:
        st = self.self_times()
        return {
            "run_id": self.run_id,
            "spans": [dict(s, self_s=st[s["id"]]) for s in self.spans],
            "self_s_by_name": self.self_time_by_name(),
        }
