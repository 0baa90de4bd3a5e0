"""The benchmark's arithmetic, kept free of Spark so it can be unit-tested.

* ``tail`` — the highest percentile of a fixed ladder that still has at
  least ten samples beyond it (fewer samples give no tail at all).
* ``covered`` / ``self_times`` — interval unions, and span self time =
  duration minus the part of it that child spans cover.
* ``driver_seconds`` — wall minus the stage critical path, where the
  critical path is the union of stage intervals (time when at least one
  stage runs); the remainder is driver-only time (planning, Python,
  commits, collects).
* ``vm_hwm_mb`` — peak resident set size from ``/proc/<pid>/status``.
"""

from __future__ import annotations

import math
from collections import defaultdict

#: percentiles considered for a tail, lowest first
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return xs[rank - 1]


def tail(values) -> tuple[float, float] | None:
    """``(p, value)`` for the highest ladder percentile with at least
    ``MIN_BEYOND`` samples ranked beyond it, or None when even the
    median has fewer."""
    n = len(values)
    best = None
    for p in LADDER:
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= MIN_BEYOND:
            best = (p, percentile(values, p))
    return best


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """Self time per span id.  ``spans`` are dicts with ``id``,
    ``parent`` (id or None), ``start`` and ``end``; a child's interval
    is clipped to its parent's before the union is taken, so
    overlapping children (threads) are not double-subtracted."""
    by_id = {s["id"]: s for s in spans}
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] in by_id:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids[s["id"]]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - covered(clipped)
    return out


def driver_seconds(wall: tuple[float, float], stages) -> tuple[float, float]:
    """``(driver_s, critical_path_s)`` for a window ``wall = (start,
    end)`` and stage ``(submitted, completed)`` intervals, both clipped
    to the window."""
    w0, w1 = wall
    clipped = [(max(s, w0), min(e, w1)) for s, e in stages]
    path = covered(clipped)
    return (w1 - w0) - path, path


def vm_hwm_mb(status_text: str) -> float:
    """Peak RSS (``VmHWM``) in MiB from the text of /proc/<pid>/status."""
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            value, unit = line.split()[1:3]
            if unit != "kB":
                raise ValueError(f"unexpected VmHWM unit {unit!r}")
            return int(value) / 1024
    raise ValueError("no VmHWM line")


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM over ``pids`` (the driver's Python process and its
    JVM); a pid that already exited contributes nothing."""
    total = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                total += vm_hwm_mb(fh.read())
        except FileNotFoundError:
            continue
    return total
