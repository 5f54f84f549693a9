"""Pure helpers: percentiles, the tail rule, interval arithmetic and
metric-name validation. No Spark, so the benchmark's own tests run fast."""

from __future__ import annotations

import math
import re
import statistics

#: candidate tail percentiles, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
#: the tail percentile must leave at least this many samples above it
TAIL_MIN_BEYOND = 10

_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_metric_name(name: str) -> bool:
    """Names start with a letter or digit and use only ``[A-Za-z0-9_.-]``,
    at most 64 characters."""
    return _NAME_RE.fullmatch(name) is not None


def _rank(pct: float, n: int) -> int:
    """1-based nearest rank; rounding first keeps ``99.9% of 10000`` at
    9990 instead of a float-noise 9991."""
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``
    percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(pct, len(xs)) - 1]


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least ``TAIL_MIN_BEYOND``
    samples strictly above its nearest rank. Below ``2 * TAIL_MIN_BEYOND``
    samples no tail exists and the median (50) is returned, so the
    reported percentile always says what the number is."""
    best = TAIL_LADDER[0]
    for pct in TAIL_LADDER:
        if n - _rank(pct, n) >= TAIL_MIN_BEYOND:
            best = pct
    return best


def latency_summary(values) -> dict:
    """``p50``, ``tail`` (value at :func:`tail_percentile`), ``tail_pct``
    and ``n`` of a latency sample."""
    xs = list(values)
    pct = tail_percentile(len(xs))
    p50 = statistics.median(xs)
    return {
        "p50": p50,
        "tail": p50 if pct == TAIL_LADDER[0] else percentile(xs, pct),
        "tail_pct": pct,
        "n": len(xs),
    }


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def covered_within(window, intervals) -> float:
    """Length of ``window = (start, end)`` covered by ``intervals``."""
    ws, we = window
    return union_length(
        (max(s, ws), min(e, we)) for s, e in intervals if e > ws and s < we
    )


def uncovered_within(window, intervals) -> float:
    """Length of ``window`` NOT covered by ``intervals``: a span's self
    time (children as intervals) or its driver time (Spark jobs as
    intervals)."""
    return (window[1] - window[0]) - covered_within(window, intervals)
