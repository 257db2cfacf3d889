"""Small pure helpers: percentiles, failure tally, metric-name rules.

No Spark, no I/O — unit-tested in perfbench/tests/test_helpers.py.
"""

from __future__ import annotations

import math
import re
import statistics

# BENCHMARK.json naming rules; the tests hold every metric the runner
# prints to them
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

# a reported percentile keeps at least this many samples beyond it
MIN_BEYOND = 10


def valid_name(name: str) -> bool:
    return bool(NAME_RE.fullmatch(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.fullmatch(unit))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least q% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile {q} outside (0, 100]")
    xs = sorted(values)
    return xs[max(1, math.ceil(q / 100.0 * len(xs))) - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of n samples lie strictly above the nearest-rank q-th
    percentile's rank."""
    return n - max(1, math.ceil(q / 100.0 * n))


def reportable(n: int, q: float, min_beyond: int = MIN_BEYOND) -> bool:
    return samples_beyond(n, q) >= min_beyond


def median(values) -> float:
    return float(statistics.median(values))


class Tally:
    """Counts attempted and failed operations of one run. A failure keeps
    a short reason so the run can print what went wrong."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(what)
        return ok

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def interval_union(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def clip(intervals, lo: float, hi: float):
    """Intervals cut to the window [lo, hi]; empty pieces dropped."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]
