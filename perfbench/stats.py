"""Pure helpers: percentiles, spreads, drift, interval arithmetic and
metric-name validation. No Spark here, so the helper tests run alone."""

from __future__ import annotations

import math
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
# Tail percentiles tried from the top; a percentile is reportable only
# when at least MIN_BEYOND samples lie above it.
TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def check_metric_name(name: str) -> str:
    if not METRIC_NAME.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def rank_of(n: int, pct: float) -> int:
    """1-based nearest-rank index of the ``pct`` percentile of n samples."""
    return max(1, math.ceil(pct / 100.0 * n))


def samples_beyond(n: int, pct: float) -> int:
    return n - rank_of(n, pct)


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile; refuses a percentile with fewer than
    MIN_BEYOND samples beyond it."""
    if samples_beyond(len(values), pct) < MIN_BEYOND:
        raise ValueError(f"p{pct:g} of {len(values)} samples has < {MIN_BEYOND} beyond it")
    return sorted(values)[rank_of(len(values), pct) - 1]


def highest_tail(n: int) -> float | None:
    """The highest candidate percentile n samples can support."""
    for pct in TAIL_CANDIDATES:
        if samples_beyond(n, pct) >= MIN_BEYOND:
            return pct
    return None


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def iqr_share(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def drift(values: list[float]) -> float:
    """Median of the last quarter over median of the first quarter,
    minus one, for samples in time order (0 = flat window)."""
    q = len(values) // 4
    if q < 1:
        return 0.0
    first, last = median(values[:q]), median(values[-q:])
    return last / first - 1.0 if first else 0.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
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


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in children if e > start and s < end]
    return (end - start) - union_length(clipped)
