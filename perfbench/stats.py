"""Pure helpers: percentiles, span self-time, error counting, metric names.

Nothing here imports Spark, so the helpers are testable on their own
(``python3 -m pytest perfbench/tests``).
"""

from __future__ import annotations

import math
import re
from collections.abc import Iterable, Sequence
from dataclasses import dataclass

METRIC_NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# Candidate tail percentiles, highest last.
TAIL_LADDER = (50.0, 60.0, 70.0, 75.0, 80.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int, ladder: Sequence[float] = TAIL_LADDER,
                    min_beyond: int = MIN_BEYOND) -> float:
    """Highest percentile of ``ladder`` that leaves at least
    ``min_beyond`` of ``n`` samples above it; the median when even that
    leaves fewer."""
    best = ladder[0]
    for p in ladder:
        # in hundredths, so that 100 samples leave exactly 10 beyond p90
        if n * (100.0 - p) >= min_beyond * 100.0 - 1e-6:
            best = max(best, p)
    return best


def weighted_percentile(points: Iterable[tuple[float, float]],
                        p: float) -> float:
    """Percentile of ``(value, weight)`` points: the smallest value whose
    cumulative weight reaches ``p`` percent of the total."""
    pts = sorted(points)
    total = sum(w for _, w in pts)
    if total <= 0:
        raise ValueError("weighted percentile of no weight")
    goal = total * p / 100.0
    acc = 0.0
    for v, w in pts:
        acc += w
        if acc >= goal:
            return v
    return pts[-1][0]


def uniform_points(lo: float, hi: float, weight: float,
                   k: int = 100) -> list[tuple[float, float]]:
    """``k`` equal-weight points standing for ``weight`` samples spread
    evenly over ``[lo, hi]``."""
    step = (hi - lo) / k
    return [(lo + (i + 0.5) * step, weight / k) for i in range(k)]


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None
    op_id: str | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: Sequence[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover
    (children clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        clipped = [
            (max(lo, s.start), min(hi, s.end))
            for lo, hi in kids.get(i, [])
            if min(hi, s.end) > max(lo, s.start)
        ]
        out.append(s.duration - _covered(clipped))
    return out


def error_rate(attempted: int, failed: int) -> float:
    """Failed or mismatched operations over operations attempted."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted


def check_metric_names(names: Iterable[str]) -> None:
    for n in names:
        if not METRIC_NAME_RE.fullmatch(n) or len(n) > 64:
            raise ValueError(f"bad metric name {n!r}")


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB)\b")


def parse_size_total(text: str) -> int:
    """Bytes from a Spark SQL size-metric string. Per-task metrics read
    ``"total (min, med, max ...)\\n12.0 KiB (1.0 KiB, ...)"``; driver
    metrics read ``"12.0 KiB"``. The first size is the total."""
    m = _SIZE_RE.search(text or "")
    if not m:
        return 0
    return int(float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)])
