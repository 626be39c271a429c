"""Pure statistics and trace arithmetic used by the benchmark."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

TAIL_BEYOND = 10
TRACE_BLOCK = 4


def traced_op(k: int) -> bool:
    """Whether op ``k`` of a traced run is traced: untraced, traced,
    traced, untraced in every block of TRACE_BLOCK ops (ABBA), so over
    whole blocks a linear trend in op latency adds equally to the
    traced and the untraced ops."""
    return k % TRACE_BLOCK in (1, 2)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """The highest whole percentile that still leaves at least
    ``beyond`` of ``n`` samples strictly above its rank, or None when
    ``n`` is too small for any (fewer than ``beyond + 1`` samples)."""
    if n <= beyond:
        return None
    for p in range(99, 0, -1):
        if n - math.ceil(n * p / 100.0) >= beyond:
            return p
    return None


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[int, float] | None:
    """(percentile, value) of the tail rule, or None without enough samples."""
    p = tail_percentile(len(values), beyond)
    return None if p is None else (p, percentile(values, p))


def growth(durations: list[float]) -> float | None:
    """Median of the last quarter of ``durations`` over the median of the
    first quarter (at least one value each): above 1 means each trigger
    costs more as the tables grow. None with fewer than 2 values."""
    if len(durations) < 2:
        return None
    q = max(1, len(durations) // 4)
    return statistics.median(durations[-q:]) / statistics.median(durations[:q])


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median (quartiles as
    ``statistics.quantiles(values, n=4)`` gives them)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]:
    overlapping children are counted once."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its direct children
    cover (a grandchild is already inside its parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]
