"""Pure helpers for the benchmark's numbers (no Spark, no I/O).

* percentiles and the choice of a reportable tail percentile;
* self time of a layer from the prefix-differenced run chain;
* union length of job intervals and the driver gap of a span.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

#: Candidate tail percentiles, highest first.
TAIL_CANDIDATES: tuple[int, ...] = (99, 95, 90, 75, 50)


def percentile(values: Sequence[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default ``linear`` rule)."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 <= pct <= 100:
        raise ValueError(f"percentile {pct} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` sorted samples sit past the ``pct`` percentile's
    interpolation position ``(n - 1) * pct / 100``."""
    if n <= 0:
        return 0
    return n - 1 - int((n - 1) * pct / 100.0)


def tail_percentile(n: int, min_beyond: int = 10) -> int | None:
    """The highest candidate percentile with at least ``min_beyond``
    samples above it, or ``None`` when even the median has fewer."""
    for pct in TAIL_CANDIDATES:
        if samples_beyond(n, pct) >= min_beyond:
            return pct
    return None


def self_times(prefix_s: Sequence[float]) -> list[float]:
    """Self time of each stage of a chain timed by prefixes.

    ``prefix_s[k]`` is the time of running stages ``0..k``; stage ``k``'s
    self time is ``prefix_s[k] - prefix_s[k - 1]`` (stage 0 owns all of
    ``prefix_s[0]``). A negative difference means the prefix timings are
    noisier than the stage; it is clamped to 0 so a ledger never shows
    negative work."""
    out = []
    prev = 0.0
    for t in prefix_s:
        out.append(max(0.0, t - prev))
        prev = t
    return out


def union_length(intervals: Iterable[tuple[float, float]], lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by ``intervals``, each clipped to ``[lo, hi]``."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
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


def driver_gap(span: tuple[float, float], jobs: Iterable[tuple[float, float]]) -> float:
    """Wall time of ``span`` not covered by any job interval: the time
    the driver spent planning, waiting or running Python between jobs."""
    a, b = span
    return (b - a) - union_length(jobs, a, b)
