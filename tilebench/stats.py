"""Order statistics and span arithmetic used by every workload."""

from __future__ import annotations

import math

MIN_BEYOND = 10  # a reported tail needs at least this many samples past it


def percentile(values, pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """The highest percentile with at least MIN_BEYOND of ``n`` samples
    beyond it, capped at p99; None when fewer than MIN_BEYOND + 1 samples
    leave nothing to report."""
    if n <= MIN_BEYOND:
        return None
    # floor to 0.1 so the printed percentile never overstates the tail
    return min(99.0, math.floor(1000.0 * (n - MIN_BEYOND) / n) / 10.0)


def tail(values) -> tuple[float | None, float | None]:
    """(percentile, value) by the :func:`tail_percentile` rule."""
    pct = tail_percentile(len(values))
    return (None, None) if pct is None else (pct, percentile(values, pct))


def slowest_quarter_mean(values) -> float:
    """Mean of the slowest quarter of ``values`` (at least one value): the
    tail a batch run reports, where too few operations for a percentile
    remain."""
    xs = sorted(values, reverse=True)
    if not xs:
        raise ValueError("slowest quarter of no samples")
    k = max(1, len(xs) // 4)
    return sum(xs[:k]) / k


def self_times(spans) -> dict:
    """Self time of each span: its duration minus the union of its direct
    children's intervals (clipped to the parent).

    ``spans`` is an iterable of (span_id, parent_id, start, end); the result
    maps span_id -> self time in the same unit."""
    spans = list(spans)
    kids: dict = {}
    for sid, parent, start, end in spans:
        if parent is not None:
            kids.setdefault(parent, []).append((start, end))
    out = {}
    for sid, _, start, end in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(sid, [])):
            lo, hi = max(lo, start), min(hi, end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[sid] = (end - start) - covered
    return out
