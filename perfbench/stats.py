"""Pure helpers: summary statistics, report-derived quality metrics and
span self time. No Spark, no I/O."""

from __future__ import annotations

import math
from collections.abc import Iterable, Mapping, Sequence

PERCENTILES = (99.9, 99.0, 90.0, 50.0)


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(1, math.ceil(p * len(s) / 100 - 1e-9))
    return s[k - 1]


def tail_percentile(values: Sequence[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """(p, value) for the highest percentile in PERCENTILES that has at
    least ``min_beyond`` samples above its rank, or None."""
    n = len(values)
    for p in PERCENTILES:
        if n - max(1, math.ceil(p * n / 100 - 1e-9)) >= min_beyond:
            return p, percentile(values, p)
    return None


def summarize(values: Sequence[float]) -> dict:
    """Median, the tail percentile (if the sample allows one) and n."""
    out = {"n": len(values), "median": median(values)}
    tail = tail_percentile(values)
    if tail is not None:
        out[f"p{tail[0]:g}"] = tail[1]
    return out


def _total(row: Mapping) -> int:
    return row["n_ok"] + row["n_empty"] + row["n_fail"]


def macro_f1(rows: Iterable[Mapping]) -> float:
    """Mean of the report's ok-only ``avg_f1`` over (extractor, dataset) rows."""
    vals = [r["avg_f1"] or 0.0 for r in rows]
    return sum(vals) / len(vals)


def macro_f1_all(rows: Iterable[Mapping]) -> float:
    """Mean over rows of ``avg_f1 * n_ok / (n_ok + n_empty + n_fail)``:
    empty and failed outputs count as F1 = 0."""
    vals = [(r["avg_f1"] or 0.0) * r["n_ok"] / _total(r) for r in rows]
    return sum(vals) / len(vals)


def empty_frac(rows: Iterable[Mapping]) -> float:
    rows = list(rows)
    return sum(r["n_empty"] for r in rows) / sum(_total(r) for r in rows)


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of its interval its children cover."""
    return (end - start) - covered(children, start, end)
