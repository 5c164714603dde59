"""Pure summary statistics and the result line the benchmark prints."""

from __future__ import annotations

import math

RESULT_KEYS = ("correct", "attempted", "failed", "metrics")


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule), p in [0, 100]."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> int:
    """The highest whole percentile that leaves at least ``beyond`` of ``n``
    samples above it. Each workload fixes its tail percentile and the sample
    count that supports it with this rule, so a run never reports a tail
    its sample cannot carry."""
    if n < beyond * 2:
        raise ValueError(f"{n} samples cannot support a tail with {beyond} beyond it")
    return math.floor(100 * (n - beyond) / n)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> dict:
    """The last stdout line: exactly ``RESULT_KEYS``; each metric a finite
    number with its unit."""
    if attempted < 1:
        raise ValueError("a run attempts at least one operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    out = {}
    for name, (value, unit) in metrics.items():
        value = float(value)
        if not math.isfinite(value):
            raise ValueError(f"metric {name} is not finite: {value}")
        out[name] = {"value": value, "unit": unit}
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": out}
