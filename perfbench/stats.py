"""Percentiles under a sample-count rule.

A tail percentile is reported only when at least ``MIN_BEYOND`` samples lie
beyond it: p90 needs 100 samples, p75 needs 40. The median is always
reported, with the sample count beside it.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10
#: the percentiles a summary reports, when the sample count supports them
SUMMARY_PS = (50.0, 90.0)


def percentile(values, p: float) -> float:
    """Linear interpolation between closest ranks (NumPy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def supported(n: int, p: float) -> bool:
    """True when ``n`` samples leave at least ``MIN_BEYOND`` beyond ``p``."""
    return p <= 50.0 or n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9


def summary(values) -> dict:
    """{"n": count, "p50": ..., "p90": ...}, omitting unsupported tails."""
    out = {"n": len(values)}
    for p in SUMMARY_PS:
        if values and supported(len(values), p):
            out[f"p{p:g}"] = percentile(values, p)
    return out
