"""Percentiles and metric-name rules shared by the report and the tests."""

from __future__ import annotations

import math
import re

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
#: a percentile is reported only with at least this many samples above it
MIN_TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(values: list[float], q: float) -> float | None:
    """The q-th percentile, or None when fewer than MIN_TAIL_SAMPLES
    samples lie beyond it (too few to be more than the slowest few)."""
    n = len(values)
    if n == 0:
        return None
    beyond = n - max(1, math.ceil(q / 100.0 * n))
    if beyond < MIN_TAIL_SAMPLES:
        return None
    return percentile(values, q)


def valid_metric_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None
