"""Summary statistics and name rules shared by the benchmark and its
steadiness check."""

from __future__ import annotations

import re
import statistics
from typing import Sequence, Tuple

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
TAIL_BEYOND = 10


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def tail(values: Sequence[float]) -> Tuple[float, float, int]:
    """(value, percentile, sample count) at the highest percentile that
    still has at least ``TAIL_BEYOND`` samples above it.

    With n samples that is the (n - 10)-th smallest, at percentile
    100 * (n - 10) / n. Below 11 samples no percentile qualifies and the
    median is returned, at percentile 50.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return median(xs), 50.0, n
    k = n - TAIL_BEYOND - 1
    return float(xs[k]), 100.0 * (k + 1) / n, n


def spread(values: Sequence[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.match(unit))
