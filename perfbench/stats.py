"""Small numeric and naming helpers shared by the benchmark and its tests."""

from __future__ import annotations

import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_name(name: str) -> bool:
    """Metric and workload names: a letter or digit, then at most 63 of
    letters, digits, ``_``, ``.`` and ``-``."""
    return NAME_RE.fullmatch(name) is not None


def median(values) -> float:
    return float(statistics.median(list(values)))


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them
    (its default 'exclusive' method); needs at least two values."""
    q1, q2, q3 = statistics.quantiles(list(values), n=4)
    return q1, q2, q3


def spread(values) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")
