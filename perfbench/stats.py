"""Pure statistics helpers shared by the benchmark and its comparison tool.

Nothing here imports Spark, so the helpers are unit-tested on their own
(perfbench/tests/test_helpers.py).
"""

from __future__ import annotations

import math
import re
import statistics

# A metric name.
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

# A percentile is only reported when at least this many samples lie beyond
# it; below that the tail is a handful of points and moves with every run.
MIN_BEYOND = 10


class TooFewSamples(ValueError):
    """The sample does not support the requested percentile."""


def check_name(name: str) -> str:
    if not isinstance(name, str) or not METRIC_NAME.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def percentile(values, q: float) -> float:
    """Nearest-rank ``q``-quantile (0 < q < 1) of ``values``.

    Raises :class:`TooFewSamples` when fewer than ``MIN_BEYOND`` samples
    lie beyond the quantile, i.e. when ``(1 - q) * len(values) < MIN_BEYOND``.
    """
    if not 0 < q < 1:
        raise ValueError(f"quantile {q} outside (0, 1)")
    vals = sorted(values)
    if (1 - q) * len(vals) < MIN_BEYOND - 1e-9:
        raise TooFewSamples(
            f"p{round(q * 100)} needs {MIN_BEYOND} samples beyond it; "
            f"have {len(vals)} samples"
        )
    return vals[math.ceil(q * len(vals)) - 1]


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    vals = list(values)
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def spread(values) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    if med == 0:
        return 0.0 if q3 == q1 else math.inf
    return (q3 - q1) / abs(med)


def worse_by(base: float, new: float, better: str) -> float:
    """Share by which ``new`` is worse than ``base`` (negative = better)."""
    if base == 0:
        return 0.0 if new == base else math.inf
    if better == "lower":
        return (new - base) / abs(base)
    if better == "higher":
        return (base - new) / abs(base)
    raise ValueError(f"better must be 'lower' or 'higher', not {better!r}")
