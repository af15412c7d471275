"""Pure arithmetic of the benchmark: percentiles, failure ratios, metric
names and the one-line JSON result. No Spark, no I/O — unit-tested in
``test_perfbench.py``."""

from __future__ import annotations

import json
import math
import re

#: metric names the result line may carry (the benchmark contract)
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile (0..100) with linear interpolation between
    closest ranks — numpy's default rule, kept dependency-free."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile rank {q} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


def failed_ratio(failed: int, attempted: int) -> float:
    """Operations that raised or returned a wrong result ÷ attempted."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def check_metric_name(name: str) -> str:
    if not METRIC_NAME.fullmatch(name):
        raise ValueError(f"invalid metric name {name!r}")
    return name


def result_line(attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    """The final stdout line: ``correct`` is true only when no operation
    failed; every metric value must be a finite number."""
    failed_ratio(failed, attempted)  # validates the counts
    out = {}
    for name, (value, unit) in metrics.items():
        check_metric_name(name)
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"metric {name} has non-finite value {value!r}")
        out[name] = {"value": float(value), "unit": unit}
    return json.dumps({"correct": failed == 0, "attempted": attempted,
                       "failed": failed, "metrics": out})
