"""Summary statistics and metric naming for the benchmark.

The percentile rule: a percentile is only reported when at least
``MIN_BEYOND`` samples lie beyond it, so a tail figure always rests on
more than one or two outliers. The median is always reported, with its
sample count.
"""

from __future__ import annotations

import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
MIN_BEYOND = 10
TAIL_LADDER = (99.0, 95.0, 90.0, 80.0, 75.0)


def check_name(name: str) -> str:
    """Return ``name`` if it is a valid metric name, else raise."""
    if not isinstance(name, str) or not NAME_RE.fullmatch(name) or len(name) > 64:
        raise ValueError(f"bad metric name: {name!r}")
    return name


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: list[float], pct: float, min_beyond: int = MIN_BEYOND) -> float:
    """Nearest-rank percentile; raises unless ``min_beyond`` samples
    lie strictly beyond the chosen rank."""
    n = len(values)
    rank = max(1, math.ceil(pct / 100.0 * n))
    beyond = n - rank
    if beyond < min_beyond:
        raise ValueError(
            f"p{pct:g} needs {min_beyond} samples beyond it; "
            f"{n} samples leave {beyond}"
        )
    return float(sorted(values)[rank - 1])


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile of ``TAIL_LADDER`` the sample supports,
    as ``(pct, value)``, or None when none is supported."""
    for pct in TAIL_LADDER:
        try:
            return pct, percentile(values, pct)
        except ValueError:
            continue
    return None


def describe(values: list[float]) -> str:
    """Median, supported tail and sample count, for the text report."""
    if not values:
        return "n=0"
    out = f"p50 {median(values):.4f} n={len(values)}"
    t = tail(values)
    out += f" p{t[0]:g} {t[1]:.4f}" if t else f" (no percentile has {MIN_BEYOND} samples beyond it)"
    return out
