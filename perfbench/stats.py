"""Summary statistics and naming rules for benchmark metrics.

Pure Python: no Spark, no numpy, so the unit tests run anywhere.
"""

from __future__ import annotations

import math
import re

# candidate tail levels, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def check_name(name: str) -> str:
    """Return ``name`` if it is a legal metric name, else raise."""
    if not NAME_RE.match(name):
        raise ValueError(f"illegal metric name {name!r}: use [A-Za-z0-9_.-], ≤64 chars")
    return name


def _rank(n: int, pct: float) -> int:
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in floating point
    return max(1, math.ceil(round(pct / 100.0 * n, 9)))


def percentile(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``
    percent of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    return sorted(samples)[_rank(len(samples), pct) - 1]


def beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank
    ``pct`` percentile."""
    return n - _rank(n, pct)


def tail_level(n: int) -> float | None:
    """The highest percentile of the ladder that has at least
    ``MIN_BEYOND`` samples beyond it, or None when ``n`` is too small."""
    for pct in TAIL_LADDER:
        if beyond(n, pct) >= MIN_BEYOND:
            return pct
    return None


def summarize(samples: list[float]) -> dict:
    """Median, the highest percentile with ≥10 samples beyond it, and the
    sample count. ``tail``/``tail_pct`` are None below 20 samples."""
    n = len(samples)
    if n == 0:
        return {"n": 0, "p50": None, "tail_pct": None, "tail": None}
    lvl = tail_level(n)
    return {
        "n": n,
        "p50": percentile(samples, 50.0),
        "tail_pct": lvl,
        "tail": percentile(samples, lvl) if lvl is not None else None,
    }


def median(samples: list[float]) -> float:
    xs = sorted(samples)
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else 0.5 * (xs[m - 1] + xs[m])
