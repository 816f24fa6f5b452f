"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math

LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def tail(xs: list[float], min_beyond: int = 10) -> dict:
    """The highest percentile of LADDER with at least ``min_beyond``
    samples beyond it (nearest rank), with the sample count. With too
    few samples for even the median, ``p`` and ``value`` are None."""
    n = len(xs)
    ys = sorted(xs)
    for p in reversed(LADDER):
        rank = max(1, math.ceil(p * n / 100.0 - 1e-9))
        if n - rank >= min_beyond:
            return {"p": p, "value": ys[rank - 1], "n": n}
    return {"p": None, "value": None, "n": n}

