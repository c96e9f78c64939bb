"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import math

MIN_BEYOND = 10  # a reported percentile needs this many samples above it


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile: the value at 1-based rank ceil(q * n)."""
    if not samples or not 0 < q <= 1:
        raise ValueError(f"percentile {q} of {len(samples)} samples")
    ordered = sorted(samples)
    return ordered[math.ceil(q * len(ordered)) - 1]


def beyond(n: int, q: float) -> int:
    """How many of n samples lie above the nearest-rank q-th percentile."""
    return n - math.ceil(q * n)


def p90(samples: list[float]) -> dict | None:
    """The nearest-rank p90 with the sample count; None when fewer than
    MIN_BEYOND samples lie beyond it."""
    if beyond(len(samples), 0.9) < MIN_BEYOND:
        return None
    return {"value": percentile(samples, 0.9), "n": len(samples)}
