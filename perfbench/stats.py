"""Order statistics and span arithmetic used by the benchmark (pure Python)."""

from __future__ import annotations

import math
from collections.abc import Sequence


def percentile(values: Sequence[float], q: float) -> float:
    """q-th percentile (0..100), linear interpolation between the closest
    ranks (numpy's default 'linear' method)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus its children's.
    Spans are dicts with keys ``id``, ``parent`` (an id or None),
    ``start`` and ``end``; a span's children run one after another
    inside it (the tracer records on one thread, with a stack)."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out
