"""Pure helpers behind the benchmark's figures: query order, geometric mean,
tail percentile, medians and the uncovered-interval arithmetic of
``exec.gap_s``. No Spark here, so the benchmark's own tests run without a
session."""

from __future__ import annotations

import math
import random
import statistics
from collections.abc import Iterator


def pass_orders(names: list[str], seed: int) -> Iterator[list[str]]:
    """The query order of each pass, endlessly: one seeded shuffle per pass,
    so the same seed always replays the same sequence."""
    rng = random.Random(seed)
    while True:
        order = list(names)
        rng.shuffle(order)
        yield order


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(n_min: int, min_beyond: int = 10) -> float:
    """The highest percentile that leaves at least ``min_beyond`` samples
    beyond it when there are ``n_min`` samples. A run's percentile is fixed
    from its smallest sample count, so it is the same on every run."""
    if n_min <= min_beyond:
        raise ValueError(f"{n_min} samples leave none beyond {min_beyond}")
    return 100.0 * (n_min - min_beyond) / n_min


def nearest_rank(values: list[float], pct: float) -> tuple[float, int]:
    """Nearest-rank percentile of ``values`` and the number of samples
    strictly beyond its rank."""
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered) - 1e-9))
    return ordered[rank - 1], len(ordered) - rank


def median(values: list[float]) -> float:
    return statistics.median(values)


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if b > start and a < end
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def uncovered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Action wall time no interval covers: ``exec.gap_s`` for one action
    whose stages ran over ``intervals``."""
    return (end - start) - covered(start, end, intervals)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: a span's duration minus the part of it its
    child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = uncovered(s["start"], s["end"], children.get(s["id"], []))
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
