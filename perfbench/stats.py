"""Pure helpers of the benchmark: seeded query orders, percentiles and
span arithmetic. No Spark here, so the unit tests run without a JVM."""

from __future__ import annotations

import random
from collections import defaultdict
from dataclasses import dataclass

# Only report a percentile when at least this many samples lie beyond it.
TAIL_SAMPLES = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail_supported(n: int, p: float) -> bool:
    """True when ``n`` samples leave at least TAIL_SAMPLES beyond the
    p-th percentile, so the percentile is more than one outlier."""
    return n * (100.0 - p) / 100.0 >= TAIL_SAMPLES


def pass_order(n: int, seed: int, pass_index: int) -> list[int]:
    """The slots 0..n-1 of one pass in an order fixed by (seed, pass_index)."""
    order = list(range(n))
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order


def repeat_share(names: list[str]) -> float:
    """Share of samples that directly follow a sample of the same query:
    only those can reuse the caches the registry keeps for a same-name
    rebuild."""
    return sum(a == b for a, b in zip(names, names[1:])) / len(names)


@dataclass(frozen=True)
class Span:
    trace: int
    span: int
    parent: int | None
    name: str
    start: float
    end: float


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append((sp.start, sp.end))
    return {
        sp.span: (sp.end - sp.start) - _covered(children[sp.span], sp.start, sp.end)
        for sp in spans
    }


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name."""
    own = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for sp in spans:
        out[sp.name] += own[sp.span]
    return dict(out)
