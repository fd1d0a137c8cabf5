"""Pure metric math for the benchmark: no Spark, no I/O, unit-tested."""

from __future__ import annotations

import random
import statistics
from collections.abc import Iterable, Sequence

TAIL_BEYOND = 10
WARMING_PASSES = 2


def pass_order(queries: Sequence[str], seed: int, pass_no: int) -> list[str]:
    """The seeded order of one pass: a permutation of ``queries`` that is the
    same for the same (seed, pass) and differs between seeds."""
    return random.Random(f"{seed}/{pass_no}").sample(list(queries), len(queries))


def tail(samples: Sequence[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile, n)``. With ``n`` samples sorted ascending
    the value is the one at 0-based rank ``n - 11``, which has exactly ten
    samples ranked above it, and its percentile is ``100 * (n - 10) / n``.
    With ten samples or fewer no such percentile exists; the maximum is
    returned at percentile 100 so the caller can see the sample was short.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of an empty sample")
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0, n
    return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by the union of closed ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted((s, e) for s, e in intervals if e > s):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def driver_idle(window: tuple[float, float], jobs: Iterable[tuple[float, float]]) -> float:
    """Time inside ``window`` when none of ``jobs`` was active: the query's
    wall time minus the union of its jobs' active intervals, each clipped
    to the window."""
    lo, hi = window
    clipped = ((max(s, lo), min(e, hi)) for s, e in jobs)
    return (hi - lo) - union_length(clipped)


def hit_ratio(hits: int, lookups: int) -> float:
    """Share of pool lookups that found a live artifact (0 when none ran)."""
    return hits / lookups if lookups else 0.0


def steady_passes(warm: Sequence) -> list:
    """Every warm pass but the first ``WARMING_PASSES``, which still pay
    one-off JIT and codegen-cache costs."""
    return list(warm[WARMING_PASSES:])


def typical_pass_total(latencies: dict[str, Sequence[float]]) -> float:
    """Wall time of one typical steady pass: the sum over queries of each
    query's median latency, so one slow execution moves it by at most that
    query's share."""
    return sum(statistics.median(xs) for xs in latencies.values())
