"""Pure arithmetic behind the benchmark's numbers: percentiles with the
tail-sample rule, time net of hypervisor steal, span self time, and
Spark job counting by id difference. Kept free of Spark so
``test_perfbench.py`` can pin it."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

# A percentile is reported only when at least this many samples lie
# beyond it; with fewer, the value is set by one or two outliers.
MIN_TAIL_SAMPLES = 10


def percentile(samples: Sequence[float], q: float) -> float:
    """``q``-quantile (0..1) by linear interpolation between order
    statistics (numpy's default method)."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the interpolated
    ``q``-quantile: the order statistics past its lower index."""
    if n <= 0:
        return 0
    return n - 1 - math.floor(q * (n - 1))


def tail_percentile_ok(n: int, q: float) -> bool:
    return samples_beyond(n, q) >= MIN_TAIL_SAMPLES


def net_of_steal(seconds: float, busy_ticks: int, stolen_ticks: int) -> float:
    """Wall ``seconds`` scaled by the share of wanted CPU time that the
    hypervisor did not steal over the same interval: a first-order
    estimate of the time on a host that runs the VM's CPUs whenever it
    asks. On a shared host, steal comes and goes for minutes at a time
    and moves every wall time by up to 2x; the program cannot cause it."""
    wanted = busy_ticks + stolen_ticks
    return seconds * busy_ticks / wanted if wanted else seconds


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``.
    Overlapping intervals (children running on different threads) are
    counted once."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
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


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of that interval its
    child spans cover. Spans are dicts with ``id``, ``parent``,
    ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], ()), s["start"], s["end"])
        for s in spans
    }


def jobs_between(next_id_before: int, next_id_after: int) -> int:
    """Spark jobs submitted between two reads of the scheduler's next
    job id. Job ids are allocated from one counter at submission, so the
    difference counts every job, including those submitted from other
    driver threads (``plans.runner.run_all`` runs its branches on a
    thread pool, which per-thread job groups would miss)."""
    if next_id_after < next_id_before:
        raise ValueError("job id went backwards: the SparkContext was restarted")
    return next_id_after - next_id_before
