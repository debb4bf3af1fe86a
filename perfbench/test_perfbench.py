"""Self-tests of the benchmark's arithmetic (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pytest  # noqa: E402

from stats import (  # noqa: E402
    covered,
    jobs_between,
    net_of_steal,
    percentile,
    samples_beyond,
    self_times,
    tail_percentile_ok,
)
from tracing import Tracer  # noqa: E402


# --- the p90 sample rule ----------------------------------------------------------


def test_percentile_interpolates_like_numpy():
    xs = [float(x) for x in range(1, 11)]  # 1..10
    assert percentile(xs, 0.5) == 5.5
    assert percentile(xs, 0.9) == pytest.approx(9.1)
    assert percentile([3.0], 0.9) == 3.0


def test_samples_beyond_counts_order_statistics_above_the_quantile():
    # n=100: p90 sits between the 90th and 91st order statistic, so the
    # ten largest samples lie beyond it.
    assert samples_beyond(100, 0.9) == 10
    xs = list(range(100))
    p90 = percentile(xs, 0.9)
    assert sum(x > p90 for x in xs) == samples_beyond(100, 0.9)


def test_p90_needs_ten_samples_beyond_it():
    smallest = min(n for n in range(1, 200) if tail_percentile_ok(n, 0.9))
    assert smallest == 92
    assert not tail_percentile_ok(91, 0.9)
    # the median of a short run qualifies long before the p90 does
    assert tail_percentile_ok(20, 0.5)
    assert not tail_percentile_ok(19, 0.5)


# --- time net of hypervisor steal ---------------------------------------------------


def test_net_of_steal_scales_by_the_unstolen_share():
    assert net_of_steal(10.0, busy_ticks=300, stolen_ticks=100) == 7.5
    assert net_of_steal(10.0, busy_ticks=400, stolen_ticks=0) == 10.0
    assert net_of_steal(10.0, busy_ticks=0, stolen_ticks=0) == 10.0  # no reading


# --- self-time arithmetic -----------------------------------------------------------


def test_covered_merges_overlapping_children_once():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-1, 1)], 0, 10) == 1  # clipped to the parent
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_child_cover():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps 1 (threads)
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st == {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0}


def test_tracer_parents_pool_threads_to_the_op():
    tracer = Tracer()
    tracer.phase = "timed"

    def branch():
        with tracer.span("leaf"):
            time.sleep(0.01)

    with tracer.op(7):
        with tracer.span("plans.build"):
            time.sleep(0.01)
        t = threading.Thread(target=branch)  # a thread with no open span
        t.start()
        t.join(timeout=5)
    assert not t.is_alive()
    by_name = {s["name"]: s for s in tracer.spans}
    assert by_name["leaf"]["parent"] == by_name["op"]["id"]
    assert by_name["plans.build"]["parent"] == by_name["op"]["id"]
    assert {s["op"] for s in tracer.spans} == {7}
    secs = tracer.layer_seconds("timed")
    total = by_name["op"]["end"] - by_name["op"]["start"]
    # no overlap here, so the layer self times add up to the op exactly
    assert sum(secs.values()) == pytest.approx(total)


def test_wrap_replaces_the_call_site_binding_and_uninstalls():
    import types

    mod = types.ModuleType("callsite")
    mod.fn = lambda x: x + 1
    original = mod.fn
    tracer = Tracer()
    tracer.wrap(mod, "fn", "layer")
    assert mod.fn(1) == 2
    assert [s["name"] for s in tracer.spans] == ["layer"]
    tracer.uninstall()
    assert mod.fn is original


# --- job counting by id difference --------------------------------------------------


def test_jobs_between_counts_ids_allocated_from_any_thread():
    # The scheduler hands out ids from one counter, so jobs submitted
    # concurrently by two branches are all in the difference.
    counter = iter(range(1000))
    lock = threading.Lock()

    def submit(k):
        for _ in range(k):
            with lock:
                next(counter)

    before = 5
    for _ in range(before):
        next(counter)
    threads = [threading.Thread(target=submit, args=(k,)) for k in (3, 4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=5)
    after = next(counter)  # the next id to be handed out
    assert jobs_between(before, after) == 7


def test_jobs_between_rejects_a_restarted_context():
    with pytest.raises(ValueError):
        jobs_between(10, 3)
