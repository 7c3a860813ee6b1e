"""Unit tests of the benchmark's own helpers (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import loadgen  # noqa: E402
from perfbench.analytics import staggered  # noqa: E402
from perfbench.stats import (  # noqa: E402
    TAIL_BEYOND,
    Tally,
    check_contiguous,
    due_latencies,
    median,
    tail,
)
from perfbench.tracing import NullTracer, Tracer, covered  # noqa: E402


def test_tail_keeps_ten_samples_beyond():
    t = tail(range(100))
    assert t.value == 89.0 and t.beyond == TAIL_BEYOND == 10
    assert t.pct == 90.0 and t.n == 100
    assert sum(v > t.value for v in range(100)) == 10


def test_tail_is_order_insensitive_and_counts_beyond():
    vals = [5.0, 1.0, 9.0] * 20
    t = tail(vals)
    assert t.beyond == 10
    assert sum(v > t.value for v in vals) <= 10


def test_tail_with_few_samples_never_drops_below_median():
    vals = list(range(12))
    t = tail(vals)
    assert t.value >= median(vals)
    assert t.beyond < TAIL_BEYOND
    assert tail([]).n == 0


def test_due_time_latency_charges_the_stall_to_queued_messages():
    # three messages due 100 ms apart; a 1 s stall delays all three, and
    # each is charged from its DUE time, not from when it was sent
    due = {1: 0.0, 2: 0.1, 3: 0.2}
    arrived = {1: 1.0, 2: 1.01, 3: 1.02}
    lats, missing = due_latencies(due, arrived, deadline=10.0)
    assert missing == []
    assert [round(x, 3) for x in lats] == [1.0, 0.91, 0.82]


def test_never_delivered_message_is_missing_and_misses_the_limit():
    due = {1: 0.0, 2: 1.0}
    lats, missing = due_latencies(due, {1: 0.5}, deadline=5.0)
    assert missing == [2]
    assert lats == [0.5, 4.0]  # at least deadline - due late
    # arriving after the deadline is as good as never
    _lats, missing = due_latencies({1: 0.0}, {1: 6.0}, deadline=5.0)
    assert missing == [1]


def test_tally_counts_failures_against_attempts():
    t = Tally()
    t.record(True, n=10)
    t.record(False, "publish_raised")
    t.fail("deliver_missing", 2)
    t.fail("nothing", 0)
    assert (t.attempted, t.failed) == (11, 3)
    assert t.ratio == 3 / 11
    assert dict(t.reasons) == {"publish_raised": 1, "deliver_missing": 2}
    assert Tally().ratio == 0.0


def test_contiguity_check_separates_gaps_order_and_duplicates():
    ok = check_contiguous([1, 2, 2, 3], 1, 3)
    assert ok == {"missing": 0, "unexpected": 0, "out_of_order": 0,
                  "duplicates": 1, "unique": 3}
    bad = check_contiguous([1, 3, 2, 9], 1, 4)
    assert bad["missing"] == 1  # offset 4 never delivered
    assert bad["out_of_order"] == 1  # 2 after 3
    assert bad["unexpected"] == 1  # 9 is outside the range


def test_message_payload_is_deterministic_and_sized():
    a = [loadgen.message(7, k) for k in range(200)]
    assert a == [loadgen.message(7, k) for k in range(200)]
    assert a != [loadgen.message(8, k) for k in range(200)]
    assert all(100 <= len(m) <= 180 for m in a)
    assert len({len(m) for m in a}) > 10
    assert {loadgen.event_name(7, k) for k in range(64)} == {f"ev{i}" for i in range(8)}
    assert loadgen.fingerprint(a) == loadgen.fingerprint(reversed(a))


def test_open_loop_does_not_slow_down_with_the_engine():
    sends = []

    def slow_send(i, due):
        sends.append((i, due))
        if i == 0:
            time.sleep(0.2)  # a stall: later sends start late, on schedule

    gen = loadgen.OpenLoop(slow_send, period=0.02, count=6).start()
    assert gen.join(5.0)
    dues = [d for _i, d in sends]
    assert [round(b - a, 6) for a, b in zip(dues, dues[1:])] == [0.02] * 5
    assert gen.late_s[0] < 0.05 and gen.late_s[1] > 0.1


def test_jittered_schedule_is_seeded_ordered_and_keeps_the_rate():
    j = loadgen.jitter(3, 50)
    assert j == loadgen.jitter(3, 50) and j != loadgen.jitter(4, 50)
    assert all(0.0 <= x < 1.0 for x in j)
    gen = loadgen.OpenLoop(lambda i, due: None, period=0.5, count=50, jitter=j)
    dues = [gen.due(i) for i in range(50)]
    assert dues == sorted(dues)  # one message per period, in order
    assert all(i * 0.5 <= d < (i + 1) * 0.5 for i, d in enumerate(dues))


def test_open_loop_records_send_errors():
    def boom(i, due):
        if i == 1:
            raise RuntimeError("publish failed")

    gen = loadgen.OpenLoop(boom, period=0.0, count=3).start()
    assert gen.join(5.0)
    assert len(gen.errors) == 1 and len(gen.late_s) == 3


def test_self_time_subtracts_child_spans():
    tr = Tracer()
    with tr.span("parent"):
        time.sleep(0.02)
        with tr.span("child"):
            time.sleep(0.03)
    (self_t,) = tr.self_times("parent")
    (total,) = tr.durations("parent")
    (child,) = tr.durations("child")
    assert abs(self_t - (total - child)) < 1e-9
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 5.5) == 3.5


def test_spans_nest_per_thread_and_null_tracer_keeps_nothing():
    tr = Tracer()

    def work():
        with tr.span("other_thread"):
            pass

    with tr.span("main"):
        th = threading.Thread(target=work)
        th.start()
        th.join(5.0)
    parents = {name: parent for _s, parent, name, _a, _b in tr.spans}
    assert parents["other_thread"] == 0  # not a child of another thread's span
    null = NullTracer()
    with null.span("x"):
        null.add("y", 1.0)
    assert null.spans == [] and not null.busy


def test_paused_tracer_keeps_nothing_begun_inside():
    tr = Tracer()
    with tr.paused():
        with tr.span("untimed"):
            pass
        tr.add("counter", 1.0)
    with tr.span("timed"):
        tr.add("counter", 2.0)
    assert [name for _s, _p, name, _a, _b in tr.spans] == ["timed"]
    assert dict(tr.busy) == {"counter": 2.0}


def test_staggered_warms_each_query_before_timing_it_lags_later():
    steps = list(staggered(("a", "b", "c", "d"), (1, 2, 3)))
    warm = [q for what, q, _k in steps if what == "warm"]
    assert warm == ["a", "b", "c", "d"]
    for q in "abcd":
        timed = [k for what, x, k in steps if what == "time" and x == q]
        assert timed == [0, 1, 2]  # three timed executions, in order
        assert steps.index(("warm", q, None)) < steps.index(("time", q, 0))
    # the first timed execution comes before the last warm-up
    assert steps.index(("time", "a", 0)) < steps.index(("warm", "d", None))
