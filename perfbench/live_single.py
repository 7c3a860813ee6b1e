"""``live_single``: the reference's core usage under an open-loop load.

One producer thread calls ``Topic.publish`` once per message at a fixed
rate into a topic that already holds hundreds of single-message
segments (a long-lived topic fed one message at a time).  Two
continuous subscribers read it: a durable wildcard one (from its
subscription point, acks) and an ephemeral one filtered on a single
event.  Latency
runs from each message's DUE time to its callback.
"""

from __future__ import annotations

import importlib
import threading
import time

from perfbench import harness, loadgen
from perfbench.stats import Tally, check_contiguous, due_latencies

# Single-message segments the topic holds before the timed region.
SEED_SEGMENTS = 100
# Offered load, messages per second.  Calibrated on the seed engine on a
# 4-core host (see perfbench/README.md): a delivering trigger takes
# ~200-350 ms by the host's speed, and at 4/s (a message every 250 ms)
# the slow phases queued messages behind it, so the latency followed
# the host's phase; at 2/s every message finds the subscriber idle.
# The publish call (~20-40 ms, ceiling ~25/s) is far from its limit.
RATE_PER_S = 2.0
WARM_MESSAGES = 5
# Deliveries still missing this long after the last due time fail.
DELIVERY_GRACE_S = 20.0
# Host-speed probe slices (~25 ms each) while the producer runs.
PROBE_EVERY_S = 0.25


class _Deliveries:
    """Callback sink: offsets in delivery order and first-arrival times."""

    def __init__(self, tracer):
        self.offsets: list[int] = []
        self.messages: dict[int, str] = {}
        self.first: dict[int, float] = {}
        self.max_offset = 0
        self._tracer = tracer

    def __call__(self, _event, message, offset) -> None:
        t = time.perf_counter()
        self.offsets.append(offset)
        if offset not in self.first:
            self.first[offset] = t
            self.messages[offset] = message
        if offset > self.max_offset:
            self.max_offset = offset
        self._tracer.add("subscribe.callback", time.perf_counter() - t)


def run(ctx: harness.Context) -> harness.Result:
    from kafkaish_spark.sources.topic_log import Engine
    subscribe_mod = importlib.import_module("kafkaish_spark.streaming.subscribe")

    seed, tr = ctx.seed, ctx.tracer
    spark, session_s = harness.start_session(ctx)
    the_event = loadgen.event_name(seed, 0)

    def build(rep_dir):
        topic = Engine(spark, rep_dir).prepare_topic("live")
        for k in range(SEED_SEGMENTS):
            topic.publish(loadgen.event_name(seed, k), loadgen.message(seed, k))
        return topic

    topic, fixture_s = harness.timed_fixture(ctx, build)

    # warm-up: both subscribers attached from the tail, and a few live
    # messages through the whole path
    t_warm = time.perf_counter()
    durable, ephemeral = _Deliveries(tr), _Deliveries(tr)
    subs = [
        subscribe_mod.subscribe(
            topic, durable, name="durable", available_now=False
        ),
        subscribe_mod.subscribe(topic, ephemeral, event=the_event, available_now=False),
    ]
    published: dict[int, tuple[str, str]] = {}  # offset -> (event, message)
    key = SEED_SEGMENTS
    for _ in range(WARM_MESSAGES):
        ev, msg = loadgen.event_name(seed, key), loadgen.message(seed, key)
        published[int(topic.publish(ev, msg)["offset"])] = (ev, msg)
        key += 1
        time.sleep(1.0 / RATE_PER_S)
    warm_tail = max(published)
    _wait(lambda: durable.max_offset >= warm_tail, 60.0)
    warm_s = time.perf_counter() - t_warm

    # timed region: open-loop producer
    tr.reset()
    n = max(1, int(RATE_PER_S * ctx.seconds))
    due_at: dict[int, float] = {}
    call_s: list[float] = []
    lock = threading.Lock()
    first_key = key

    def send(i: int, due: float) -> None:
        k = first_key + i
        ev, msg = loadgen.event_name(seed, k), loadgen.message(seed, k)
        t0 = time.perf_counter()
        off = int(topic.publish(ev, msg)["offset"])
        dt = time.perf_counter() - t0
        with lock:
            call_s.append(dt)
            due_at[off] = due
            published[off] = (ev, msg)

    probe = harness.HostProbe()
    gen = loadgen.OpenLoop(send, 1.0 / RATE_PER_S, n, jitter=loadgen.jitter(seed, n))
    gen.start()
    progress: dict = {}
    lag_max = 0
    deadline = gen.due(n - 1) + DELIVERY_GRACE_S
    last_harvest = last_probe = 0.0
    while time.perf_counter() < deadline:
        if gen.running and time.perf_counter() - last_probe > PROBE_EVERY_S:
            probe.sample()
            last_probe = time.perf_counter()
        done = not gen.running
        with lock:
            tail_off = max(published)
        lag_max = max(lag_max, tail_off - durable.max_offset)
        if time.perf_counter() - last_harvest > 1.0:
            for s in subs:
                harness.harvest_progress(s, progress)
            last_harvest = time.perf_counter()
        if (
            done
            and durable.max_offset >= tail_off
            and all(o in ephemeral.first for o, (e, _m) in published.items() if e == the_event)
            and topic.last_ack("durable") == tail_off
        ):
            break
        time.sleep(0.05)
    gen.stop()
    gen.join(30.0)
    for s in subs:
        harness.harvest_progress(s, progress)
        s.unsubscribe()
    final = max(published)

    tally = Tally()
    tally.record(True, n=n)
    tally.fail("publish_raised", len(gen.errors))

    # durable: every offset after its start in order, no gaps; ack at the tail
    chk = check_contiguous(durable.offsets, SEED_SEGMENTS + 1, final)
    tally.record(True, n=final - SEED_SEGMENTS)
    tally.fail("durable_missing", chk["missing"])
    tally.fail("durable_unexpected", chk["unexpected"])
    tally.fail("durable_out_of_order", chk["out_of_order"])
    tally.record(topic.last_ack("durable") == final, "ack_not_at_tail")
    for off, (ev, msg) in published.items():
        if off in durable.messages and durable.messages[off] != msg:
            tally.fail("durable_payload")
    # ephemeral: exactly the published messages of its event
    want = {o: m for o, (e, m) in published.items() if e == the_event}
    tally.record(True, n=len(want))
    tally.fail("ephemeral_missing", len(set(want) - set(ephemeral.first)))
    tally.fail("ephemeral_unexpected", len(set(ephemeral.first) - set(want)))
    tally.fail(
        "ephemeral_payload",
        sum(ephemeral.messages[o] != m for o, m in want.items() if o in ephemeral.messages),
    )

    lat_dur, miss_d = due_latencies(due_at, durable.first, deadline)
    eph_due = {o: d for o, d in due_at.items() if o in want}
    lat_eph, _miss_e = due_latencies(eph_due, ephemeral.first, deadline)
    tally.fail("deliver_deadline", len([o for o in miss_d if o in durable.first]))
    lat = lat_dur + lat_eph
    arrivals = [durable.first[o] for o in due_at if o in durable.first]
    span = (max(arrivals) - gen.t0) if arrivals else ctx.seconds
    e2e, lines = harness.latency_block(lat, call_s, ("deliver", "publish"))
    e2e["setup_s"], setup_line = harness.setup_time(session_s, fixture_s, warm_s)
    e2e["delivered_per_s"] = len(arrivals) / span

    report = lines + [
        setup_line,
        f"offered {RATE_PER_S:g} msg/s open loop, {n} messages, "
        f"{SEED_SEGMENTS} seed segments, duplicates {chk['duplicates']}",
    ]

    layer = {
        "session.start_s": session_s,
        "loadgen.late_ms_p99": harness.late_p99_ms(gen.late_s),
        "topic_log.segments_end": float(harness.count_segments(topic.log_dir)),
        "subscribe.lag_msgs_max": float(lag_max),
        "subscribe.unique_ratio": chk["unique"] / max(1, len(durable.offsets)),
    }
    if tr.enabled:
        layer.update(harness.progress_layer(progress))
        layer.update(harness.tracer_layer(tr))
    return harness.Result(e2e, tally, report, layer, probe)


def _wait(pred, timeout: float) -> bool:
    end = time.perf_counter() + timeout
    while time.perf_counter() < end:
        if pred():
            return True
        time.sleep(0.02)
    return False
