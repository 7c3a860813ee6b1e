"""Streaming pub/sub semantics, ported 1:1 from the reference's mocha
scenarios (/root/reference/test/topic.js; canonical sequences in
FIXTURES.md §B).  availableNow triggers + awaitTermination replace the
reference's wall-clock sleeps, making every test deterministic.
"""

import json

import pytest

from kafkaish_spark.streaming.subscribe import subscribe


def _drain(topic, name=None, event=None, replay=False, fail_at=None):
    got = []

    def cb(ev, msg, off):
        if fail_at is not None and off == fail_at:
            raise RuntimeError(f"simulated consumer crash at {off}")
        got.append((ev, json.loads(msg)["number"] if msg.startswith("{") else msg, off))

    sub = subscribe(topic, cb, event=event, name=name, replay=replay)
    try:
        sub.await_termination()
    except Exception:
        if fail_at is None:
            raise
    finally:
        sub.unsubscribe()
    return got


def test_ephemeral_misses_pre_subscribe(engine):
    """test/topic.js:93-116 — ephemeral subscriber does NOT see the
    message published before it subscribed."""
    topic = engine.prepare_topic("s_eph")
    topic.publish("test-event", {"number": 1})
    got = _drain(topic)  # ephemeral: from now; backlog invisible
    assert got == []
    topic.publish("test-event", {"number": 2})
    # a NEW ephemeral subscription again starts from now
    assert _drain(topic) == []


def test_durable_replay_backlog_then_live(engine):
    """test/topic.js:117-147 — durable replay delivers backlog, then a
    later run delivers what was published after, in order."""
    topic = engine.prepare_topic("s_replay")
    topic.publish("ev", {"number": 1})
    got = _drain(topic, name="sub1", replay=True)
    assert [n for _, n, _ in got] == [1]
    topic.publish("ev", {"number": 2})
    got2 = _drain(topic, name="sub1", replay=True)
    assert [n for _, n, _ in got2] == [2]


def test_resume_from_last_ack(engine):
    """test/topic.js:180-242 — publish 1-6, consume (acks commit),
    publish 7-10, resubscribe -> receives only 7-10."""
    topic = engine.prepare_topic("s_resume")
    topic.publish_batch([("ev", {"number": i}) for i in range(1, 7)])
    got = _drain(topic, name="worker", replay=True)
    assert [n for _, n, _ in got] == [1, 2, 3, 4, 5, 6]
    assert topic.last_ack("worker") == 6
    topic.publish_batch([("ev", {"number": i}) for i in range(7, 11)])
    got2 = _drain(topic, name="worker", replay=True)
    assert [n for _, n, _ in got2] == [7, 8, 9, 10]


def test_unacked_redelivered(engine):
    """test/topic.js:243-309 — if the consumer dies before the batch
    commits, the uncommitted messages are redelivered on the next
    subscribe (at-least-once)."""
    topic = engine.prepare_topic("s_redeliver")
    topic.publish_batch([("ev", {"number": i}) for i in range(1, 6)])
    got = _drain(topic, name="worker", replay=True, fail_at=3)
    # crash mid-batch: batch did not commit, ack not advanced
    assert topic.last_ack("worker") is None
    got2 = _drain(topic, name="worker", replay=True)
    assert [n for _, n, _ in got2] == [1, 2, 3, 4, 5]
    assert topic.last_ack("worker") == 5


def test_durable_without_replay_starts_now(engine):
    """test/topic.js:311-377 — a durable subscriber without replay only
    sees post-subscribe publishes, and resumes correctly."""
    topic = engine.prepare_topic("s_livedur")
    topic.publish_batch([("ev", {"number": i}) for i in range(1, 5)])
    got = _drain(topic, name="live1", replay=False)
    assert got == []  # 1-4 published before first subscribe
    topic.publish_batch([("ev", {"number": i}) for i in range(5, 11)])
    got2 = _drain(topic, name="live1", replay=False)
    assert [n for _, n, _ in got2] == [5, 6, 7, 8, 9, 10]


def test_replay_none_means_tail_start(engine):
    """Regression (r6 ADVICE): the documented time-seek composition
    ``subscribe(replay=topic.offset_for_time(t))`` must be None-safe —
    offset_for_time returns None when nothing is that recent, and
    replay=None means the same as replay=False (start at the tail)."""
    import time as _time

    topic = engine.prepare_topic("s_seeknone")
    topic.publish_batch([("ev", {"number": i}) for i in range(1, 4)])
    seek = topic.offset_for_time(_time.time() + 3600)  # future: nothing
    assert seek is None
    got = _drain(topic, name="seeker", replay=seek and seek - 1)
    assert got == []  # tail start: backlog 1-3 not delivered
    topic.publish_batch([("ev", {"number": 4})])
    got2 = _drain(topic, name="seeker", replay=seek and seek - 1)
    assert [n for _, n, _ in got2] == [4]


def test_event_routing_and_wildcard(engine):
    """README.md:81-87 — event filter routes; null event receives all
    (including live, fixing the reference's broken live wildcard,
    src/topic.js:108)."""
    topic = engine.prepare_topic("s_route")
    topic.publish_batch(
        [("a", {"number": 1}), ("b", {"number": 2}), ("a", {"number": 3})]
    )
    only_a = _drain(topic, name="suba", event="a", replay=True)
    assert [n for _, n, _ in only_a] == [1, 3]
    everything = _drain(topic, name="suball", event=None, replay=True)
    assert [n for _, n, _ in everything] == [1, 2, 3]


def test_unsubscribe_stops_delivery(engine):
    """test/topic.js:148-179 — after unsubscribe, no further delivery;
    one query per subscriber so no shared-cursor refcounting."""
    topic = engine.prepare_topic("s_unsub")
    topic.publish("ev", {"number": 1})
    got = []
    sub = subscribe(
        topic, lambda e, m, o: got.append(o), name="u1", replay=True
    )
    sub.await_termination()
    sub.unsubscribe()
    assert not sub.is_active
    topic.publish("ev", {"number": 2})
    # stopped query delivers nothing more until re-subscribed
    assert got == [1]


def test_two_subscribers_independent_offsets(engine):
    """Fan-out: two durable names each get the full stream and track
    their own offsets (ref: EventEmitter fan-out + per-name acks)."""
    topic = engine.prepare_topic("s_fanout")
    topic.publish_batch([("ev", {"number": i}) for i in range(1, 4)])
    a = _drain(topic, name="alpha", replay=True)
    b = _drain(topic, name="beta", replay=True)
    assert [n for _, n, _ in a] == [1, 2, 3]
    assert [n for _, n, _ in b] == [1, 2, 3]
    assert topic.last_ack("alpha") == 3
    assert topic.last_ack("beta") == 3


def test_poison_message_routes_to_dlq(engine):
    """on_error='dlq': a throwing callback parks the message in
    <topic>__dlq with the error, delivery continues, and the batch
    still acks (poison is persisted, not lost, not redelivered)."""
    import json as _json

    from kafkaish_spark.streaming.subscribe import subscribe

    topic = engine.prepare_topic("t_dlq")
    topic.publish_batch([("ev", {"n": i}) for i in range(1, 6)])

    seen = []

    def cb(event, message, offset):
        if _json.loads(message)["n"] == 3:
            raise ValueError("cannot handle three")
        seen.append(offset)

    # clean run first: no poison yet -> NO phantom __dlq dir created
    ok = subscribe(
        topic, lambda e, m, o: None, name="probe", replay=True, on_error="dlq"
    )
    ok.await_termination()
    import os as _os

    assert not _os.path.exists(_os.path.join(_os.path.dirname(topic.root), "t_dlq__dlq"))

    sub = subscribe(topic, cb, name="worker", replay=True, on_error="dlq")
    sub.await_termination()
    assert seen == [1, 2, 4, 5]
    assert topic.last_ack("worker") == 5

    dlq = engine.prepare_topic("t_dlq__dlq")
    rows = dlq.log().collect()
    assert len(rows) == 1
    payload = _json.loads(rows[0]["message"])
    assert payload["src_offset"] == 3
    assert payload["src_topic"] == "t_dlq"
    assert "cannot handle three" in payload["error"]

    # resume: nothing redelivered, no duplicate DLQ rows
    seen.clear()
    sub2 = subscribe(topic, cb, name="worker", replay=True, on_error="dlq")
    sub2.await_termination()
    assert seen == []
    assert dlq.log().count() == 1


def test_on_error_raise_redelivers_batch(engine):
    """Default on_error='raise': the failed micro-batch never commits,
    so resume redelivers it — at-least-once preserved."""
    from kafkaish_spark.streaming.subscribe import subscribe

    topic = engine.prepare_topic("t_poison_raise")
    topic.publish_batch([("ev", {"n": 1}), ("ev", {"n": 2})])

    def bad(event, message, offset):
        raise RuntimeError("boom")

    sub = subscribe(topic, bad, name="w2", replay=True)
    try:
        sub.await_termination()
    except Exception:
        pass
    assert topic.last_ack("w2") in (None, 0)

    got = []
    sub2 = subscribe(
        topic, lambda e, m, o: got.append(o), name="w2", replay=True
    )
    sub2.await_termination()
    assert got == [1, 2]


def test_pattern_subscription_unions_matching_topics(spark, engine):
    """Kafka subscribe(Pattern) analog: regex topic selection + union
    read with per-topic offsets."""
    for name in ("orders_eu", "orders_us", "audit"):
        tp = engine.prepare_topic(name)
        tp.publish_batch([("e", {"t": name, "i": i}) for i in range(3)])
    assert engine.topics_matching(r"orders_.*") == ["orders_eu", "orders_us"]
    df = engine.union_matching(r"orders_.*")
    rows = df.collect()
    assert len(rows) == 6
    assert {r.topic for r in rows} == {"orders_eu", "orders_us"}
    # per-shard offsets each start at 1 (per-shard order, Kafka-partition analog)
    per = {}
    for r in rows:
        per.setdefault(r.topic, []).append(r.offset)
    assert all(sorted(v) == [1, 2, 3] for v in per.values())


def test_delivery_monitor_records_throughput(spark, engine, tmp_path):
    """DeliveryMonitor must see the subscription's batches and rows."""
    import time

    from kafkaish_spark.streaming.monitor import DeliveryMonitor
    from kafkaish_spark.streaming.subscribe import subscribe

    topic = engine.prepare_topic("mon_t")
    topic.publish_batch([("e", {"i": i}) for i in range(10)])
    mon = DeliveryMonitor.attach(spark)
    try:
        got = []
        sub = subscribe(
            topic, lambda e, m, o: got.append(o), name="mon_sub", replay=True
        )
        sub.await_termination(120)
        assert len(got) == 10
        # listener bus is async: give it a moment to drain
        deadline = time.time() + 30
        while time.time() < deadline:
            ms = mon.metrics()
            if any(m["rows"] >= 10 and m["batches"] >= 1 for m in ms.values()):
                break
            time.sleep(0.5)
        ms = mon.metrics()
        assert any(m["rows"] >= 10 and m["batches"] >= 1 for m in ms.values()), ms
        mdf = mon.metrics_df(spark)
        assert mdf.filter(mdf.rows >= 10).count() >= 1
    finally:
        mon.detach(spark)


def test_backlog_drain_is_bounded(engine, monkeypatch):
    """VERDICT r1 item 1: a durable subscriber with DEFAULT settings must
    NOT collect the whole backlog in one micro-batch.  12 single-message
    publishes = 12 log files; with the default byte bound set to the
    size of about 4 of them, the availableNow drain takes >= 3
    micro-batches, and none holds more than the bound plus one file
    (the source admits one file even when it alone exceeds the bound)."""
    import importlib

    # the package re-exports the function under the module's name
    subscribe_mod = importlib.import_module("kafkaish_spark.streaming.subscribe")

    topic = engine.prepare_topic("s_bounded")
    for i in range(1, 13):
        topic.publish("ev", {"number": i})
    size_of = {
        s["min_off"]: s["size"] for s in topic._segment_stats() if s["num_rows"]
    }
    bound = 4 * max(size_of.values())
    monkeypatch.setattr(subscribe_mod, "DEFAULT_CALLBACK_MAX_BYTES", bound)

    got = []
    sub = subscribe(topic, lambda e, m, o: got.append(o), name="b1", replay=True)
    sub.await_termination()
    progress = [p for p in sub.query.recentProgress if p["numInputRows"] > 0]
    sub.unsubscribe()

    assert got == list(range(1, 13))  # everything delivered, in order
    assert topic.last_ack("b1") == 12
    # bounded drain: multiple batches, none bigger than the bound + 1 file
    assert len(progress) >= 3
    first = 0
    for p in progress:
        batch = got[first : first + p["numInputRows"]]
        first += p["numInputRows"]
        assert sum(size_of[o] for o in batch) <= bound + max(size_of.values())


def test_attach_to_long_log_delivers_within_two_batches(engine):
    """A subscriber attached at the tail of a log of many one-message
    segments must not sweep the log a few files per trigger before its
    first delivery: the next published message arrives within two
    micro-batches, for a durable and for an ephemeral subscriber.  40
    segments is above Spark's default 32-path threshold for listing a
    batch's files with a Spark job."""
    import time

    topic = engine.prepare_topic("s_attach")
    for i in range(1, 41):
        topic.publish("ev", {"number": i})

    durable, ephemeral = [], []
    subs = [
        subscribe(
            topic, lambda e, m, o: durable.append(o), name="tail", available_now=False
        ),
        subscribe(topic, lambda e, m, o: ephemeral.append(o), available_now=False),
    ]
    try:
        off = int(topic.publish("ev", {"number": 41})["offset"])
        deadline = time.time() + 120
        while off not in durable or off not in ephemeral:
            if time.time() > deadline:
                break
            time.sleep(0.1)
        for s in subs:
            s.query.processAllAvailable()
        assert durable == [off] and ephemeral == [off]
        for s in subs:
            ran = [p for p in s.query.recentProgress if "addBatch" in p["durationMs"]]
            assert 1 <= len(ran) <= 2, [p["numInputRows"] for p in ran]
    finally:
        for s in subs:
            s.unsubscribe()
    assert topic.last_ack("tail") == off


def test_checkpoint_commits_write_no_checksum_sidecars(engine):
    """The engine session commits streaming checkpoints through the raw
    local file system: after three triggers of a durable subscriber its
    offset WAL and commit log hold no Hadoop ``.crc`` sidecars (each
    sidecar cost a forked ``chmod``).  The checkpoint still resumes:
    after a stop and two more publishes, a resubscribe delivers exactly
    the two new offsets, in order, and acks the tail."""
    import os
    import time

    topic = engine.prepare_topic("s_nocrc")
    got = []
    sub = subscribe(topic, lambda e, m, o: got.append(o), name="w", available_now=False)
    try:
        for i in range(1, 4):
            off = int(topic.publish("ev", {"number": i})["offset"])
            deadline = time.time() + 120
            while off not in got and time.time() < deadline:
                time.sleep(0.05)
        sub.query.processAllAvailable()
    finally:
        sub.unsubscribe()
    assert got == [1, 2, 3]
    assert topic.last_ack("w") == 3

    for log in ("offsets", "commits"):
        names = os.listdir(os.path.join(sub.checkpoint, log))
        assert len([n for n in names if n.isdigit()]) >= 3, names
        assert not [n for n in names if n.endswith(".crc")], names

    topic.publish_batch([("ev", {"number": 4}), ("ev", {"number": 5})])
    again = []
    resumed = subscribe(topic, lambda e, m, o: again.append(o), name="w")
    try:
        resumed.await_termination()
    finally:
        resumed.unsubscribe()
    assert again == [4, 5]
    assert topic.last_ack("w") == topic.latest() == 5


def test_subscribe_batches_never_collects(engine):
    """DataFrame-level delivery (VERDICT r1 item 1): batch_fn gets the
    micro-batch DataFrame, no row collect; acks advance per batch and a
    second run redelivers nothing."""
    from kafkaish_spark.streaming.subscribe import subscribe_batches

    topic = engine.prepare_topic("s_dfmode")
    topic.publish_batch([("ev", {"number": i}) for i in range(1, 9)])

    batches = []

    def batch_fn(batch_df, batch_id):
        # consumer logic stays distributed: an aggregate, not a collect
        n = batch_df.count()
        batches.append((batch_id, n))

    sub = subscribe_batches(topic, batch_fn, name="dfw", replay=True)
    sub.await_termination()
    sub.unsubscribe()
    assert sum(n for _, n in batches) == 8
    assert topic.last_ack("dfw") == 8

    again = []
    sub2 = subscribe_batches(
        topic, lambda df, bid: again.append(df.count()), name="dfw", replay=True
    )
    sub2.await_termination()
    sub2.unsubscribe()
    assert sum(again) == 0  # nothing redelivered


def test_per_message_ack_granularity(engine):
    """VERDICT r1 item 3: with one message per file and
    max_files_per_trigger=1, the redelivery unit IS one message — the
    reference's granularity (src/topic.js:174-187).  Consume 1 fine,
    crash on 2: ack stops at 1, and ONLY 2..3 are redelivered."""
    topic = engine.prepare_topic("s_msggran")
    for i in range(1, 4):
        topic.publish("ev", {"number": i})

    got = []

    def cb(ev, msg, off):
        if off == 2:
            raise RuntimeError("crash on message 2")
        got.append(off)

    sub = subscribe(
        topic, cb, name="g1", replay=True, max_files_per_trigger=1
    )
    try:
        sub.await_termination()
    except Exception:
        pass
    finally:
        sub.unsubscribe()
    assert got == [1]
    assert topic.last_ack("g1") == 1  # message-1 batch committed alone

    got2 = []
    sub2 = subscribe(
        topic,
        lambda e, m, o: got2.append(o),
        name="g1",
        replay=True,
        max_files_per_trigger=1,
    )
    sub2.await_termination()
    sub2.unsubscribe()
    assert got2 == [2, 3]  # exactly the unacked tail, message 1 not repeated
    assert topic.last_ack("g1") == 3
