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


def test_checkpoint_commits_write_no_checksum_sidecars(engine, tmp_path):
    """The engine session commits streaming checkpoints through the raw
    local file system: after three triggers of a continuous user
    ``source.stream()`` query into ``writeStream.format("kafkaish")``
    its offset WAL and commit log hold no Hadoop ``.crc`` sidecars (each
    sidecar cost a forked ``chmod``).  The checkpoint still resumes:
    after a stop and two more publishes, the resumed query delivers
    exactly the two new messages, in order."""
    import os
    import time

    from kafkaish_spark.sources.pyds import register

    register(engine.spark)
    source = engine.prepare_topic("s_nocrc")
    sink = engine.prepare_topic("s_nocrc_sink")
    checkpoint = str(tmp_path / "nocrc_ckpt")

    def numbers(since=0):
        return [json.loads(r["message"])["number"] for r in sink.replay(since).collect()]

    def relay(available_now):
        writer = (
            source.stream()
            .select("event", "message")
            .writeStream.format("kafkaish")
            .option("path", engine.root)
            .option("topic", sink.name)
            .option("checkpointLocation", checkpoint)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    query = relay(available_now=False)
    try:
        for i in range(1, 4):
            source.publish("ev", {"number": i})
            deadline = time.time() + 120
            while sink.latest() < i and time.time() < deadline:
                time.sleep(0.05)
        query.processAllAvailable()
    finally:
        query.stop()
    assert numbers() == [1, 2, 3]

    for log in ("offsets", "commits"):
        names = os.listdir(os.path.join(checkpoint, log))
        assert len([n for n in names if n.isdigit()]) >= 3, names
        assert not [n for n in names if n.endswith(".crc")], names

    source.publish_batch([("ev", {"number": 4}), ("ev", {"number": 5})])
    resumed = relay(available_now=True)
    try:
        resumed.awaitTermination(120)
    finally:
        resumed.stop()
    assert numbers(since=3) == [4, 5]
    assert sink.latest() == 5


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


def test_live_delivery_crosses_source_log_compactions(engine):
    """22 live batches of 1, 2 or 3 messages (enough to cross the two
    compactions of a Spark file-source log, every tenth entry, when
    live delivery still read one): each offset is delivered exactly
    once, in order, and each batch's ``numInputRows`` equals the rows
    delivered in it."""
    import time

    topic = engine.prepare_topic("s_compact_log")
    got = []
    sub = subscribe(
        topic, lambda e, m, o: got.append(o), name="w", replay=True,
        available_now=False,
    )
    sizes = [1 + k % 3 for k in range(22)]
    try:
        for k, size in enumerate(sizes):
            rows = topic.publish_batch([("ev", {"number": k})] * size)
            last = int(rows[-1]["offset"])
            deadline = time.time() + 120
            while last not in got and time.time() < deadline:
                time.sleep(0.02)
        sub.query.processAllAvailable()
        progress = {
            p["batchId"]: p["numInputRows"]
            for p in sub.query.recentProgress
            if p["numInputRows"] > 0
        }
    finally:
        sub.unsubscribe()

    assert got == list(range(1, sum(sizes) + 1))
    assert [progress[b] for b in sorted(progress)] == sizes
    assert topic.last_ack("w") == sum(sizes)


def test_dropped_row_fails_batch_without_ack(engine, monkeypatch):
    """Delivery checks that the rows it read from the segment files are
    exactly the offsets after its cursor, before any callback.  A
    segment reader that drops a row makes the batch raise with no
    callback run and no ack, so a resumed durable subscriber gets the
    whole batch again."""
    import importlib

    import pyarrow.compute as pc

    subscribe_mod = importlib.import_module("kafkaish_spark.streaming.subscribe")
    read_segment = subscribe_mod.read_segment

    def drop_offset_2(*args, **kwargs):
        tbl = read_segment(*args, **kwargs)
        return tbl.filter(pc.not_equal(tbl["offset"], 2))

    topic = engine.prepare_topic("s_cross_check")
    topic.publish_batch([("ev", {"number": i}) for i in range(1, 4)])

    monkeypatch.setattr(subscribe_mod, "read_segment", drop_offset_2)
    got = []
    sub = subscribe(topic, lambda e, m, o: got.append(o), name="w", replay=True)
    footers = r"2 offsets read do not match the segment footers \(3 in 1\.\.3\)"
    with pytest.raises(Exception, match=footers):
        sub.await_termination()
    sub.unsubscribe()
    assert got == []
    assert topic.last_ack("w") is None

    monkeypatch.undo()
    again = []
    sub = subscribe(topic, lambda e, m, o: again.append(o), name="w", replay=True)
    sub.await_termination()
    sub.unsubscribe()
    assert again == [1, 2, 3]
    assert topic.last_ack("w") == 3


def test_ephemeral_unsubscribe_removes_checkpoint(engine):
    """A follower keeps no on-disk state beyond its JSON ack file and
    start marker: neither ``subscribe`` nor ``subscribe_batches``,
    ephemeral or durable, has a checkpoint, creates a directory under
    the topic's ``_subscribers``, or leaves a temp directory."""
    import os
    import tempfile

    from kafkaish_spark.streaming.subscribe import subscribe_batches

    topic = engine.prepare_topic("s_eph_cleanup")
    topic.publish("ev", {"number": 1})
    before = set(os.listdir(tempfile.gettempdir()))
    for sub_fn, deliver, durable in (
        (subscribe, lambda e, m, o: None, "keep_msg"),
        (subscribe_batches, lambda df, bid: None, "keep_df"),
    ):
        for name in (None, durable):
            sub = sub_fn(topic, deliver, name=name, replay=True)
            sub.await_termination()
            sub.unsubscribe()
    new = set(os.listdir(tempfile.gettempdir())) - before
    assert not [d for d in new if d.startswith("kafkaish_ephemeral_")], new
    assert not [
        d for d in os.listdir(topic.sub_dir)
        if os.path.isdir(os.path.join(topic.sub_dir, d))
    ]
    assert topic.last_ack("keep_msg") == topic.last_ack("keep_df") == 1


def test_start_marker_survives_crash_mid_write(engine, monkeypatch):
    """A crash while a durable subscriber's ``<name>.start.json`` marker
    is being written must not leave a truncated marker behind: the next
    subscribe of that name starts as if the first had never run."""
    import importlib
    import json as json_mod
    import types

    subscribe_mod = importlib.import_module("kafkaish_spark.streaming.subscribe")

    def torn_dump(obj, fh):
        fh.write('{"start_off')
        raise OSError("injected: disk full")

    topic = engine.prepare_topic("s_torn_marker")
    topic.publish_batch([("ev", {"number": i}) for i in range(1, 4)])
    torn_json = types.SimpleNamespace(**{**vars(json_mod), "dump": torn_dump})
    monkeypatch.setattr(subscribe_mod, "json", torn_json)
    with pytest.raises(OSError, match="injected"):
        subscribe(topic, lambda e, m, o: None, name="m", replay=True)

    monkeypatch.undo()
    got = []
    sub = subscribe(topic, lambda e, m, o: got.append(o), name="m", replay=True)
    sub.await_termination()
    sub.unsubscribe()
    assert got == [1, 2, 3]
    assert topic.last_ack("m") == 3


def test_subscribe_partitioned_log_under_escaped_path(spark, tmp_path):
    """The file-source log names a batch's files as ``file://`` URIs,
    percent-encoded; delivery maps them back to local paths, also for
    ``pub_date=`` partition directories under a root whose name holds a
    space and a ``%``."""
    from pyspark.sql import functions as F

    from kafkaish_spark.sources.topic_log import Engine

    engine = Engine(spark, str(tmp_path / "a root %20"))
    topic = engine.prepare_topic("s_part", partitioned=True)
    df = spark.createDataFrame(
        [("e", "d1", "2024-01-01 10:00:00"), ("e", "d2", "2024-01-02 10:00:00")],
        "event string, message string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    topic.publish_df(df)
    topic.publish_batch([("e", "d3")])

    got = []
    sub = subscribe(
        topic, lambda e, m, o: got.append((o, m)), name="w", replay=True
    )
    sub.await_termination()
    sub.unsubscribe()
    assert got == [(1, "d1"), (2, "d2"), (3, "d3")]
    assert topic.last_ack("w") == 3


def _wait_for(pred, timeout=60.0):
    import time

    deadline = time.time() + timeout
    while not pred() and time.time() < deadline:
        time.sleep(0.01)
    return pred()


def test_cross_process_publisher_reaches_live_subscriber(engine):
    """A publisher in another process cannot wake this process's
    followers through its writer lock; the topic's watcher sees its
    commits in the log listing.  Every message reaches a continuous
    durable subscriber, in order, each within a few watcher polls."""
    import os
    import subprocess
    import sys
    import time

    topic = engine.prepare_topic("s_xproc")
    got, arrived = [], {}

    def cb(ev, msg, off):
        got.append(off)
        arrived[off] = time.time()

    sub = subscribe(topic, cb, name="x", available_now=False)
    script = (
        "import json, sys, time\n"
        "from kafkaish_spark.sources.topic_log import Topic\n"
        "t = Topic(None, sys.argv[1], sys.argv[2])\n"
        "for i in range(8):\n"
        "    time.sleep(0.2)\n"
        "    off = int(t.publish('ev', {'number': i})['offset'])\n"
        "    print(json.dumps([off, time.time()]), flush=True)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": repo}
    try:
        out = subprocess.run(
            [sys.executable, "-c", script, engine.root, "s_xproc"],
            env=env, capture_output=True, text=True, timeout=120, check=True,
        ).stdout
        published = dict(json.loads(line) for line in out.splitlines())
        assert _wait_for(lambda: len(got) >= 8)
    finally:
        sub.unsubscribe()
    assert got == list(range(1, 9)) == sorted(published)
    waits = sorted(arrived[o] - published[o] for o in got)
    # the median is a few 10 ms polls; the worst one allows for a
    # loaded host, where the thread may be scheduled late
    assert waits[len(waits) // 2] < 0.25, waits
    assert waits[-1] < 2.0, waits
    assert topic.last_ack("x") == 8


def _stage_segment(topic, offsets, event="ev"):
    """Write a one-segment envelope file for ``offsets`` hidden in the
    log dir (as a writer does before its commit rename) and return
    (hidden path, live path)."""
    import datetime
    import os
    from uuid import uuid4

    import pyarrow as pa
    import pyarrow.parquet as pq

    now = datetime.datetime.now(datetime.timezone.utc)
    tbl = pa.table(
        {
            "offset": pa.array(offsets, pa.int64()),
            "ts": pa.array([now] * len(offsets), pa.timestamp("us", tz="UTC")),
            "event": pa.array([event] * len(offsets), pa.string()),
            "message": pa.array([f"m{o}" for o in offsets], pa.string()),
        }
    )
    fn = f"part-00000-{uuid4().hex}.snappy.parquet"
    hidden = os.path.join(topic.log_dir, "." + fn + ".inprogress")
    pq.write_table(tbl, hidden)
    return hidden, os.path.join(topic.log_dir, fn)


def test_gap_waits_for_commit_in_flight_and_skips_a_hole(engine):
    """Spark renames a job's files one by one, in any order.  With the
    writer lock held, a gap after the cursor is a commit in flight:
    the higher segment alone delivers nothing, and once the lower one
    lands both arrive in order.  A gap left with no lock held is a
    hole, skipped as the file source would."""
    import os
    import time

    from kafkaish_spark.sources.topic_log import writer_lock

    topic = engine.prepare_topic("s_gaps")
    topic.publish("ev", "m1")
    got = []
    sub = subscribe(
        topic, lambda e, m, o: got.append(o), name="g", available_now=False
    )
    try:
        low = _stage_segment(topic, [2, 3])
        high = _stage_segment(topic, [4])
        with writer_lock(topic.root, what="test-commit"):
            os.replace(*high)
            time.sleep(0.3)  # ~30 watcher polls
            assert got == []
            os.replace(*low)
            assert _wait_for(lambda: len(got) == 3)
        assert got == [2, 3, 4]
        assert _wait_for(lambda: topic.last_ack("g") == 4)

        # offset 5 never lands: a hole, once the lock is seen free
        os.replace(*_stage_segment(topic, [6]))
        assert _wait_for(lambda: 6 in got)
        assert int(topic.publish("ev", "m7")["offset"]) == 7
        assert _wait_for(lambda: 7 in got)
    finally:
        sub.unsubscribe()
    assert got == [2, 3, 4, 6, 7]
    assert topic.last_ack("g") == 7


def test_resume_below_retention_starts_from_what_remains(engine):
    """Retention removed offsets a durable subscriber had not reached:
    its cursor sits below the first surviving offset, and it resumes
    from what remains (a gap with the writer lock free is a hole)."""
    topic = engine.prepare_topic("s_retained")
    for i in range(1, 4):
        topic.publish("ev", {"number": i})
    assert [o for _, _, o in _drain(topic, name="r", replay=True)] == [1, 2, 3]
    for i in range(4, 8):
        topic.publish("ev", {"number": i})
    assert topic.truncate_before(6) > 0
    assert [o for _, _, o in _drain(topic, name="r", replay=True)] == [6, 7]
    assert topic.last_ack("r") == 7


def test_compact_small_during_live_durable_subscription(engine):
    """``compact_small`` merges one-message segments while a continuous
    durable subscriber follows the topic.  The first compaction runs
    while a callback holds the cursor at offset 10, so the follower
    resumes inside the merged file; later ones race live delivery.
    Every offset is delivered exactly once and in order, and a resumed
    subscriber gets only what came after, no duplicates."""
    import threading

    topic = engine.prepare_topic("s_live_compact")
    for i in range(40):
        topic.publish("ev", {"number": i})
    got, compacted = [], threading.Event()

    def cb(ev, msg, off):
        if off == 10:
            compacted.wait(120)
        got.append(off)

    sub = subscribe(
        topic, cb, name="c", replay=True, available_now=False,
        max_files_per_trigger=1,
    )
    try:
        assert _wait_for(lambda: len(got) == 9)
        assert topic.compact_small() > 0
        compacted.set()
        for _round in range(2):
            for i in range(10):
                topic.publish("ev", {"number": i})
            assert topic.compact_small() > 0
        tail = topic.latest()
        assert _wait_for(lambda: topic.last_ack("c") == tail)
    finally:
        compacted.set()
        sub.unsubscribe()
    assert got == list(range(1, tail + 1))
    assert len([s for s in topic._segment_stats() if s["num_rows"]]) < 5

    topic.publish_batch([("ev", {"number": 98}), ("ev", {"number": 99})])
    again = []
    resumed = subscribe(topic, lambda e, m, o: again.append(o), name="c")
    resumed.await_termination()
    resumed.unsubscribe()
    assert again == [tail + 1, tail + 2]


def test_segment_vanishing_mid_read_is_transient(engine, monkeypatch):
    """A segment that a compaction swaps away between the listing and
    the read is not an error: the follower plans the batch again and
    delivers it once."""
    import importlib

    subscribe_mod = importlib.import_module("kafkaish_spark.streaming.subscribe")
    read_segment = subscribe_mod.read_segment
    calls = []

    def vanish_once(*args, **kwargs):
        calls.append(args[0])
        if len(calls) == 1:
            raise FileNotFoundError(args[0])
        return read_segment(*args, **kwargs)

    topic = engine.prepare_topic("s_vanish")
    topic.publish_batch([("ev", {"number": i}) for i in range(1, 4)])
    monkeypatch.setattr(subscribe_mod, "read_segment", vanish_once)
    got = []
    sub = subscribe(topic, lambda e, m, o: got.append(o), name="v", replay=True)
    sub.await_termination(60)
    sub.unsubscribe()
    assert len(calls) == 2
    assert got == [1, 2, 3]
    assert topic.last_ack("v") == 3


def test_subscribe_after_keyed_compaction_delivers_survivors(engine):
    """``compact_keyed`` leaves a sparse log: the latest record per key,
    offsets preserved.  A replaying subscriber gets exactly the
    survivors in offset order, and live delivery continues after them."""
    topic = engine.prepare_topic("s_keyed")
    keys = ["a", "b", "a", "c", "a", "c", "d", "d", "e"]  # offsets 1..9
    topic.publish_batch([(k, {"number": i}) for i, k in enumerate(keys, 1)])
    assert topic.compact_keyed(target_files=2) == 4
    survivors = sorted(r["offset"] for r in topic.log().collect())
    assert survivors == [2, 5, 6, 8, 9]
    got = _drain(topic, name="kc", replay=True)
    assert [o for _, _, o in got] == survivors
    topic.publish("k0", {"number": 10})
    assert [o for _, _, o in _drain(topic, name="kc", replay=True)] == [10]
    assert topic.last_ack("kc") == 10


def test_one_active_durable_name_per_topic(engine):
    """Two live followers with one durable name would race on its ack
    file: the second subscribe raises while the first is active, and
    succeeds once it is stopped."""
    topic = engine.prepare_topic("s_dup_name")
    first = subscribe(topic, lambda e, m, o: None, name="n", available_now=False)
    try:
        with pytest.raises(RuntimeError, match="already active"):
            subscribe(topic, lambda e, m, o: None, name="n", available_now=False)
        other = subscribe(topic, lambda e, m, o: None, name="m", available_now=False)
        other.unsubscribe()
    finally:
        first.unsubscribe()
    again = subscribe(topic, lambda e, m, o: None, name="n")
    again.await_termination()
    again.unsubscribe()
