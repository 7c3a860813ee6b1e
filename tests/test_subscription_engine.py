"""Every subscription API on one follower engine (streaming/subscribe.py):
``subscribe_batches``, consumer-group members and ``pipe`` follow the
message-offset cursor, and the JSON ack file is every subscriber's only
position."""

import json
import os
import threading
import time

import pytest

from kafkaish_spark.streaming.subscribe import subscribe_batches


def _wait_for(pred, timeout=60.0):
    deadline = time.time() + timeout
    while not pred() and time.time() < deadline:
        time.sleep(0.01)
    return pred()


def _offsets(df):
    return sorted(int(r["offset"]) for r in df.select("offset").collect())


def test_compact_small_during_live_durable_subscribe_batches(engine):
    """``compact_small`` merges one-message segments while a continuous
    durable ``subscribe_batches`` follows the topic.  The first
    compaction runs while ``batch_fn`` holds the batch of offset 10, so
    the next batch starts inside the merged file; later ones race live
    delivery.  Every offset arrives exactly once and in order across
    batches, and a resumed subscriber gets only what came after."""
    topic = engine.prepare_topic("b_live_compact")
    for i in range(40):
        topic.publish("ev", {"number": i})
    got, compacted = [], threading.Event()

    def batch_fn(df, _bid):
        offsets = _offsets(df)
        if 10 in offsets:
            compacted.wait(120)
        got.extend(offsets)

    sub = subscribe_batches(
        topic, batch_fn, name="c", replay=True, available_now=False,
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
        assert _wait_for(lambda: topic.last_ack("c") == tail, 120)
    finally:
        compacted.set()
        sub.unsubscribe()
    assert got == list(range(1, tail + 1))

    topic.publish_batch([("ev", {"number": 98}), ("ev", {"number": 99})])
    again = []
    resumed = subscribe_batches(
        topic, lambda df, bid: again.extend(_offsets(df)), name="c"
    )
    resumed.await_termination()
    resumed.unsubscribe()
    assert again == [tail + 1, tail + 2]


def test_batch_frame_holds_each_offset_once(engine):
    """A batch that starts inside a compacted file and goes on over
    one-message segments reads the merged file in part and the rest
    whole: every offset after the cursor is in the frame once, and the
    frame keeps ``Topic.stream()``'s columns."""
    topic = engine.prepare_topic("b_trimmed")
    for i in range(10):
        topic.publish("ev", {"number": i})
    assert topic.compact_small() > 0
    topic.publish("ev", {"number": 10})
    topic.publish("ev", {"number": 11})
    topic.ack("d", 5)
    frames = []

    def batch_fn(df, _bid):
        frames.append((df.columns, _offsets(df)))

    sub = subscribe_batches(topic, batch_fn, name="d", replay=True)
    sub.await_termination()
    sub.unsubscribe()
    assert frames == [(["offset", "ts", "event", "message"], list(range(6, 13)))]
    assert topic.last_ack("d") == 12


def test_segment_vanishing_while_spark_lists_is_replanned(engine, monkeypatch):
    """Spark's listing leaves out, with only a warning, a file that
    vanishes while it lists a frame's paths.  A batch whose planned
    segment is gone once its frame is built is planned again over what
    replaced it, so no offset is lost."""
    import os
    from uuid import uuid4

    from kafkaish_spark.sources.topic_log import Topic

    topic = engine.prepare_topic("b_vanish_listing")
    for i in range(4):
        topic.publish("ev", {"number": i})
    read_segments = Topic.read_segments
    calls = []

    def listing_races_a_swap(self, paths):
        if not calls:  # a compaction swaps the first file away
            moved = f"part-00000-{uuid4().hex}.snappy.parquet"
            os.rename(paths[0], os.path.join(os.path.dirname(paths[0]), moved))
        calls.append(paths)
        return read_segments(self, [p for p in paths if os.path.exists(p)])

    monkeypatch.setattr(Topic, "read_segments", listing_races_a_swap)
    got = []
    sub = subscribe_batches(
        topic, lambda df, bid: got.extend(_offsets(df)), name="v", replay=True
    )
    sub.await_termination(60)
    sub.unsubscribe()
    assert len(calls) == 2
    assert got == [1, 2, 3, 4]
    assert topic.last_ack("v") == 4


def test_batch_frame_of_partitioned_topic_keeps_pub_date(spark, tmp_path):
    from pyspark.sql import functions as F

    from kafkaish_spark.sources.topic_log import Engine

    topic = Engine(spark, str(tmp_path / "part")).prepare_topic("b_part", partitioned=True)
    df = spark.createDataFrame(
        [("e", "d1", "2024-01-01 10:00:00"), ("e", "d2", "2024-01-02 10:00:00")],
        "event string, message string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    topic.publish_df(df)
    rows = []
    sub = subscribe_batches(
        topic,
        lambda df, bid: rows.extend(
            (r["offset"], str(r["pub_date"])) for r in df.orderBy("offset").collect()
        ),
        replay=True,
        name="p",
    )
    sub.await_termination()
    sub.unsubscribe()
    assert rows == [(1, "2024-01-01"), (2, "2024-01-02")]


def test_filtered_out_batch_is_acked(engine):
    """A durable ``subscribe_batches(event=...)`` acks each batch's
    planned end, also when the filter removed every row, so its lag
    reaches 0."""
    topic = engine.prepare_topic("b_filtered")
    topic.publish_batch([("b", {"number": i}) for i in range(3)])
    counts = []
    sub = subscribe_batches(
        topic, lambda df, bid: counts.append(df.count()), event="a",
        name="only_a", replay=True,
    )
    sub.await_termination()
    sub.unsubscribe()
    assert sum(counts) == 0
    assert topic.last_ack("only_a") == topic.latest() == 3
    lag = {r["name"]: r["lag"] for r in topic.subscriber_lag().collect()}
    assert lag == {"only_a": 0}


def test_batch_and_streaming_members_agree_on_twelve_shards(engine):
    """Batch and streaming members of one group own the same shards:
    ``ConsumerGroup`` and ``shard_names`` sort ``b.10`` after ``b.9``."""
    from kafkaish_spark.sources.consumer_group import ConsumerGroup
    from kafkaish_spark.streaming.groups import assignment, shard_names

    names = [f"b.{i}" for i in range(12)]
    for name in reversed(names):
        engine.prepare_topic(name)
    shards = shard_names(engine, "b")
    assert shards == names
    for n in (1, 3, 5):
        group = ConsumerGroup(engine, "g", names, n)
        for m in range(n):
            assert group.assigned(m) == assignment(shards, m, n), (n, m)


def test_poll_starts_at_the_groups_start_marker(engine):
    """A streaming member that joined with ``replay=False`` pinned the
    group's start at the tail; a batch ``poll`` of the same group
    returns only what came after it, its lag counts from there, and
    poll writes no marker."""
    import os

    from kafkaish_spark.sources.consumer_group import ConsumerGroup
    from kafkaish_spark.streaming.groups import subscribe_group

    topic = engine.prepare_topic("pm.0")
    topic.publish_batch([("e", {"n": i}) for i in range(3)])
    sub = subscribe_group(engine, "pm", "g", 0, 1, replay=False)
    sub.await_termination(60)
    topic.publish_batch([("e", {"n": i}) for i in range(3, 5)])

    group = ConsumerGroup(engine, "g", ["pm.0"], 1)
    assert [r["lag"] for r in group.lag().collect()] == [2]
    df, bounds = group.poll(0)
    assert _offsets(df) == [4, 5]
    assert bounds == {"pm.0": 5}

    ConsumerGroup(engine, "other", ["pm.0"], 1).poll(0)
    assert not os.path.exists(os.path.join(topic.sub_dir, "other.start.json"))


def test_group_member_runs_batch_fn_one_at_a_time(engine):
    """A continuous member whose shards receive publishes at the same
    time never re-enters ``batch_fn``, and each shard's offsets arrive
    in order.  Six shards (more follower threads than a small host's
    cores) and a short thread switch interval press the member's lock.
    The member's progress spans every shard under one query id."""
    import sys

    from kafkaish_spark.streaming.groups import subscribe_group

    topics = [engine.prepare_topic(f"cc.{i}") for i in range(6)]
    inside, most, got = [0], [0], {}
    count = threading.Lock()

    def batch_fn(df, _bid):
        with count:
            inside[0] += 1
            most[0] = max(most[0], inside[0])
        try:
            for r in df.orderBy("offset").collect():
                got.setdefault(r["topic"], []).append(int(r["offset"]))
            time.sleep(0.01)
        finally:
            with count:
                inside[0] -= 1

    switch = sys.getswitchinterval()
    sub = subscribe_group(
        engine, "cc", "gcc", 0, 1, batch_fn=batch_fn, available_now=False
    )
    try:
        sys.setswitchinterval(1e-5)
        for k in range(5):
            publishers = [
                threading.Thread(target=t.publish, args=("e", {"k": k}))
                for t in topics
            ]
            for p in publishers:
                p.start()
            for p in publishers:
                p.join(60)
            assert not any(p.is_alive() for p in publishers)
        assert _wait_for(
            lambda: all(t.last_ack("gcc") == 5 for t in topics), 120
        )
        assert sub.is_active
    finally:
        sys.setswitchinterval(switch)
        sub.unsubscribe()
    assert not sub.is_active
    progress = sub.query.recentProgress  # complete once the followers stopped
    assert most[0] == 1
    assert got == {t.name: [1, 2, 3, 4, 5] for t in topics}
    assert {p["id"] for p in progress} == {sub.query.id}
    assert sorted(p["batchId"] for p in progress) == list(range(len(progress)))
    assert sum(p["numInputRows"] for p in progress) == 30


def test_group_member_error_stops_every_shard(engine):
    """A ``batch_fn`` error on one shard ends the whole member:
    ``awaitTermination`` re-raises it, no follower stays active, and
    the failed batch is not acked."""
    from kafkaish_spark.streaming.groups import subscribe_group

    topics = [engine.prepare_topic(f"ce.{i}") for i in range(2)]
    for t in topics:
        t.publish("e", {"n": 1})

    def batch_fn(df, _bid):
        if df.filter(df.topic == "ce.1").count():
            raise RuntimeError("poison shard")

    sub = subscribe_group(
        engine, "ce", "gce", 0, 1, batch_fn=batch_fn, available_now=False
    )
    with pytest.raises(Exception, match="poison shard"):
        sub.await_termination(60)
    assert not sub.is_active
    sub.unsubscribe()
    assert topics[1].last_ack("gce") is None


def test_group_member_progress_spans_shards(engine):
    from kafkaish_spark.streaming.groups import subscribe_group

    for i in range(2):
        engine.prepare_topic(f"cp.{i}").publish("e", {"n": i})
    sub = subscribe_group(engine, "cp", "gcp", 0, 1)
    sub.await_termination(60)
    progress = sub.query.recentProgress
    assert sorted(p["numInputRows"] for p in progress) == [1, 1]
    assert sub.progress() == progress[-1]
    json.dumps(progress)


def _numbers(topic):
    return [json.loads(r["message"])["number"] for r in topic.replay(since=0).collect()]


def test_pipe_is_a_follower_with_its_position_on_the_source(engine, spark):
    """A continuous pipe starts no Spark streaming query and creates
    nothing under the sink's ``_pipelines``: its position is its ack
    file on the source, under a name scoped by the sink, so one pipe
    name into two sinks keeps two positions."""
    from kafkaish_spark.streaming.pipeline import pipe

    src = engine.prepare_topic("p_src")
    c, d = engine.prepare_topic("p_c"), engine.prepare_topic("p_d")
    src.publish_batch([("ev", {"number": 1}), ("ev", {"number": 2})])
    queries = {q.id for q in spark.streams.active}
    sub = pipe(src, c, name="p", available_now=False)
    try:
        assert _wait_for(lambda: c.latest() == 2)
        src.publish("ev", {"number": 3})
        assert _wait_for(lambda: c.latest() == 3)
        assert {q.id for q in spark.streams.active} == queries
    finally:
        sub.unsubscribe()
    assert sub.name == "p@p_c"
    assert src.last_ack("p@p_c") == 3
    assert not os.path.exists(os.path.join(c.root, "_pipelines"))
    assert _numbers(c) == [1, 2, 3]

    pipe(src, d, name="p").await_termination()
    assert _numbers(d) == [1, 2, 3]  # a new (sink, name) starts at offset 0
    assert src.last_ack("p@p_d") == 3
    assert src.last_ack("p@p_c") == 3


def test_compact_small_under_a_continuous_pipe_is_exactly_once(engine):
    """``compact_small`` merges the source's one-message segments under
    a pipe.  The continuous pipe's cursor starts inside a merged file;
    its first batch is held in ``transform`` while a compaction swaps
    that batch's files, so the batch is planned again; later
    compactions race live delivery.  The sink holds every source
    message exactly once, in source order."""
    from kafkaish_spark.streaming.pipeline import pipe

    src = engine.prepare_topic("p_live_compact")
    sink = engine.prepare_topic("p_live_compact_sink")
    for i in range(9):
        src.publish("ev", {"number": i})
    pipe(src, sink, name="c").await_termination()
    for i in range(9, 40):
        src.publish("ev", {"number": i})
    assert src.compact_small() > 0  # the cursor, 9, is inside a merged file
    for i in range(40, 50):
        src.publish("ev", {"number": i})
    held, compacted = threading.Event(), threading.Event()

    def hold(df):
        if not compacted.is_set() and 10 in _offsets(df):
            held.set()
            compacted.wait(120)
        return df

    sub = pipe(src, sink, hold, name="c", available_now=False)
    try:
        assert held.wait(120)
        assert src.compact_small() > 0
        compacted.set()
        for _round in range(2):
            for i in range(10):
                src.publish("ev", {"number": 100 + i})
            assert src.compact_small() > 0
        tail = src.latest()
        assert _wait_for(lambda: src.last_ack("c@p_live_compact_sink") == tail, 120)
    finally:
        compacted.set()
        sub.unsubscribe()
    assert [r["offset"] for r in sink.replay(since=0).collect()] == list(
        range(1, tail + 1)
    )
    assert _numbers(sink) == _numbers(src)


def test_pipe_crash_then_direct_sink_publish_keeps_sink_offsets_unique(
    engine, monkeypatch
):
    """A pipe batch killed after its transaction's commit point leaves
    its sink segment staged, where ``latest()`` does not see it; a
    direct ``publish`` to the sink then takes that offset.  The next
    ``pipe()`` lands the batch after the direct row: the sink's offsets
    are unique and contiguous, and every source row is there once."""
    import functools

    from kafkaish_spark.sources.transactions import publish_transaction
    from kafkaish_spark.streaming import pipeline

    src = engine.prepare_topic("p_crash_src")
    sink = engine.prepare_topic("p_crash_sink")
    for i in range(3):
        src.publish("ev", {"number": i})
    monkeypatch.setattr(
        pipeline, "publish_transaction", functools.partial(publish_transaction, _crash_after=0)
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipeline.pipe(src, sink, name="k").await_termination()
    monkeypatch.setattr(pipeline, "publish_transaction", publish_transaction)
    sink.publish("ev", {"number": -1})
    pipeline.pipe(src, sink, name="k").await_termination()
    assert [r["offset"] for r in sink.replay(since=0).collect()] == [1, 2, 3, 4]
    assert _numbers(sink) == [-1, 0, 1, 2]
    assert src.last_ack("k@p_crash_sink") == 3


def test_pipe_batch_failed_past_its_commit_point_is_not_planned_again(
    engine, monkeypatch
):
    """A batch's transaction fails after its commit point while a
    compaction swaps the batch's source segments.  The vanished files
    would have the batch planned again; the pipe sees that recovery
    landed it, rows and ack, and moves on: one copy of each row."""
    from kafkaish_spark.sources.transactions import publish_transaction
    from kafkaish_spark.streaming import pipeline

    src = engine.prepare_topic("p_past_src")
    sink = engine.prepare_topic("p_past_sink")
    for i in range(5):
        src.publish("ev", {"number": i})
    calls = []

    def fails_once(eng, publishes, acks=None):
        calls.append(acks)
        if len(calls) > 1:
            return publish_transaction(eng, publishes, acks=acks)
        try:
            publish_transaction(eng, publishes, acks=acks, _crash_after=0)
        finally:
            assert src.compact_small() > 0

    monkeypatch.setattr(pipeline, "publish_transaction", fails_once)
    pipeline.pipe(src, sink, name="v").await_termination()
    assert len(calls) == 1
    assert [r["offset"] for r in sink.replay(since=0).collect()] == [1, 2, 3, 4, 5]
    assert _numbers(sink) == [0, 1, 2, 3, 4]
    assert src.last_ack("v@p_past_sink") == 5


def test_pipe_limits_are_raised_at_call_time(engine, spark, tmp_path):
    """A date-partitioned sink, a sink under another engine root, and a
    sink holding an earlier pipe's Spark checkpoint while the source
    has no position for that pipe each raise before anything runs.
    Acking the old pipe's last published offset upgrades it: the pipe
    resumes after that offset."""
    from kafkaish_spark.sources.topic_log import Engine
    from kafkaish_spark.streaming.pipeline import pipe

    src = engine.prepare_topic("p_lim")
    src.publish_batch([("ev", {"number": i}) for i in range(1, 4)])
    with pytest.raises(ValueError, match="date-partitioned"):
        pipe(src, engine.prepare_topic("p_lim_part", partitioned=True))
    far = Engine(spark, str(tmp_path / "far")).prepare_topic("p_lim_far")
    with pytest.raises(ValueError, match="different engine roots"):
        pipe(src, far)

    sink = engine.prepare_topic("p_lim_sink")
    os.makedirs(os.path.join(sink.root, "_pipelines", "up", "checkpoint"))
    with pytest.raises(ValueError, match=r"source\.ack\('up@p_lim_sink', N\)"):
        pipe(src, sink, name="up")
    assert sink.latest() == 0
    assert src.resume_offset("up@p_lim_sink") == 0
    src.ack("up@p_lim_sink", 2)  # the old pipe had published offsets 1..2
    pipe(src, sink, name="up").await_termination()
    assert _numbers(sink) == [3]


def test_pipe_keeps_sink_retention_and_acks_an_emptied_batch(engine):
    """The sink handle's ``retention_bytes`` applies after each pipe
    batch, as it does after ``publish_df``; a batch the ``event``
    filter empties adds no segment to the sink but still moves the
    pipe's position."""
    from kafkaish_spark.sources.topic_log import segment_files
    from kafkaish_spark.streaming.pipeline import pipe

    src = engine.prepare_topic("p_ret")
    sink = engine.prepare_topic("p_ret_sink", retention_bytes=1)
    for i in range(3):
        src.publish("ev", {"number": i})
        pipe(src, sink, name="r").await_termination()
    segments = segment_files(sink.log_dir)
    assert len(segments) == 1 and sink.latest() == 3

    src.publish("other", {"number": 9})
    pipe(src, sink, name="r", event="ev").await_termination()
    assert segment_files(sink.log_dir) == segments
    assert sink.latest() == 3
    assert src.last_ack("r@p_ret_sink") == 4
