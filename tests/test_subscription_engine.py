"""Every subscription API on one follower engine (streaming/subscribe.py):
``subscribe_batches`` and consumer-group members follow the message-offset
cursor, and the JSON ack file is every subscriber's only position."""

import json
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
