"""Batch log-layer semantics, mirroring the reference's Topic contract
(/root/reference/src/topic.js; test scenarios in test/topic.js)."""

import json

from pyspark.sql import functions as F


def test_empty_topic_latest_is_zero(engine):
    # no bootstrap dummy doc needed (ref inserts {dummy:true},
    # src/topic.js:234-241 — we assert the cleaner behavior)
    topic = engine.prepare_topic("empty")
    assert topic.latest() == 0
    assert topic.log().count() == 0


def test_publish_assigns_contiguous_offsets(engine):
    topic = engine.prepare_topic("t_offsets")
    rows = topic.publish_batch([("a", {"n": i}) for i in range(1, 6)])
    assert [r["offset"] for r in rows] == [1, 2, 3, 4, 5]
    rows2 = topic.publish_batch([("b", {"n": i}) for i in range(6, 9)])
    assert [r["offset"] for r in rows2] == [6, 7, 8]
    assert topic.latest() == 8


def test_publish_returns_written_doc(engine):
    # ref: publish confirmation callback receives the written doc
    # (src/topic.js:32-38; test/topic.js:76-89)
    topic = engine.prepare_topic("t_confirm")
    row = topic.publish("hello", {"number": 1})
    assert row["event"] == "hello"
    assert json.loads(row["message"]) == {"number": 1}
    assert row["offset"] == 1


def test_replay_filters_event_and_offset(engine):
    topic = engine.prepare_topic("t_replay")
    topic.publish_batch(
        [("a", {"n": 1}), ("b", {"n": 2}), ("a", {"n": 3}), ("b", {"n": 4})]
    )
    # wildcard (event=None) sees everything — fixed vs the reference's
    # broken live wildcard (src/topic.js:108)
    assert topic.replay().count() == 4
    only_b = topic.replay(event="b").collect()
    assert [r["offset"] for r in only_b] == [2, 4]
    late = topic.replay(since=2).collect()
    assert [r["offset"] for r in late] == [3, 4]
    # bounded replay (Kafka bounded-consumption analog): (since, until]
    mid = topic.replay(since=1, until=3).collect()
    assert [r["offset"] for r in mid] == [2, 3]
    assert topic.replay(until=0).count() == 0


def test_ack_monotonic_and_lag(engine):
    topic = engine.prepare_topic("t_ack")
    topic.publish_batch([("e", {"n": i}) for i in range(1, 11)])
    topic.ack("worker", 4)
    assert topic.last_ack("worker") == 4
    topic.ack("worker", 2)  # acks never move backwards (ref upsert
    # always advances via $gt semantics of redelivery)
    assert topic.last_ack("worker") == 4
    topic.ack("other", 10)
    lag = {r["name"]: r["lag"] for r in topic.subscriber_lag().collect()}
    assert lag == {"worker": 6, "other": 0}


def test_retention_evicts_oldest(engine):
    # ref: capped collection FIFO eviction (src/topic.js:8-9)
    topic = engine.prepare_topic("t_ret")
    for i in range(5):
        topic.publish_batch([("e", {"n": i, "pad": "x" * 1000})])
    before = topic.log().count()
    assert before == 5
    deleted = topic.enforce_retention(cap_bytes=6000)
    assert deleted > 0
    remaining = topic.replay().collect()
    # survivors are the newest suffix of the log
    assert remaining[-1]["offset"] == 5
    assert len(remaining) < 5
    # a durable subscriber whose offset was evicted just resumes from
    # what remains (offset > last still works)
    assert topic.replay(since=1).count() == len(remaining)


def test_publish_df_large_batch_distributed(engine, spark):
    # offsets stay contiguous across a multi-partition input batch
    topic = engine.prepare_topic("t_big")
    df = spark.range(0, 1000, numPartitions=7).select(
        F.lit("bulk").alias("event"), F.col("id").cast("string").alias("message")
    )
    topic.publish_df(df)
    log = topic.log()
    assert log.count() == 1000
    stats = log.agg(
        F.min("offset").alias("lo"),
        F.max("offset").alias("hi"),
        F.countDistinct("offset").alias("n"),
    ).first()
    assert (stats["lo"], stats["hi"], stats["n"]) == (1, 1000, 1000)


def test_topic_memoized(engine):
    assert engine.prepare_topic("same") is engine.prepare_topic("same")


def test_age_retention_evicts_old_batches(engine, spark):
    from pyspark.sql import functions as F

    topic = engine.prepare_topic("age_ret")
    old = spark.createDataFrame(
        [("e", "ancient", "2020-01-01 00:00:00")],
        "event string, message string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    topic.publish_df(old)
    topic.publish_batch([("e", "fresh")])  # ts = now

    deleted = topic.enforce_retention_age(max_age_seconds=3600 * 24 * 365)
    assert deleted >= 1
    msgs = [r["message"] for r in topic.replay().collect()]
    assert "ancient" not in msgs and "fresh" in msgs


def test_compact_preserves_content_and_order(engine):
    topic = engine.prepare_topic("compact_me")
    for i in range(5):  # 5 separate publishes -> >=5 segment files
        topic.publish_batch([("e", f"m{i}")])
    before = [(r["offset"], r["message"]) for r in topic.replay().collect()]

    n_files = topic.compact(target_files=1)
    assert n_files == 1
    after = [(r["offset"], r["message"]) for r in topic.replay().collect()]
    assert after == before
    # log remains appendable after the swap
    topic.publish_batch([("e", "post")])
    assert topic.replay().collect()[-1]["message"] == "post"


def test_engine_topic_listing_and_drop(engine):
    engine.prepare_topic("list_a")
    engine.prepare_topic("list_b")
    assert engine.topics() == ["list_a", "list_b"]
    assert engine.drop_topic("list_a") is True
    assert engine.topics() == ["list_b"]
    assert engine.drop_topic("list_a") is False
    # re-preparing a dropped topic starts empty at offset 0
    t = engine.prepare_topic("list_a")
    assert t.latest() == 0


def test_partitioned_topic_end_to_end(engine, spark):
    """partitioned=True lays the log out as pub_date=... dirs; publish,
    latest, replay, and partition pruning must all work (regression:
    a root-level seed file used to break partition discovery)."""
    from pyspark.sql import functions as F

    topic = engine.prepare_topic("part_topic", partitioned=True)
    assert topic.latest() == 0  # empty partitioned log reads as empty
    df = spark.createDataFrame(
        [("e", "d1", "2024-01-01 10:00:00"), ("e", "d2", "2024-01-02 10:00:00")],
        "event string, message string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    topic.publish_df(df)
    topic.publish_batch([("e", "d3")])  # second append, ts=now

    assert topic.latest() == 3
    msgs = [r["message"] for r in topic.replay().collect()]
    assert msgs == ["d1", "d2", "d3"]
    # partition layout exists and pruning is available to Catalyst
    import os

    assert any(d.startswith("pub_date=") for d in os.listdir(topic.log_dir))
    one_day = topic.log().filter(F.col("pub_date") == "2024-01-01")
    assert [r["message"] for r in one_day.collect()] == ["d1"]
    # streaming over a partitioned log works too
    assert topic.stream().isStreaming


def test_max_files_per_trigger_bounds_batches(engine, spark, tmp_path):
    """maxFilesPerTrigger must reach the file SOURCE: a 3-file backlog
    drained with max_files_per_trigger=1 arrives in >=3 micro-batches."""
    topic = engine.prepare_topic("mfpt")
    for i in range(3):
        topic.publish_batch([("e", f"m{i}")])

    batch_sizes = []
    q = (
        topic.stream(max_files_per_trigger=1)
        .writeStream.foreachBatch(lambda df, _id: batch_sizes.append(df.count()))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination()
    assert sum(batch_sizes) == 3
    assert len([b for b in batch_sizes if b > 0]) >= 3
    # Spark takes one trigger bound per source, and would only fail
    # the query at its first trigger
    import pytest

    with pytest.raises(ValueError):
        topic.stream(max_files_per_trigger=1, max_bytes_per_trigger=1 << 20)


def test_idempotent_publish_skips_existing_payloads(engine, spark):
    """dedup=True: re-publishing an overlapping batch appends only the
    genuinely new payloads (retry-safe producer)."""
    topic = engine.prepare_topic("idem_pub")
    first = spark.createDataFrame(
        [("e", "a"), ("e", "b")], "event string, message string"
    )
    topic.publish_df(first)
    retry = spark.createDataFrame(
        [("e", "a"), ("e", "b"), ("e", "c")], "event string, message string"
    )
    topic.publish_df(retry, dedup=True)
    rows = topic.replay().collect()
    assert [r["message"] for r in rows] == ["a", "b", "c"]
    assert [r["offset"] for r in rows] == [1, 2, 3]


def test_engine_sql_over_topics(engine):
    """Engine.sql registers each topic as topic_<name> — the log is
    queryable as a plain table, including cross-topic joins."""
    a = engine.prepare_topic("sql_a")
    b = engine.prepare_topic("sql_b")
    a.publish_batch([("x", "1"), ("y", "2")])
    b.publish_batch([("x", "10")])
    row = engine.sql(
        """
        SELECT a.event, a.message AS am, b.message AS bm
        FROM topic_sql_a a JOIN topic_sql_b b ON a.event = b.event
        """
    ).collect()
    assert [(r["event"], r["am"], r["bm"]) for r in row] == [("x", "1", "10")]
    n = engine.sql("SELECT COUNT(*) AS n FROM topic_sql_a").first()["n"]
    assert n == 2


def test_reopened_partitioned_topic_detected(engine, spark, tmp_path):
    """A fresh Engine over an existing root must auto-detect a
    partitioned topic's layout (partitioned flag is not persisted)."""
    from pyspark.sql import functions as F

    from kafkaish_spark.sources.topic_log import Engine

    t1 = engine.prepare_topic("reopen_me", partitioned=True)
    df = spark.createDataFrame(
        [("e", "m1", "2024-01-01 10:00:00")],
        "event string, message string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    t1.publish_df(df)

    eng2 = Engine(spark, engine.root)  # new handle, default flags
    t2 = eng2.prepare_topic("reopen_me")
    assert t2.partitioned is True
    assert [r["message"] for r in t2.replay().collect()] == ["m1"]
    t2.publish_batch([("e", "m2")])  # appends stay partitioned
    assert t2.latest() == 2


def test_union_topics_shard_pattern(engine):
    """union_topics: N sharded topics read as one frame with per-shard
    order preserved (the multi-writer relaxation, SURVEY scale notes)."""
    for i in range(3):
        engine.prepare_topic(f"shard_{i}").publish_batch(
            [("e", f"s{i}m{j}") for j in range(2)]
        )
    allf = engine.union_topics([f"shard_{i}" for i in range(3)])
    assert allf.count() == 6
    got = {
        (r["topic"], r["offset"], r["message"])
        for r in allf.collect()
    }
    assert ("shard_1", 2, "s1m1") in got
    # public API surface imports
    import kafkaish_spark as K

    for name in K.__all__:
        assert getattr(K, name) is not None


def test_offset_for_time_seeks_boundary(engine):
    """Kafka offsetsForTimes analog: earliest offset at/after a time,
    resolved via footer-stats pruning."""
    import time as _time

    topic = engine.prepare_topic("t_seek")
    topic.publish_batch([("a", {"n": 1}), ("a", {"n": 2})])
    cut = _time.time()
    _time.sleep(0.05)
    topic.publish_batch([("a", {"n": 3}), ("a", {"n": 4})])

    # everything is at/after the epoch
    assert topic.offset_for_time(0) == 1
    # only the second batch is after the cut
    assert topic.offset_for_time(cut) == 3
    # nothing is in the future
    assert topic.offset_for_time(_time.time() + 3600) is None
    # datetime round trip: the ts of offset 3 seeks to itself
    ts3 = {r["offset"]: r["ts"] for r in topic.log().collect()}[3]
    assert topic.offset_for_time(ts3) == 3


def test_time_travel_fingerprint_survives_int64_overflow_scale(spark):
    """Regression (r6 ADVICE, medium): the time-travel fixture
    fingerprint used sum(unix_micros(ts)) — each term ~1.7e15 µs, so
    under Spark 4's default ANSI mode the int64 sum throws
    ARITHMETIC_OVERFLOW past ~5,412 rows (sf0.1's 5,000 docs were at
    92% of the limit).  The fix sums the BASE-RELATIVE delta on a
    decimal(38,0) grid; this pins that exact expression shape at 6,000
    rows — the row count the old form verifiably crashed at — and
    checks it equals the Python-side expectation sum(doc_id) * 60e6."""
    BASE_EPOCH_US = 1_704_067_200_000_000
    n = 6_000
    df = spark.range(1, n + 1).select(
        F.timestamp_micros(
            F.lit(BASE_EPOCH_US) + F.col("id") * F.lit(60_000_000)
        ).alias("ts")
    )
    got = df.agg(
        F.sum((F.unix_micros("ts") - F.lit(BASE_EPOCH_US)).cast("decimal(38,0)"))
    ).first()[0]
    assert int(got) == n * (n + 1) // 2 * 60_000_000


def test_compact_keyed_keeps_latest_per_key(engine):
    """Kafka log compaction: latest record per key survives, offsets
    and tail preserved, superseded records dropped."""
    topic = engine.prepare_topic("t_kcompact")
    topic.publish_batch(
        [
            ("k1", {"v": 1}),
            ("k2", {"v": 1}),
            ("k1", {"v": 2}),
            ("k3", {"v": 1}),
            ("k1", {"v": 3}),
            ("k2", {"v": 2}),
        ]
    )
    removed = topic.compact_keyed()
    assert removed == 3
    rows = {r["event"]: r for r in topic.replay().collect()}
    assert set(rows) == {"k1", "k2", "k3"}
    assert json.loads(rows["k1"]["message"]) == {"v": 3}
    assert json.loads(rows["k2"]["message"]) == {"v": 2}
    assert rows["k1"]["offset"] == 5
    assert rows["k2"]["offset"] == 6
    assert topic.latest() == 6
    # idempotent: nothing left to remove
    assert topic.compact_keyed() == 0


def test_compact_keyed_json_key(engine):
    """Compaction key can be any SQL expression over the envelope."""
    topic = engine.prepare_topic("t_kcompact_json")
    topic.publish_batch(
        [
            ("upd", {"id": 1, "v": "a"}),
            ("upd", {"id": 2, "v": "b"}),
            ("upd", {"id": 1, "v": "c"}),
        ]
    )
    removed = topic.compact_keyed(key="get_json_object(message, '$.id')")
    assert removed == 1
    vals = {
        json.loads(r["message"])["id"]: json.loads(r["message"])["v"]
        for r in topic.log().collect()
    }
    assert vals == {1: "c", 2: "b"}


# -- consumer groups (Kafka partition-assignment analog) ---------------


def _publish_round(engine, shards, start, n=2):
    for s in shards:
        engine.prepare_topic(s).publish_batch(
            [("e", {"shard": s, "n": start + i}) for i in range(n)]
        )


def test_consumer_group_assignment_disjoint_complete(engine):
    from kafkaish_spark.sources.consumer_group import ConsumerGroup

    shards = [f"cgA_{i}" for i in range(5)]
    cg = ConsumerGroup(engine, "g1", shards, 2)
    asg = cg.assignment()
    flat = [s for lst in asg.values() for s in lst]
    assert sorted(flat) == sorted(shards)
    assert len(flat) == len(set(flat))
    assert cg.assignment() == asg  # deterministic


def test_consumer_group_poll_commit_and_rebalance(engine):
    from kafkaish_spark.sources.consumer_group import ConsumerGroup

    shards = [f"cgB_{i}" for i in range(4)]
    for s in shards:
        engine.prepare_topic(s)
    _publish_round(engine, shards, start=0, n=2)

    cg = ConsumerGroup(engine, "g2", shards, 2)
    seen = []
    for m in (0, 1):
        df, bounds = cg.poll(m)
        rows = df.collect()
        seen.extend((r["topic"], r["offset"]) for r in rows)
        cg.commit(m, bounds)
    # both members together see every message exactly once
    assert sorted(seen) == sorted((s, o) for s in shards for o in (1, 2))

    # nothing new -> empty polls
    for m in (0, 1):
        df, _ = cg.poll(m)
        assert df.count() == 0

    # publish more, rebalance to 3 members: only the NEW messages
    # arrive (offsets survive reassignment), still exactly once
    _publish_round(engine, shards, start=10, n=1)
    cg3 = cg.rebalance(3)
    seen2 = []
    for m in range(3):
        df, bounds = cg3.poll(m)
        seen2.extend((r["topic"], r["offset"]) for r in df.collect())
        cg3.commit(m, bounds)
    assert sorted(seen2) == sorted((s, 3) for s in shards)
    assert cg3.lag().filter("lag != 0").count() == 0


def test_truncate_before_keeps_contiguous_suffix(engine):
    """deleteRecords analog: early segments evicted, suffix intact."""
    topic = engine.prepare_topic("trunc_t")
    for i in range(5):  # 5 publish batches -> >= 5 segment groups
        topic.publish_batch([("e", {"i": i * 10 + j}) for j in range(10)])
    assert topic.latest() == 50
    deleted = topic.truncate_before(25)
    assert deleted > 0
    offs = sorted(r.offset for r in topic.log().collect())
    # survivors are a contiguous suffix ending at the tail
    assert offs[-1] == 50
    assert offs == list(range(offs[0], 51))
    # replay from an evicted offset just resumes from what remains
    assert topic.replay(since=0).count() == len(offs)


def test_describe_reports_topic_state(engine):
    topic = engine.prepare_topic("desc_t")
    topic.publish_batch([("e", {"i": i}) for i in range(7)])
    topic.ack("worker", 3)
    d = topic.describe()
    assert d["topic"] == "desc_t"
    assert d["n_messages"] == 7
    assert d["min_offset"] == 1 and d["max_offset"] == 7
    assert d["n_segments"] >= 1 and d["bytes"] > 0
    assert d["subscribers"] == ["worker"]


def test_compact_small_merges_only_small_segments(engine):
    import os

    topic = engine.prepare_topic("t_smallcompact")
    # one big segment (padded rows), then many tiny ones
    topic.publish_batch(
        [("big", {"n": i, "pad": "x" * 2000}) for i in range(1, 51)]
    )
    for i in range(51, 61):
        topic.publish_batch([("tiny", {"n": i})])
    before = topic._segment_stats()
    big_paths = {s["path"] for s in before if s["size"] >= 4096}
    n_files_before = len(before)
    content_before = sorted(
        (r["offset"], r["event"], r["message"])
        for r in topic.log().collect()
    )

    removed = topic.compact_small(small_bytes=4096, target_files=1)
    assert removed > 0

    after = topic._segment_stats()
    assert len(after) == n_files_before - removed
    # the big segment file(s) were not rewritten
    for p in big_paths:
        assert os.path.exists(p)
    # content and offsets exactly preserved
    content_after = sorted(
        (r["offset"], r["event"], r["message"])
        for r in topic.log().collect()
    )
    assert content_after == content_before
    # idempotent once merged below threshold count
    assert topic.compact_small(small_bytes=4096, target_files=1) == 0


def test_compact_small_preserves_partitioned_layout(engine):
    import os

    topic = engine.prepare_topic("t_smallcompact_part", partitioned=True)
    for i in range(1, 9):
        topic.publish_batch([("tiny", {"n": i})])
    content_before = sorted(
        (r["offset"], r["message"]) for r in topic.log().collect()
    )
    part_dirs_before = {
        d for d in os.listdir(topic.log_dir) if d.startswith("pub_date=")
    }
    assert part_dirs_before  # partitioned layout exists

    removed = topic.compact_small(small_bytes=1 << 20, target_files=1)
    assert removed > 0

    part_dirs_after = {
        d for d in os.listdir(topic.log_dir) if d.startswith("pub_date=")
    }
    assert part_dirs_after == part_dirs_before  # layout untouched
    content_after = sorted(
        (r["offset"], r["message"]) for r in topic.log().collect()
    )
    assert content_after == content_before


def test_fsck_clean_log_and_detects_corruption(engine):
    import shutil as _shutil
    import os

    topic = engine.prepare_topic("t_fsck")
    for i in range(1, 4):
        topic.publish_batch([("e", {"n": j}) for j in range(i * 10, i * 10 + 5)])
    report = topic.fsck(deep=True)
    assert report["ok"], report["issues"]
    assert report["n_rows"] == 15
    assert (report["min_offset"], report["max_offset"]) == (1, 15)

    # duplicate a segment file -> overlap (and deep duplicate-offsets)
    segs = sorted(
        (s for s in topic._segment_stats() if s["min_off"] is not None),
        key=lambda s: s["min_off"],
    )
    dup = segs[1]["path"]
    copy_to = os.path.join(
        os.path.dirname(dup), "part-99999-deadbeefcafe.snappy.parquet"
    )
    _shutil.copyfile(dup, copy_to)
    bad = topic.fsck(deep=True)
    assert not bad["ok"]
    assert any("overlap" in i for i in bad["issues"])
    assert any("duplicate offsets" in i for i in bad["issues"])
    os.remove(copy_to)

    # remove a MIDDLE segment -> gap (retention only trims the prefix)
    os.remove(segs[1]["path"])
    gap = topic.fsck()
    assert not gap["ok"]
    assert any("gap" in i for i in gap["issues"])


def test_compact_small_multi_file_output_passes_fsck(engine):
    """target_files > 1 must produce disjoint contiguous offset ranges
    (range partitioning, not coalesce concatenation) — fsck stays
    clean."""
    topic = engine.prepare_topic("t_smallcompact_multi")
    for i in range(1, 11):
        topic.publish_batch([("e", {"n": i})])
    removed = topic.compact_small(small_bytes=1 << 20, target_files=2)
    assert removed > 0
    report = topic.fsck(deep=True)
    assert report["ok"], report["issues"]
    assert report["n_rows"] == 10


def test_compact_small_breaks_runs_on_offset_gaps_across_directories(engine):
    """Caller-supplied ts lets a LATER publish (higher offsets) land in
    an EARLIER pub_date directory, so one directory can hold small
    files that are offset-NON-contiguous while the gap's rows live in
    another directory.  compact_small must break its merge runs at the
    gap: merging across it would mint a non-dense commit group that
    overlaps the other directory's range — failing fsck on a healthy
    log and making retention's min-offset whole-group eviction evict
    the newest rows first."""
    import pyarrow.parquet as pq

    topic = engine.prepare_topic("t_smallcompact_gap", partitioned=True)

    def pub(day, n):
        df = engine.spark.createDataFrame(
            [("e", f"{day}/{i}", f"2024-01-0{day} 12:00:00") for i in range(n)],
            "event string, message string, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        topic.publish_df(df, target_files=1)

    pub(1, 1)  # offset 1       -> pub_date=2024-01-01
    pub(1, 1)  # offset 2       -> pub_date=2024-01-01
    pub(2, 2)  # offsets 3-4    -> pub_date=2024-01-02
    pub(1, 1)  # offset 5       -> pub_date=2024-01-01  (gap after 2!)
    pub(1, 1)  # offset 6       -> pub_date=2024-01-01

    content_before = sorted(
        (r["offset"], r["message"]) for r in topic.log().collect()
    )
    removed = topic.compact_small(small_bytes=1 << 20, target_files=1)
    # [1][2] merge and [5][6] merge; neither may swallow the 3-4 gap
    assert removed == 2

    report = topic.fsck(deep=True)
    assert report["ok"], report["issues"]
    # every post-compact file is internally dense (no file spans 2..5)
    for s in topic._segment_stats():
        meta = pq.ParquetFile(s["path"]).metadata
        assert s["max_off"] - s["min_off"] + 1 == meta.num_rows, s

    content_after = sorted(
        (r["offset"], r["message"]) for r in topic.log().collect()
    )
    assert content_after == content_before


def test_prepare_topic_memoizes_and_recreates_when_closed(engine):
    """L3 memoization parity with the reference (src/connection.js:40-50):
    prepare_topic returns the SAME handle while open, and builds a
    FRESH handle once the cached one is closed — with the durable log
    (offsets, acks) fully intact underneath."""
    t1 = engine.prepare_topic("memo")
    assert engine.prepare_topic("memo") is t1  # memoized while open
    t1.publish("ev", {"n": 1})
    t1.publish("ev", {"n": 2})
    t1.ack("grp", 1)
    t1.close()
    assert t1.closed
    t2 = engine.prepare_topic("memo")
    assert t2 is not t1  # recreate-when-closed
    assert not t2.closed
    # same durable state through the new handle
    assert t2.latest() == 2
    assert t2.last_ack("grp") == 1
    # and the new handle is memoized again
    assert engine.prepare_topic("memo") is t2


def test_writer_lock_blocks_second_writer_and_breaks_stale(
    engine, spark, monkeypatch
):
    """SURVEY §7 watch-list (a) enforced: while one writer holds the
    topic lock, a publish fails loudly instead of interleaving
    duplicate offsets; a stale lock (crashed writer) is broken."""
    import json
    import os
    import time

    import pytest

    from kafkaish_spark.sources import topic_log

    topic = engine.prepare_topic("locked")
    topic.publish("a", {"i": 1})  # sanity: lock acquired + released

    # a live foreign writer holds the lock -> publish times out fast
    monkeypatch.setattr(topic_log, "_LOCK_TIMEOUT_S", 0.3)
    path = os.path.join(topic.root, "_writer.lock")
    with open(path, "w") as f:
        json.dump({"pid": 99999, "ts": time.time()}, f)
    with pytest.raises(TimeoutError, match="single-writer"):
        topic.publish("a", {"i": 2})
    assert topic.latest() == 1  # nothing interleaved

    # a STALE lock is broken and the publish proceeds
    old = time.time() - topic_log._LOCK_STALE_S - 60
    os.utime(path, (old, old))
    topic.publish("a", {"i": 2})
    assert topic.latest() == 2
    assert not os.path.exists(path)  # released


def test_writer_lock_covers_transactions(engine, spark, monkeypatch):
    """publish_transaction serializes against publish_df on the same
    topics via the same per-topic locks."""
    import json
    import os
    import time

    import pytest

    from kafkaish_spark.sources import topic_log
    from kafkaish_spark.sources.transactions import publish_transaction

    monkeypatch.setattr(topic_log, "_LOCK_TIMEOUT_S", 0.3)
    t1 = engine.prepare_topic("txl_a")
    engine.prepare_topic("txl_b")
    with open(os.path.join(t1.root, "_writer.lock"), "w") as f:
        json.dump({"pid": 99999, "ts": time.time()}, f)
    df = spark.createDataFrame([("e", "x")], "event string, message string")
    with pytest.raises(TimeoutError, match="single-writer"):
        publish_transaction(engine, [("txl_a", df), ("txl_b", df)])
    os.remove(os.path.join(t1.root, "_writer.lock"))
    counts = publish_transaction(engine, [("txl_a", df), ("txl_b", df)])
    assert counts == {"txl_a": 1, "txl_b": 1}
    # locks released on both topics
    for name in ("txl_a", "txl_b"):
        assert not os.path.exists(
            os.path.join(engine.prepare_topic(name).root, "_writer.lock")
        )


def test_concurrent_publishers_serialize_through_lock(engine, spark):
    """Two real writer threads racing on one topic: the lock forces
    them through one at a time, so offsets come out unique, dense, and
    fsck-clean — the interleaving this guards against would read the
    same tail twice and assign duplicate offsets."""
    import threading

    topic = engine.prepare_topic("race")
    errors = []

    def hammer(tag):
        try:
            for i in range(5):
                topic.publish_batch(
                    [(tag, {"i": i, "j": k}) for k in range(3)]
                )
        except Exception as ex:  # noqa: BLE001 — surface in main thread
            errors.append(ex)

    threads = [
        threading.Thread(target=hammer, args=(t,)) for t in ("a", "b")
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert topic.latest() == 30
    offs = [r["offset"] for r in topic.replay(since=0).collect()]
    assert offs == list(range(1, 31))  # unique, dense, total order
    report = topic.fsck()
    assert report.get("ok", True), report


def test_txn_lock_timeout_releases_earlier_locks(engine, spark, monkeypatch):
    """If the SECOND topic's lock acquisition times out, the first
    topic's already-held lock must release immediately — not linger
    blocking other writers until the stale-break (r5 advice, low)."""
    import json
    import os
    import time

    import pytest

    from kafkaish_spark.sources import topic_log
    from kafkaish_spark.sources.transactions import publish_transaction

    monkeypatch.setattr(topic_log, "_LOCK_TIMEOUT_S", 0.3)
    ta = engine.prepare_topic("txl2_a")
    tz = engine.prepare_topic("txl2_z")
    # foreign writer holds the SECOND lock in sorted order
    with open(os.path.join(tz.root, "_writer.lock"), "w") as f:
        json.dump({"pid": 99999, "ts": time.time()}, f)
    df = spark.createDataFrame([("e", "x")], "event string, message string")
    with pytest.raises(TimeoutError, match="single-writer"):
        publish_transaction(engine, [("txl2_a", df), ("txl2_z", df)])
    # the FIRST topic's lock was released on the failure path
    assert not os.path.exists(os.path.join(ta.root, "_writer.lock"))
    # and the topic is immediately writable again
    ta.publish("e", {"ok": 1})
    assert ta.latest() == 1


def test_time_seek_feeds_subscriber_and_bounded_replay(engine, spark):
    """offset_for_time -> ack -> subscribe closes the loop between the
    Kafka-analog time seek and the subscriber surface (r5 verdict item
    7): a durable subscriber pre-acked at seek-1 receives exactly the
    suffix from the sought instant, and replay(since=0, until=seek-1)
    is exactly the prefix — together a lossless, overlap-free split of
    the log at a TIME boundary, on any driver/session zone."""
    from pyspark.sql import functions as F

    topic = engine.prepare_topic("timeseek")
    base_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, absolute
    df = spark.range(1, 21).select(
        F.lit("e").alias("event"),
        F.col("id").cast("string").alias("message"),
        F.timestamp_micros(
            F.lit(base_us) + F.col("id") * F.lit(60_000_000)
        ).alias("ts"),
    ).repartition(1).sortWithinPartitions(F.col("message").cast("int"))
    # publish in three appends so the seek crosses segment boundaries
    topic.publish_df(df.filter(F.col("message").cast("int") <= 7))
    topic.publish_df(
        df.filter(F.col("message").cast("int").between(8, 14))
    )
    topic.publish_df(df.filter(F.col("message").cast("int") >= 15))
    assert topic.latest() == 20

    # seek minute 10 by epoch seconds — the TZ-safe numeric branch
    seek = topic.offset_for_time(base_us / 1_000_000 + 10 * 60)
    assert seek == 10  # offset k == message k by construction
    # the prefix: bounded replay up to just before the sought instant
    prefix = topic.replay(since=0, until=seek - 1)
    pre_ids = sorted(int(r["message"]) for r in prefix.collect())
    assert pre_ids == list(range(1, 10))  # minutes 1..9 < minute 10
    # the suffix: a durable subscriber seeked to the sought boundary
    # (replay=<int> is the Kafka consumer-seek analog)
    from kafkaish_spark.streaming.subscribe import subscribe

    got = []
    sub = subscribe(
        topic,
        lambda e, m, o: got.append(int(m)),
        name="seeker",
        replay=seek - 1,
        available_now=True,
    )
    sub.query.awaitTermination(120)
    assert sorted(got) == sorted(set(range(1, 21)) - set(pre_ids))
    assert min(got) == 10  # delivery starts exactly at the instant


def test_replay_between_times_half_open_window(engine, spark):
    """replay_between_times resolves time bounds to offset bounds via
    offset_for_time (half-open [since, until) like Kafka time windows)
    and composes with the event filter; out-of-range bounds degrade to
    empty / to-the-tail replays."""
    from pyspark.sql import functions as F

    topic = engine.prepare_topic("timewin")
    base_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    df = spark.range(1, 13).select(
        F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("event"),
        F.col("id").cast("string").alias("message"),
        F.timestamp_micros(
            F.lit(base_us) + F.col("id") * F.lit(60_000_000)
        ).alias("ts"),
    ).repartition(1).sortWithinPartitions(F.col("id"))
    topic.publish_df(df)
    t = lambda m: base_us / 1_000_000 + m * 60  # noqa: E731

    got = [
        int(r["message"])
        for r in topic.replay_between_times(t(4), t(9)).collect()
    ]
    assert got == [4, 5, 6, 7, 8]  # half-open: minute 9 excluded
    # event filter composes
    evens = [
        int(r["message"])
        for r in topic.replay_between_times(t(4), t(9), event="even").collect()
    ]
    assert evens == [4, 6, 8]
    # until beyond the tail -> to the end; since beyond the tail -> empty
    assert [
        int(r["message"])
        for r in topic.replay_between_times(t(10), t(99)).collect()
    ] == [10, 11, 12]
    assert topic.replay_between_times(t(99)).count() == 0
    # no bounds -> full replay
    assert topic.replay_between_times().count() == 12


def test_ephemeral_subscription_accepts_seek_offset(engine, spark):
    """replay=<int> on an EPHEMERAL subscription (no name) starts the
    throwaway consumer at the given offset instead of the tail — the
    Kafka seek-on-assignment pattern for one-off inspection tooling."""
    from kafkaish_spark.streaming.subscribe import subscribe

    topic = engine.prepare_topic("eseek")
    topic.publish_batch([("e", {"i": k}) for k in range(1, 9)])
    got = []
    sub = subscribe(
        topic,
        lambda e, m, o: got.append(o),
        replay=5,  # exclusive: delivery starts at offset 6
        available_now=True,
    )
    sub.query.awaitTermination(120)
    assert got == [6, 7, 8]
    # plain ephemeral (replay=False) still starts at the tail
    got2 = []
    sub2 = subscribe(
        topic, lambda e, m, o: got2.append(o), available_now=True
    )
    sub2.query.awaitTermination(120)
    assert got2 == []


def test_latest_footer_fast_path_matches_spark_agg(engine):
    """latest() answers from parquet footer stats (r8 fast path); it
    must equal the exact Spark aggregate at every log shape — empty,
    single-segment, multi-segment, and after retention trims."""
    from pyspark.sql import functions as F

    topic = engine.prepare_topic("latest_fast")
    assert topic.latest() == 0
    for i in range(3):
        topic.publish_batch(
            [(f"e{j % 2}", {"k": 10 * i + j}) for j in range(10)]
        )
        agg = topic.log().agg(F.coalesce(F.max("offset"), F.lit(0))).first()[0]
        assert topic.latest() == agg == 10 * (i + 1)
    topic.truncate_before(15)
    agg = topic.log().agg(F.coalesce(F.max("offset"), F.lit(0))).first()[0]
    assert topic.latest() == agg == 30


def test_latest_falls_back_when_stats_missing(engine, tmp_path):
    """A segment written WITHOUT parquet statistics (foreign writer)
    must not break offset assignment: latest() and the connector's
    stream bound read that segment's offset column instead of
    trusting incomplete footers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    topic = engine.prepare_topic("latest_nostats")
    topic.publish_batch([("e0", {"k": 1}), ("e1", {"k": 2})])
    # foreign segment with offsets 3..5 and statistics disabled
    tbl = pa.table(
        {
            "offset": pa.array([3, 4, 5], pa.int64()),
            "ts": pa.array([0, 0, 0], pa.timestamp("us")),
            "event": pa.array(["e0", "e1", "e0"]),
            "message": pa.array(["{}", "{}", "{}"]),
        }
    )
    import os

    pq.write_table(
        tbl,
        os.path.join(topic.log_dir, "part-foreign.x.parquet"),
        write_statistics=False,
    )
    assert topic.latest() == 5  # exact, via the offset-column read
    from kafkaish_spark.sources.pyds import KafkaishPartitionedStreamReader

    reader = KafkaishPartitionedStreamReader(
        {"path": engine.root, "topic": "latest_nostats"}
    )
    assert reader.latestOffset() == {"offset": 5}


def test_direct_publish_orphan_inprogress_is_invisible(engine):
    """A crash between the hidden write and the rename leaves a
    '.part-*.inprogress' file, and a Spark write in flight (or aborted)
    leaves valid task files under 'log/_temporary/': readers (batch,
    footer stats, fsck, describe, retention, the connector's batch read
    and stream bound) must all ignore both, exactly like Spark's own
    listing, and the next publish must proceed normally."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafkaish_spark.sources.pyds import (
        KafkaishPartitionedStreamReader,
        register,
    )

    topic = engine.prepare_topic("orphan")
    topic.publish_batch([("e0", {"k": 1})])
    # simulate the crash artifact
    orphan = os.path.join(topic.log_dir, ".part-00000-dead.snappy.parquet.inprogress")
    with open(orphan, "wb") as fh:
        fh.write(b"half-written garbage, not a parquet footer")
    # a task attempt's output: a valid envelope file past the tail
    attempt = os.path.join(
        topic.log_dir, "_temporary", "0", "_temporary", "attempt_0"
    )
    os.makedirs(attempt)
    task_file = os.path.join(attempt, "part-00000-task.c000.snappy.parquet")
    pq.write_table(
        pa.table(
            {
                "offset": pa.array([2, 3, 4], pa.int64()),
                "ts": pa.array([0, 0, 0], pa.timestamp("us", tz="UTC")),
                "event": pa.array(["e0"] * 3),
                "message": pa.array(["{}"] * 3),
            }
        ),
        task_file,
    )
    n = topic.log().count()  # Spark listing ignores dot- and _-paths
    assert n == 1
    assert topic.latest() == n
    fsck = topic.fsck()
    assert fsck["ok"] and fsck["n_rows"] == fsck["max_offset"] == n
    assert topic.describe()["max_offset"] == n
    register(engine.spark)
    via_ds = (
        engine.spark.read.format("kafkaish")
        .option("path", engine.root)
        .option("topic", "orphan")
        .load()
    )
    assert via_ds.count() == n
    reader = KafkaishPartitionedStreamReader(
        {"path": engine.root, "topic": "orphan"}
    )
    assert reader.latestOffset() == {"offset": n}
    # retention keeps the newest committed segment as its anchor: the
    # task file is neither that anchor nor evicted
    topic.enforce_retention(0)
    assert topic.log().count() == n
    assert os.path.exists(task_file)
    topic.publish_batch([("e1", {"k": 2})])
    assert topic.latest() == 2
    assert [r["offset"] for r in topic.replay(since=0).collect()] == [1, 2]


def test_describe_topics(engine):
    """Engine.describe_topics: footer-stat system table — row/byte/
    offset/subscriber columns agree with ground truth across flat,
    multi-segment, trimmed, and subscriber-bearing topics."""
    t1 = engine.prepare_topic("dt_a")
    for i in range(3):
        t1.publish_batch([("e0", {"k": 10 * i + j}) for j in range(10)])
    t1.ack("w1", 7)
    t1.ack("w2", 30)
    t2 = engine.prepare_topic("dt_b")
    t2.publish_batch([("e1", {"k": 1})])
    t2.truncate_before(1)  # still 1 row (truncate keeps >= offset 1)
    rows = {r["topic"]: r for r in engine.describe_topics().collect()}
    a, b = rows["dt_a"], rows["dt_b"]
    assert a["n_rows"] == 30 and a["n_files"] == 3
    assert (a["min_offset"], a["max_offset"]) == (1, 30)
    assert a["n_subscribers"] == 2
    assert a["bytes"] > 0
    assert b["n_rows"] == 1 and b["n_subscribers"] == 0
    # trim a whole segment and see the head move
    for i in range(2):
        t2.publish_batch([("e1", {"k": 2 + i}) for _ in range(5)])
    t2.truncate_before(7)
    rows = {r["topic"]: r for r in engine.describe_topics().collect()}
    assert rows["dt_b"]["min_offset"] == 7
    assert rows["dt_b"]["max_offset"] == 11


def test_direct_publish_partition_date_follows_session_tz(engine):
    """r9 (ADVICE r8): both write paths must file an instant under the
    SAME pub_date partition — publish_df uses to_date(ts) in the Spark
    session timezone, so the direct fast path must derive its
    directory date from the session timezone too, not the UTC
    calendar date.  Probed at UTC+14 and UTC-12: at any wall-clock
    moment at least one of them disagrees with the UTC date, so a
    UTC-hardcoded fast path cannot pass both."""
    spark = engine.spark
    orig = spark.conf.get("spark.sql.session.timeZone")
    try:
        for i, tz in enumerate(["Etc/GMT-14", "Etc/GMT+12"]):
            spark.conf.set("spark.sql.session.timeZone", tz)
            topic = engine.prepare_topic(f"tzp_{i}", partitioned=True)
            topic.publish_batch([("e0", {"k": 1})])  # direct fast path
            mismatched = (
                topic.log()
                .filter(F.to_date("ts") != F.col("pub_date"))
                .count()
            )
            assert mismatched == 0, f"direct path mis-filed under {tz}"
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)


def test_describe_topics_tolerates_corrupt_footer(engine):
    """r9 (ADVICE r8): one corrupt/foreign parquet footer in any topic
    must not take down the engine-wide system table — the bad segment
    surfaces as n_bad_files on its topic's row, healthy topics and the
    healthy segments of the afflicted topic still report normally.
    Correctness-critical callers stay STRICT: fsck/latest on the same
    topic must fall back / raise, not silently skip."""
    import os

    good = engine.prepare_topic("ct_good")
    good.publish_batch([("e0", {"k": 1})])
    bad = engine.prepare_topic("ct_bad")
    bad.publish_batch([("e0", {"k": 1}), ("e0", {"k": 2})])
    with open(
        os.path.join(bad.log_dir, "part-00000-deadbeef.snappy.parquet"), "wb"
    ) as fh:
        fh.write(b"not a parquet file")
    rows = {r["topic"]: r for r in engine.describe_topics().collect()}
    assert rows["ct_good"]["n_bad_files"] == 0
    assert rows["ct_good"]["n_rows"] == 1
    assert rows["ct_bad"]["n_bad_files"] == 1
    assert rows["ct_bad"]["n_rows"] == 2  # healthy segments still counted
    import pytest as _pt

    with _pt.raises(Exception):
        bad._segment_stats()  # strict mode still refuses to guess


def test_retention_keeps_statsless_group_with_rows(engine):
    """r9 (ADVICE r8): a segment with ROWS but no offset statistics has
    an unknown log position — size-based retention must sort it LAST
    and stop there (the age rule's 'no stats: keep'), never evict it
    before older fully-stated groups.  Zero-row seed segments remain
    freely evictable (they hold no offsets)."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    topic = engine.prepare_topic("rs_keep")
    for i in range(4):
        topic.publish_batch([("e", {"n": i, "pad": "x" * 2000})])
    # hand-write a stats-less segment holding the NEWEST offsets (a
    # foreign writer with statistics disabled)
    tbl = pa.table(
        {
            "offset": pa.array([5, 6], pa.int64()),
            "ts": pa.array(
                [datetime.datetime(2020, 1, 1, tzinfo=datetime.timezone.utc)]
                * 2,
                pa.timestamp("us", tz="UTC"),
            ),
            "event": pa.array(["e", "e"], pa.string()),
            "message": pa.array(["m", "m"], pa.string()),
        }
    )
    pq.write_table(
        tbl,
        os.path.join(topic.log_dir, "part-00000-nostats1.snappy.parquet"),
        write_statistics=False,
    )
    deleted = topic.enforce_retention(cap_bytes=1)
    assert deleted > 0  # old stated groups were evicted
    survivors = {r["offset"] for r in topic.log().collect()}
    assert {5, 6} <= survivors  # the stats-less newest rows survive


def test_direct_publish_ts_round_trips_with_collect_and_seek(engine):
    """The direct path's returned Row.ts must be the SAME driver-local
    naive datetime log().collect() hands back (review r8: a naive-UTC
    return seeks hours wrong through offset_for_time on any non-UTC
    driver), and offset_for_time(returned ts) must find the row."""
    topic = engine.prepare_topic("ts_rt")
    rows = topic.publish_batch([("e0", {"k": 1}), ("e0", {"k": 2})])
    collected = {r["offset"]: r["ts"] for r in topic.log().collect()}
    for r in rows:
        assert r["ts"] == collected[r["offset"]]
    # a collected/returned ts seeks to itself (the offset_for_time
    # naive-datetime contract)
    assert topic.offset_for_time(rows[0]["ts"]) == rows[0]["offset"]


def test_mirror_to_rejects_self_and_survives_lock_ordering(engine):
    import pytest as _pt

    src = engine.prepare_topic("mself")
    src.publish_batch([("e0", {"k": 1})])
    with _pt.raises(ValueError, match="destination is the source"):
        src.mirror_to(src)
    # opposite-direction mirrors acquire locks in path order: run one
    # after the other to prove both orderings acquire cleanly
    other = engine.prepare_topic("mself2")
    assert src.mirror_to(other) == 1
    other.publish_batch([("e1", {"k": 2})])
    assert other.mirror_to(src) == 1
    assert src.latest() == other.latest() == 2


def test_compaction_advice(engine, spark):
    """The fragmentation audit→action row: many tiny direct publishes
    earn compact_small with a files_after estimate; one coalesced
    publish_df batch reads ok; and acting on the advice
    (compact_small) flips the verdict back to ok with replay intact."""
    frag = engine.prepare_topic("ca_frag")
    for i in range(12):
        frag.publish("e", {"i": i})
    packed = engine.prepare_topic("ca_packed")
    packed.publish_df(
        spark.createDataFrame(
            [("e", str(i), "2024-01-01 10:00:00") for i in range(50)],
            "event string, message string, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp")),
        target_files=1,
    )
    adv = {r["topic"]: r for r in engine.compaction_advice(min_files=8).collect()}
    fr, pk = adv["ca_frag"], adv["ca_packed"]
    assert fr["advice"] == "compact_small"
    assert fr["n_small"] >= 8
    assert fr["files_after"] < fr["n_files"]
    assert pk["advice"] == "ok"
    assert pk["files_after"] == pk["n_files"]
    # act on the advice: the verdict flips to ok, replay unchanged
    before = sorted(r["offset"] for r in frag.log().collect())
    frag.compact_small()
    adv2 = {
        r["topic"]: r for r in engine.compaction_advice(min_files=8).collect()
    }
    assert adv2["ca_frag"]["advice"] == "ok"
    assert sorted(r["offset"] for r in frag.log().collect()) == before


def _part_files(topic):
    import os

    return {
        os.path.join(d, fn)
        for d, _sub, fns in os.walk(topic.log_dir)
        for fn in fns
        if fn.startswith("part-") and fn.endswith(".parquet")
    }


def test_footer_cache_two_handles_keep_offsets_contiguous(engine, spark):
    """Two handles on one topic directory, each with its own footer
    cache, alternate publishes: every publish sees the other handle's
    segments, so offsets stay contiguous 1..N with no duplicate tail."""
    from kafkaish_spark.sources.topic_log import Topic

    a = engine.prepare_topic("fc_two")
    b = Topic(spark, engine.root, "fc_two")
    offsets = []
    for i in range(10):
        h = a if i % 2 == 0 else b
        offsets.append(int(h.publish("e", {"i": i})["offset"]))
    assert offsets == list(range(1, 11))
    assert sorted(r["offset"] for r in a.log().collect()) == list(range(1, 11))
    assert a.latest() == b.latest() == 10


def test_footer_cache_sees_foreign_segments(engine, spark):
    """A segment written by another writer (a Spark publish_df through a
    second handle) shows up in the first handle's next latest()."""
    from kafkaish_spark.sources.topic_log import Topic

    a = engine.prepare_topic("fc_foreign")
    a.publish_batch([("e", "m1"), ("e", "m2")])
    assert a.latest() == 2  # cache warm
    b = Topic(spark, engine.root, "fc_foreign")
    b.publish_df(
        spark.createDataFrame(
            [("e", f"x{i}") for i in range(5)], "event string, message string"
        ),
        target_files=1,
    )
    assert a.latest() == 7
    assert int(a.publish("e", "m8")["offset"]) == 8


def test_footer_cache_drops_removed_segments(engine):
    """Segments removed by retention, truncation or compaction disappear
    from _segment_stats and from the cache."""
    t = engine.prepare_topic("fc_removed")
    for i in range(8):
        t.publish("e", {"i": i})

    def check():
        paths = {s["path"] for s in t._segment_stats()}
        assert paths == _part_files(t)
        assert {k[0] for k in t._footer_cache} == paths

    check()
    before = _part_files(t)
    assert t.truncate_before(3) > 0
    assert _part_files(t) < before
    check()
    live = sum(s["size"] for s in t._segment_stats() if s["num_rows"])
    assert t.enforce_retention(live // 2) > 0
    check()
    tail = t.latest()
    t.compact()
    check()
    assert len([s for s in t._segment_stats() if s["num_rows"]]) == 1
    assert t.latest() == tail


def test_footer_cache_hands_out_copies_and_skips_bad_footers(engine):
    """Mutating a returned record does not change the next call's
    result, and a footer that failed to parse is never cached."""
    import os

    t = engine.prepare_topic("fc_copies")
    t.publish_batch([("e", "m1"), ("e", "m2")])
    def stats(**kw):
        return sorted(t._segment_stats(**kw), key=lambda s: s["path"])

    first = stats()
    want = [dict(s) for s in first]
    for s in first:
        s["max_off"] = 999
        s["num_rows"] = -1
    assert stats() == want
    assert t.latest() == 2

    bad = os.path.join(t.log_dir, "part-00000-deadbeef.snappy.parquet")
    with open(bad, "wb") as fh:
        fh.write(b"not a parquet file")
    flagged = [s for s in stats(tolerant=True) if s.get("bad")]
    assert [s["path"] for s in flagged] == [bad]
    assert bad not in {k[0] for k in t._footer_cache}
    os.remove(bad)
    assert stats() == want


def test_footer_cache_concurrent_publishers_and_readers(engine, spark):
    """Threads sharing two handles (more threads than cores, short
    switch interval): publishers never hand out a duplicate or skipped
    offset, readers never see the tail move backwards, and each
    handle's cached stats end equal to a fresh handle's."""
    import sys
    import threading

    from kafkaish_spark.sources.topic_log import Topic

    handles = [
        engine.prepare_topic("fc_threads"),
        Topic(spark, engine.root, "fc_threads"),
    ]
    offsets, tails, errors = [], [[], []], []
    stop = threading.Event()

    def publisher(h, n):
        try:
            for i in range(n):
                offsets.append(int(h.publish("e", {"i": i})["offset"]))
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    def reader(h, seen):
        try:
            while not stop.is_set():
                seen.append(h.latest())
                h._segment_stats()
        except Exception as exc:
            errors.append(exc)

    pubs = [
        threading.Thread(target=publisher, args=(handles[i % 2], 5))
        for i in range(6)
    ]
    readers = [
        threading.Thread(target=reader, args=(handles[i], tails[i]))
        for i in range(2)
    ]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in pubs + readers:
            t.start()
        for t in pubs:
            t.join(120)
        stop.set()
        for t in readers:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in pubs + readers)
    assert errors == []
    assert sorted(offsets) == list(range(1, 31))
    for h, seen in zip(handles, tails):
        assert seen and seen == sorted(seen)
        assert h.latest() == 30

    def stats(h):
        return sorted(h._segment_stats(), key=lambda s: s["path"])

    fresh = stats(Topic(spark, engine.root, "fc_threads"))
    assert stats(handles[0]) == stats(handles[1]) == fresh


def test_footer_cache_one_handle_shared_by_threads(engine):
    """Publishers and ``latest()`` readers on ONE handle share its
    footer cache, as a publisher and ``subscribe()``'s followers do:
    offsets stay contiguous, the tail never moves backwards and ends
    right, and each segment's millisecond mtime (the floor
    ``_publish_direct`` reads from the cache) still rises with its
    offsets."""
    import os
    import sys
    import threading

    topic = engine.prepare_topic("fc_one_handle")
    offsets, tails, errors = [], [[] for _ in range(3)], []
    stop = threading.Event()

    def publisher():
        try:
            for i in range(8):
                offsets.append(int(topic.publish("e", {"i": i})["offset"]))
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    def reader(seen):
        try:
            while not stop.is_set():
                seen.append(topic.latest())
        except Exception as exc:
            errors.append(exc)

    pubs = [threading.Thread(target=publisher) for _ in range(4)]
    readers = [threading.Thread(target=reader, args=(t,)) for t in tails]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in readers + pubs:
            t.start()
        for t in pubs:
            t.join(120)
        stop.set()
        for t in readers:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in pubs + readers)
    assert errors == []
    assert sorted(offsets) == list(range(1, 33))
    for seen in tails:
        assert seen and seen == sorted(seen) and seen[-1] <= 32
    assert topic.latest() == 32
    segs = sorted(
        (s for s in topic._segment_stats() if s["num_rows"]),
        key=lambda s: s["min_off"],
    )
    stamps = [os.stat(s["path"]).st_mtime_ns // 1_000_000 for s in segs]
    assert all(a < b for a, b in zip(stamps, stamps[1:])), stamps


def test_direct_publish_stamps_segments_in_offset_order(engine):
    """Spark's file source orders a subscriber's new files by
    modification time in whole milliseconds, ties in directory order.
    Every published segment must therefore carry a millisecond mtime
    strictly after each earlier segment's — also when publishes land
    within one millisecond, or when the clock reads earlier than the
    newest segment (simulated by dating the first segment 2 s ahead) —
    or a bounded subscriber drain can deliver out of offset order."""
    import os
    import time

    topic = engine.prepare_topic("mtime_order")
    topic.publish("e", {"i": 0})
    (first,) = [s["path"] for s in topic._segment_stats() if s["num_rows"]]
    ahead = time.time_ns() + 2_000_000_000
    os.utime(first, ns=(ahead, ahead))
    for i in range(1, 12):
        topic.publish("e", {"i": i})
    segs = sorted(
        (s for s in topic._segment_stats() if s["num_rows"]),
        key=lambda s: s["min_off"],
    )
    stamps = [os.stat(s["path"]).st_mtime_ns // 1_000_000 for s in segs]
    assert len(stamps) == 12
    assert all(a < b for a, b in zip(stamps, stamps[1:])), stamps
