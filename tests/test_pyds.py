"""Python Data Source connector (sources/pyds.py): the topic log as
``spark.read.format("kafkaish")`` / ``spark.readStream.format(...)``.

Covers: batch scan parity with Topic.replay, offset/event filter
pushdown with segment pruning on parquet footer stats, empty-topic
planning, the streaming tail (replay-then-live and live-only), and
deterministic range replay for recovery.
"""

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def pub_topic(engine):
    """A topic with 3 segments x 2 events, 9 messages total."""
    topic = engine.prepare_topic("pyds")
    for seg in range(3):
        topic.publish_batch(
            [
                ("a", {"seg": seg, "i": 0}),
                ("b", {"seg": seg, "i": 1}),
                ("a", {"seg": seg, "i": 2}),
            ]
        )
    return topic


def _load(spark, engine, **opts):
    from kafkaish_spark.sources.pyds import register

    register(spark)
    r = (
        spark.read.format("kafkaish")
        .option("path", engine.root)
        .option("topic", "pyds")
    )
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_batch_scan_matches_replay(spark, engine, pub_topic):
    via_ds = _load(spark, engine).orderBy("offset").collect()
    via_replay = pub_topic.replay(since=0).collect()
    assert [tuple(r) for r in via_ds] == [tuple(r) for r in via_replay]
    assert [r["offset"] for r in via_ds] == list(range(1, 10))


def test_offset_and_event_filters_push_down(spark, engine, pub_topic):
    df = _load(spark, engine).filter(
        (F.col("offset") > 3) & (F.col("event") == "a")
    )
    rows = df.orderBy("offset").collect()
    assert [r["offset"] for r in rows] == [4, 6, 7, 9]
    # the filters must be CONSUMED by the python reader: the residual
    # Filter above the BatchScan carries only null checks — the offset
    # comparison and event equality are gone from the JVM plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    flt = [
        ln for ln in plan.splitlines()
        if "Filter" in ln and "RuntimeFilters" not in ln
    ]
    assert flt, plan
    for ln in flt:
        assert "isnotnull" in ln and ">" not in ln and "= a" not in ln, ln


def test_segment_pruning_on_footer_stats(spark, engine, pub_topic):
    """offset > 6 excludes the first two segments (offsets 1-6): the
    reader's partition planner must drop them on footer min/max without
    reading data pages."""
    from kafkaish_spark.sources.pyds import (
        GreaterThan,
        KafkaishBatchReader,
    )

    reader = KafkaishBatchReader(
        {"path": engine.root, "topic": "pyds"}
    )
    leftover = list(reader.pushFilters([GreaterThan(("offset",), 6)]))
    assert leftover == []  # fully consumed
    parts = reader.partitions()
    assert len(parts) == 1  # 3 segments written, 2 pruned
    rows = [b for p in parts for b in reader.read(p)]
    got = sorted(o for batch in rows for o in batch["offset"].to_pylist())
    assert got == [7, 8, 9]


def test_empty_topic_loads_zero_rows(spark, engine):
    engine.prepare_topic("pyds")  # exists, never published
    assert _load(spark, engine).count() == 0


def test_stream_replay_then_live(spark, engine, pub_topic, tmp_path):
    """The streaming reader drains the backlog from offset 0, then a
    second trigger picks up only what was published in between — the
    reference's replay:true subscription through the official API."""
    from kafkaish_spark.sources.pyds import register

    register(spark)
    got = []

    def drain():
        q = (
            spark.readStream.format("kafkaish")
            .option("path", engine.root)
            .option("topic", "pyds")
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: got.extend(
                    r["offset"] for r in df.collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert sorted(got) == list(range(1, 10))
    pub_topic.publish("a", {"late": True})
    got.clear()
    drain()
    assert got == [10]  # exactly the new message, no redelivery


def test_stream_live_only_skips_backlog(spark, engine, pub_topic, tmp_path):
    """replay=false starts at the tail observed at first trigger — the
    ephemeral subscription semantics (backlog invisible, live visible)."""
    from kafkaish_spark.sources.pyds import register

    register(spark)
    got = []

    def drain():
        q = (
            spark.readStream.format("kafkaish")
            .option("path", engine.root)
            .option("topic", "pyds")
            .option("replay", "false")
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: got.extend(
                    r["offset"] for r in df.collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert got == []  # backlog skipped
    pub_topic.publish("b", {"live": 1})
    drain()
    assert got == [10]


def test_partitioned_stream_drains_10k_across_segment_partitions(
    spark, engine, tmp_path
):
    """r9 (r8 verdict item 4 'done' criterion): 10k+ messages drain
    through the PARTITIONED stream reader with one input partition per
    overlapping log segment — the micro-batch DataFrame physically has
    as many partitions as the backlog has segments, proving rows flow
    executor-side, never through the driver loop.  Content integrity
    is checked by count + offset-sum fingerprint (any dropped or
    duplicated message moves the sum)."""
    from kafkaish_spark.sources.pyds import register

    register(spark)
    topic = engine.prepare_topic("pyds_10k")
    n_segments, per_seg = 6, 2000
    for s in range(n_segments):
        topic.publish_batch(
            [("e", f'{{"i": {s * per_seg + i}}}') for i in range(per_seg)]
        )
    n = n_segments * per_seg
    seen: list[tuple[int, int, int]] = []  # (rows, offset_sum, partitions)

    def sink(df, _bid):
        agg = df.groupBy().sum("offset").collect()[0][0] or 0
        seen.append((df.count(), agg, df.rdd.getNumPartitions()))

    q = (
        spark.readStream.format("kafkaish")
        .option("path", engine.root)
        .option("topic", "pyds_10k")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt10k"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = sum(s[0] for s in seen)
    off_sum = sum(s[1] for s in seen)
    assert rows == n
    assert off_sum == n * (n + 1) // 2  # offsets 1..n exactly once
    # the backlog batch fans out one partition per overlapping segment
    assert max(s[2] for s in seen) == n_segments


def test_batch_write_appends_with_contiguous_offsets(spark, engine, pub_topic):
    """df.write.format('kafkaish') stages per-partition files and
    commit() assigns contiguous offsets after the tail — readable both
    through the engine API and the connector, with ts filled in."""
    from kafkaish_spark.sources.pyds import register

    register(spark)
    df = spark.createDataFrame(
        [("a", "w1"), ("b", "w2"), ("a", "w3")], "event string, message string"
    ).repartition(2)
    (
        df.write.format("kafkaish")
        .option("path", engine.root)
        .option("topic", "pyds")
        .mode("append")
        .save()
    )
    after = pub_topic.replay(since=9).collect()
    assert [r["offset"] for r in after] == [10, 11, 12]
    assert sorted(r["message"] for r in after) == ["w1", "w2", "w3"]
    assert all(r["ts"] is not None for r in after)
    # connector read agrees
    got = _load(spark, engine).filter(F.col("offset") > 9).count()
    assert got == 3


def test_batch_write_rejects_overwrite_and_bad_schema(spark, engine, pub_topic):
    from kafkaish_spark.sources.pyds import register

    register(spark)
    df = spark.createDataFrame([("a", "x")], "event string, message string")
    with pytest.raises(Exception, match="append-only"):
        (
            df.write.format("kafkaish")
            .option("path", engine.root)
            .option("topic", "pyds")
            .mode("overwrite")
            .save()
        )
    bad = spark.createDataFrame([("a",)], "wrong string")
    with pytest.raises(Exception, match="kafkaish sink needs"):
        (
            bad.write.format("kafkaish")
            .option("path", engine.root)
            .option("topic", "pyds")
            .mode("append")
            .save()
        )
    # no partial state leaked into the log by the failed writes
    assert pub_topic.latest() == 9


def test_stream_write_exactly_once_per_epoch(spark, engine, tmp_path):
    """readStream from one topic -> writeStream.format('kafkaish') into
    another: every message crosses exactly once, offsets stay
    contiguous, and a re-run with the same checkpoint adds nothing."""
    from kafkaish_spark.sources.pyds import register

    register(spark)
    src = engine.prepare_topic("relay_src")
    engine.prepare_topic("relay_dst")
    src.publish_batch([("a", {"i": 1}), ("b", {"i": 2})])
    src.publish_batch([("a", {"i": 3})])

    def relay():
        q = (
            spark.readStream.format("kafkaish")
            .option("path", engine.root)
            .option("topic", "relay_src")
            .load()
            .select("event", "message")
            .writeStream.format("kafkaish")
            .option("path", engine.root)
            .option("topic", "relay_dst")
            .option("checkpointLocation", str(tmp_path / "relay_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    relay()
    dst = engine.prepare_topic("relay_dst")
    rows = dst.replay(since=0).collect()
    assert [r["offset"] for r in rows] == [1, 2, 3]
    assert sorted(r["message"] for r in rows) == sorted(
        ['{"i": 1}', '{"i": 2}', '{"i": 3}']
    )
    # idempotent re-run: checkpoint says everything is delivered
    relay()
    assert engine.prepare_topic("relay_dst").latest() == 3
    # live tail crosses on the next run, exactly once
    src.publish("b", {"i": 4})
    relay()
    rows = engine.prepare_topic("relay_dst").replay(since=3).collect()
    assert [r["offset"] for r in rows] == [4]
    assert rows[0]["message"] == '{"i": 4}'


def test_partitioned_stream_reader_prunes_by_range(engine, pub_topic):
    """The executor-parallel stream reader plans only the segments
    overlapping the trigger's offset range (footer-stats pruning), and
    reads exactly the range rows as Arrow batches."""
    from kafkaish_spark.sources.pyds import KafkaishPartitionedStreamReader

    r = KafkaishPartitionedStreamReader(
        {"path": engine.root, "topic": "pyds"}
    )
    assert r.initialOffset() == {"offset": 0}
    assert r.latestOffset() == {"offset": 9}
    # range (3, 7]: segment 1 (1-3) pruned, segments 2 (4-6) + 3 (7-9) kept
    parts = r.partitions({"offset": 3}, {"offset": 7})
    assert len(parts) == 2
    got = sorted(
        o
        for p in parts
        for batch in r.read(p)
        for o in batch["offset"].to_pylist()
    )
    assert got == [4, 5, 6, 7]
    # empty range plans nothing
    assert r.partitions({"offset": 9}, {"offset": 9}) == []


def test_read_between_offsets_is_deterministic(engine, pub_topic):
    """Planning and reading a committed range again — on the same reader
    or on a fresh one — replays it exactly: the recovery contract a
    restarted query relies on."""
    from kafkaish_spark.sources.pyds import KafkaishPartitionedStreamReader

    def read_range(reader, lo, hi):
        rows = [
            row
            for p in reader.partitions({"offset": lo}, {"offset": hi})
            for batch in reader.read(p)
            for row in batch.to_pylist()
        ]
        return sorted(rows, key=lambda row: row["offset"])

    opts = {"path": engine.root, "topic": "pyds"}
    r = KafkaishPartitionedStreamReader(opts)
    a = read_range(r, 3, 7)
    b = read_range(r, 3, 7)
    c = read_range(KafkaishPartitionedStreamReader(opts), 3, 7)
    assert [row["offset"] for row in a] == [4, 5, 6, 7]
    assert a == b == c


def test_batch_write_rejects_partitioned_topics(spark, engine):
    """Flat DSv2 segments inside a pub_date-partitioned layout would
    corrupt the directory scheme — the writer must refuse upfront."""
    from kafkaish_spark.sources.pyds import register

    register(spark)
    topic = engine.prepare_topic("pyds_part", partitioned=True)
    topic.publish("a", {"i": 1})
    df = spark.createDataFrame([("a", "x")], "event string, message string")
    with pytest.raises(Exception, match="date-partitioned"):
        (
            df.write.format("kafkaish")
            .option("path", engine.root)
            .option("topic", "pyds_part")
            .mode("append")
            .save()
        )
    assert topic.latest() == 1


# ---------------------------------------------------------------- r5 advice
# Round-4 advice fixes: per-run epoch-marker namespaces, journaled
# (roll-forward) streaming commits, marker GC, and by-name footer
# offset lookup.


def _mk_staged(dirpath, rows, pid=0):
    """A fake task-stage file + its WriterCommitMessage."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafkaish_spark.sources.pyds import _StagedFile

    os.makedirs(dirpath, exist_ok=True)
    path = os.path.join(dirpath, f"stage-{pid:05d}.parquet")
    tbl = pa.table(
        {
            "event": pa.array([e for e, _ in rows], pa.string()),
            "message": pa.array([m for _, m in rows], pa.string()),
        }
    )
    pq.write_table(tbl, path)
    return _StagedFile(path, len(rows), pid)


def _stream_writer(engine, topic, ckpt):
    from kafkaish_spark.sources.pyds import KafkaishStreamWriter

    return KafkaishStreamWriter(
        {"path": engine.root, "topic": topic, "checkpointLocation": ckpt},
        overwrite=False,
    )


def test_stream_writer_requires_run_identity(engine):
    """Epoch markers must be namespaced per query run: without a
    checkpointLocation/writerId there is no stable identity and a fresh
    run's batch 0 would collide with the previous run's marker."""
    from kafkaish_spark.sources.pyds import KafkaishStreamWriter

    engine.prepare_topic("ident")
    with pytest.raises(ValueError, match="per-run identity"):
        KafkaishStreamWriter(
            {"path": engine.root, "topic": "ident"}, overwrite=False
        )


def test_stream_write_fresh_checkpoint_does_not_drop_epoch0(
    engine, tmp_path
):
    """A NEW query run (fresh checkpoint -> batchIds restart at 0)
    writing to the same topic must append its epoch 0 — the old
    topic-global marker design silently dropped it (r4 advice, high)."""
    engine.prepare_topic("multirun")
    w1 = _stream_writer(engine, "multirun", str(tmp_path / "ck_run1"))
    w1.commit([_mk_staged(tmp_path / "s1", [("a", "m1"), ("a", "m2")])], 0)
    assert engine.prepare_topic("multirun").latest() == 2

    w2 = _stream_writer(engine, "multirun", str(tmp_path / "ck_run2"))
    w2.commit([_mk_staged(tmp_path / "s2", [("b", "m3")])], 0)
    rows = engine.prepare_topic("multirun").replay(since=0).collect()
    assert [r["offset"] for r in rows] == [1, 2, 3]
    assert [r["message"] for r in rows] == ["m1", "m2", "m3"]

    # while the SAME run's retry of batch 0 is still a no-op
    w1r = _stream_writer(engine, "multirun", str(tmp_path / "ck_run1"))
    w1r.commit([_mk_staged(tmp_path / "s1b", [("a", "m1"), ("a", "m2")])], 0)
    assert engine.prepare_topic("multirun").latest() == 3


def test_stream_write_commit_rolls_forward_not_republish(
    engine, tmp_path
):
    """Crash mid-commit (journal written, renames partial): the
    checkpoint retry must FINISH the old publish — not duplicate the
    already-renamed segments, not fail on cleaned staging (r4 advice,
    medium)."""
    import json
    import os

    engine.prepare_topic("crashy")
    w = _stream_writer(engine, "crashy", str(tmp_path / "ck_crash"))
    w.commit([_mk_staged(tmp_path / "c0", [("a", "base")])], 0)

    # simulate the crashed attempt of batch 1: finalized into the
    # prepared dir, journal at state=committing, ONE of two segments
    # already renamed into the log, staging already cleaned
    staged = [
        _mk_staged(tmp_path / "c1", [("a", "x1")], pid=0),
        _mk_staged(tmp_path / "c1", [("a", "x2")], pid=1),
    ]
    prep = os.path.join(w.marker_dir, "prep-1")
    os.makedirs(prep, exist_ok=True)
    names = w._finalize_staged(staged, prep, "b1")
    assert len(names) == 2
    w._write_marker(
        os.path.join(w.marker_dir, "1.json"),
        {"state": "committing", "names": names, "prep": prep, "rows": 2},
    )
    os.replace(
        os.path.join(prep, names[0]), os.path.join(w.log_dir, names[0])
    )
    assert engine.prepare_topic("crashy").latest() == 2  # torn: 1 of 2

    # the retry re-stages its own twin files; commit must IGNORE them
    # and roll the journaled attempt forward
    retry = _stream_writer(engine, "crashy", str(tmp_path / "ck_crash"))
    retry.commit(
        [
            _mk_staged(tmp_path / "c1r", [("a", "x1")], pid=0),
            _mk_staged(tmp_path / "c1r", [("a", "x2")], pid=1),
        ],
        1,
    )
    rows = engine.prepare_topic("crashy").replay(since=0).collect()
    assert [r["offset"] for r in rows] == [1, 2, 3]
    assert sorted(r["message"] for r in rows) == ["base", "x1", "x2"]
    with open(os.path.join(retry.marker_dir, "1.json")) as f:
        assert json.load(f)["state"] == "committed"
    assert not os.path.exists(prep)


def test_stream_writer_gc_prunes_old_markers(engine, tmp_path):
    """Markers far behind the current epoch are pruned (bounded marker
    dir), and dead prior-run namespaces are GC'd after the retention
    window."""
    import os
    import time

    engine.prepare_topic("gc")
    w = _stream_writer(engine, "gc", str(tmp_path / "ck_gc"))
    w.commit([_mk_staged(tmp_path / "g0", [("a", "m")])], 0)
    assert os.path.exists(os.path.join(w.marker_dir, "0.json"))
    w.commit([_mk_staged(tmp_path / "g1", [("a", "m")])], w._RETAIN + 5)
    assert not os.path.exists(os.path.join(w.marker_dir, "0.json"))
    assert os.path.exists(os.path.join(w.marker_dir, f"{w._RETAIN + 5}.json"))

    # a dead run namespace older than the window disappears on the next
    # writer's init
    old = time.time() - w._DEAD_RUN_SECS - 60
    for f in os.listdir(w.marker_dir):
        os.utime(os.path.join(w.marker_dir, f), (old, old))
    os.utime(w.marker_dir, (old, old))
    w2 = _stream_writer(engine, "gc", str(tmp_path / "ck_gc2"))
    assert not os.path.isdir(w.marker_dir)
    assert w2.marker_dir != w.marker_dir


def test_footer_offset_lookup_by_name(engine, tmp_path):
    """Segment pruning resolves the offset column BY NAME from the
    footer schema: a segment written with a different column order must
    still prune/tail correctly (r4 advice, low)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafkaish_spark.sources.pyds import KafkaishBatchReader
    from kafkaish_spark.sources.topic_log import _footer_record

    topic = engine.prepare_topic("reorder")
    topic.publish_batch([("a", {"i": 1}), ("a", {"i": 2})])
    # an externally-written segment with offset NOT first
    ext = pa.table(
        {
            "event": pa.array(["a", "a"], pa.string()),
            "message": pa.array(["x3", "x4"], pa.string()),
            "ts": pa.array([None, None], pa.timestamp("us")),
            "offset": pa.array([3, 4], pa.int64()),
        }
    )
    pq.write_table(ext, os.path.join(topic.log_dir, "part-ext.parquet"))
    rec = _footer_record(os.path.join(topic.log_dir, "part-ext.parquet"))
    assert (rec["min_off"], rec["max_off"]) == (3, 4)
    reader = KafkaishBatchReader({"path": engine.root, "topic": "reorder"})
    from kafkaish_spark.sources.pyds import GreaterThan

    list(reader.pushFilters([GreaterThan(("offset",), 4)]))
    parts = [p for p in reader.partitions() if p.file]
    # both segments have max <= 4 except none -> the ext segment's max
    # IS 4, so everything is pruned
    assert parts == []
    reader2 = KafkaishBatchReader({"path": engine.root, "topic": "reorder"})
    list(reader2.pushFilters([GreaterThan(("offset",), 2)]))
    kept = [os.path.basename(p.file) for p in reader2.partitions() if p.file]
    assert kept == ["part-ext.parquet"]

def test_footer_partial_stats_tail_fallback(engine, tmp_path):
    """A segment whose footer stats are PARTIAL (some row group lacks
    min/max) must not be treated as empty: the shared tail falls back
    to an exact offset-column read so the next append never reuses
    live offsets (r5 advice, low)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafkaish_spark.sources.topic_log import (
        _file_offset_max,
        _footer_record,
        log_tail,
        segment_records,
    )

    topic = engine.prepare_topic("partialstats")
    topic.publish_batch([("a", {"i": 1}), ("a", {"i": 2})])
    # an externally-written segment with statistics disabled
    ext = pa.table(
        {
            "offset": pa.array([3, 4], pa.int64()),
            "ts": pa.array([None, None], pa.timestamp("us")),
            "event": pa.array(["a", "a"], pa.string()),
            "message": pa.array(["x3", "x4"], pa.string()),
        }
    )
    fpath = os.path.join(topic.log_dir, "part-nostats.parquet")
    pq.write_table(ext, fpath, write_statistics=False)
    assert _footer_record(fpath)["max_off"] is None  # stats incomplete
    assert _file_offset_max(fpath) == 4
    # not 2: the statless segment counts
    assert log_tail(segment_records(topic.log_dir)) == 4


def test_file_offset_max_none_only_for_missing_column(tmp_path):
    """r7 review fix: _file_offset_max returns None ONLY when the
    offset column is absent from the footer schema; any other read
    failure raises — a silently understated tail in the writer path
    would let the next append reuse live offsets.  The footer record
    of the offset-less file reads as missing stats, not a KeyError."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from kafkaish_spark.sources.topic_log import _file_offset_max, _footer_record

    no_off = os.path.join(str(tmp_path), "no_offset.parquet")
    pq.write_table(pa.table({"event": pa.array(["a"], pa.string())}), no_off)
    assert _file_offset_max(no_off) is None
    rec = _footer_record(no_off)
    assert (rec["num_rows"], rec["max_off"], rec["max_ts_us"]) == (1, None, None)

    ok = os.path.join(str(tmp_path), "ok.parquet")
    pq.write_table(pa.table({"offset": pa.array([7, 9], pa.int64())}), ok)
    assert _file_offset_max(ok) == 9

    corrupt = os.path.join(str(tmp_path), "corrupt.parquet")
    with open(corrupt, "wb") as fh:
        fh.write(b"PAR1 this is not a parquet footer")
    with pytest.raises(Exception):
        _file_offset_max(corrupt)


def test_footer_reading_stays_in_topic_log():
    """The connector reads no parquet footer itself: which files are
    the log and what they hold is decided in sources/topic_log.py, so
    the connector and Topic can never disagree about the log."""
    import kafkaish_spark.sources.pyds as pyds

    with open(pyds.__file__) as fh:
        assert "ParquetFile(" not in fh.read()
