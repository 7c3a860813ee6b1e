"""Streaming analytics operators (SURVEY.md §2.3 S4-S10): windows,
watermarks, stateful dedup, arbitrary per-key state, trigger control.
All use file-source streams over temp topic logs with availableNow
triggers — no wall-clock dependence.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _seed_topic(engine, name, rows):
    """rows: list of (event, message, ts_string)."""
    topic = engine.prepare_topic(name)
    df = topic.spark.createDataFrame(
        [(e, m, t) for e, m, t in rows], "event string, message string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    topic.publish_df(df)
    return topic


def _collect_stream(spark, stream_df, tmp_path, mode="update"):
    rows = []
    q = (
        stream_df.writeStream.foreachBatch(lambda df, _id: rows.extend(df.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode(mode)
        .start()
    )
    q.awaitTermination()
    return rows


def test_tumbling_window_stream(engine, spark, tmp_path):
    topic = _seed_topic(
        engine,
        "w_tumble",
        [
            ("e", "a", "2024-01-01 10:05:00"),
            ("e", "b", "2024-01-01 10:55:00"),
            ("e", "c", "2024-01-01 11:05:00"),
        ],
    )
    agg = (
        topic.stream()
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("ws"), "n")
    )
    rows = _collect_stream(spark, agg, tmp_path)
    got = {r["ws"]: r["n"] for r in rows}
    assert got == {"2024-01-01 10:00:00": 2, "2024-01-01 11:00:00": 1}


def test_watermark_drops_late_data(engine, spark, tmp_path):
    """S7: with a 10-minute watermark, an event arriving after the
    watermark has passed its window is dropped from the aggregation.
    Two checkpointed runs make the watermark advancement deterministic
    (it persists in the checkpoint commit log between runs)."""
    topic = engine.prepare_topic("w_late")

    def agg():
        return (
            topic.stream()
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").cast("string").alias("ws"), "n")
        )

    # run 1: on-time events; final no-data batch advances the watermark
    # to 12:50 and emits the finalized 10:00 window
    topic.publish_df(
        spark.createDataFrame(
            [("e", "x", "2024-01-01 10:05:00"), ("e", "y", "2024-01-01 13:00:00")],
            "event string, message string, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
    )
    rows1 = _collect_stream(spark, agg(), tmp_path, mode="append")
    got1 = {r["ws"]: r["n"] for r in rows1}
    assert got1.get("2024-01-01 10:00:00") == 1

    # run 2: a late event for the already-finalized 10:00 window — the
    # restored watermark (12:50) drops it; nothing new is emitted for
    # that window
    topic.publish_df(
        spark.createDataFrame(
            [("e", "late", "2024-01-01 10:10:00")],
            "event string, message string, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
    )
    rows2 = _collect_stream(spark, agg(), tmp_path, mode="append")
    assert all(r["ws"] != "2024-01-01 10:00:00" for r in rows2)


def test_stateful_dedup_within_watermark(engine, spark, tmp_path):
    """S8: dropDuplicates on a key column across micro-batches."""
    topic = _seed_topic(
        engine,
        "w_dedup",
        [
            ("e", "k1", "2024-01-01 10:00:00"),
            ("e", "k2", "2024-01-01 10:01:00"),
            ("e", "k1", "2024-01-01 10:02:00"),
        ],
    )
    dedup = (
        topic.stream()
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["message"])
        .select("message")
    )
    rows = _collect_stream(spark, dedup, tmp_path, mode="append")
    assert sorted(r["message"] for r in rows) == ["k1", "k2"]


def test_apply_in_pandas_with_state(engine, spark, tmp_path):
    """S9: arbitrary stateful processing — per-event running counters
    via applyInPandasWithState (GroupState), the Spark analog of a
    custom stateful consumer."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    topic = _seed_topic(
        engine,
        "w_state",
        [
            ("a", "1", "2024-01-01 10:00:00"),
            ("b", "2", "2024-01-01 10:01:00"),
            ("a", "3", "2024-01-01 10:02:00"),
        ],
    )

    out_schema = StructType(
        [
            StructField("event", StringType()),
            StructField("total", LongType()),
        ]
    )
    state_schema = StructType([StructField("cnt", LongType())])

    def count_state(key, pdfs, state):
        cnt = state.get[0] if state.exists else 0
        for pdf in pdfs:
            cnt += len(pdf)
        state.update((cnt,))
        import pandas as pd

        yield pd.DataFrame({"event": [key[0]], "total": [cnt]})

    counted = (
        topic.stream()
        .groupBy("event")
        .applyInPandasWithState(
            count_state,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    rows = _collect_stream(spark, counted, tmp_path)
    got = {r["event"]: r["total"] for r in rows}
    assert got == {"a": 2, "b": 1}


def test_session_window_stream(engine, spark, tmp_path):
    """S6: session windows merge events closer than the gap."""
    topic = _seed_topic(
        engine,
        "w_session",
        [
            ("e", "a", "2024-01-01 10:00:00"),
            ("e", "b", "2024-01-01 10:10:00"),  # same session (gap 30m)
            ("e", "c", "2024-01-01 12:00:00"),  # new session
        ],
    )
    # streaming session windows require a grouping key (no global
    # session agg) — the event routing key is the natural one
    agg = (
        topic.stream()
        .withWatermark("ts", "1 minute")
        .groupBy("event", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("ws"), "n")
    )
    rows = _collect_stream(spark, agg, tmp_path, mode="append")
    got = {r["ws"]: r["n"] for r in rows}
    # append mode emits only sessions the watermark has closed: the
    # 10:00-10:40 session (2 events merged across the 10-min gap).  The
    # 12:00 session is still open (watermark 11:59 < session end 12:30)
    # — correctly NOT emitted yet.
    assert got == {"2024-01-01 10:00:00": 2}


def test_running_totals_library_op(engine, spark, tmp_path):
    """S9 as a library operator: kafkaish_spark.streaming.stateful
    keeps checkpointed per-key counters across restarts."""
    from kafkaish_spark.streaming.stateful import running_totals

    topic = _seed_topic(
        engine,
        "w_state_lib",
        [
            ("a", "1", "2024-01-01 10:00:00"),
            ("b", "2", "2024-01-01 10:01:00"),
            ("a", "3", "2024-01-01 10:02:00"),
        ],
    )
    rows = _collect_stream(spark, running_totals(topic.stream()), tmp_path)
    got = {r["key"]: r["total"] for r in rows}
    assert got == {"a": 2, "b": 1}

    # state survives a restart: new messages continue the counters from
    # the checkpointed totals
    topic.publish_df(
        spark.createDataFrame(
            [("a", "4", "2024-01-01 10:03:00")],
            "event string, message string, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
    )
    rows2 = _collect_stream(spark, running_totals(topic.stream()), tmp_path)
    got2 = {r["key"]: r["total"] for r in rows2}
    assert got2["a"] == 3


def test_sliding_window_stream(engine, spark, tmp_path):
    """S5: overlapping 1h windows sliding by 30m — one event lands in
    two windows."""
    topic = _seed_topic(
        engine,
        "w_slide",
        [("e", "a", "2024-01-01 10:45:00")],
    )
    agg = (
        topic.stream()
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("ws"), "n")
    )
    rows = _collect_stream(spark, agg, tmp_path)
    got = {r["ws"]: r["n"] for r in rows}
    assert got == {"2024-01-01 10:00:00": 1, "2024-01-01 10:30:00": 1}


def test_stream_stream_interval_join(engine, spark, tmp_path):
    """Stream-stream correlation: each purchase joins the click by the
    same user within the preceding hour; older clicks fall outside the
    interval and match nothing."""
    from kafkaish_spark.streaming.joins import interval_join

    clicks = _seed_topic(
        engine,
        "ssj_clicks",
        [
            ("u1", "c_recent", "2024-01-01 09:40:00"),
            ("u2", "c_stale", "2024-01-01 07:00:00"),
        ],
    )
    purchases = _seed_topic(
        engine,
        "ssj_purch",
        [
            ("u1", "p1", "2024-01-01 10:00:00"),
            ("u2", "p2", "2024-01-01 10:00:00"),
        ],
    )
    joined = interval_join(
        purchases.stream(),
        clicks.stream(),
        key="event",
        max_delay="1 hour",
        watermark="1 minute",
    ).select("l_event", "l_message", "r_message")
    rows = _collect_stream(spark, joined, tmp_path, mode="append")
    got = {(r["l_event"], r["l_message"], r["r_message"]) for r in rows}
    assert got == {("u1", "p1", "c_recent")}


def test_topic_to_topic_pipeline(engine, spark, tmp_path):
    """pipe(): transformed re-publish with fresh offsets; resuming only
    moves NEW source messages (checkpointed per pipeline)."""
    from pyspark.sql import functions as PF

    from kafkaish_spark.streaming.pipeline import pipe

    src = _seed_topic(
        engine,
        "pipe_src",
        [("click", "a", "2024-01-01 10:00:00"), ("view", "b", "2024-01-01 10:01:00")],
    )
    dst = engine.prepare_topic("pipe_dst")

    def upper(df):
        return df.select("event", PF.upper("message").alias("message"), "ts")

    pipe(src, dst, upper, name="up").await_termination()
    got = [(r["offset"], r["event"], r["message"]) for r in dst.replay().collect()]
    assert got == [(1, "click", "A"), (2, "view", "B")]

    # resume: only the new message flows through
    src.publish_batch([("click", "c")])
    pipe(src, dst, upper, name="up").await_termination()
    msgs = [r["message"] for r in dst.replay().collect()]
    assert msgs == ["A", "B", "C"]


def test_pipeline_skips_replayed_batch(engine, spark, monkeypatch):
    """Exactly-once across a crash: the pipe's batch transaction is
    killed before its commit point ("staged": rolled back), after it
    with no segment renamed (0: rolled forward), and between the sink
    rename and the source ack (1).  Each resumed pipe leaves exactly
    one copy of every source row in the sink: a rolled-forward batch
    lands, rows and ack, before the pipe reads its position."""
    import functools

    from kafkaish_spark.sources.transactions import publish_transaction
    from kafkaish_spark.streaming import pipeline
    from kafkaish_spark.streaming.pipeline import pipe

    src = _seed_topic(engine, "idem_src", [("e", "x0", "2024-01-01 10:00:00")])
    dst = engine.prepare_topic("idem_dst")
    pipe(src, dst, name="p").await_termination()
    assert dst.latest() == 1

    for i, crash in enumerate(("staged", 0, 1), start=1):
        src.publish_batch([("e", f"x{i}")])
        monkeypatch.setattr(
            pipeline,
            "publish_transaction",
            functools.partial(publish_transaction, _crash_after=crash),
        )
        with pytest.raises(RuntimeError, match="simulated crash"):
            pipe(src, dst, name="p").await_termination()
        monkeypatch.setattr(pipeline, "publish_transaction", publish_transaction)
        pipe(src, dst, name="p").await_termination()
        rows = dst.replay(since=0).collect()
        assert [r["offset"] for r in rows] == list(range(1, i + 2)), crash
        assert [r["message"] for r in rows] == [f"x{k}" for k in range(i + 1)]
        assert src.last_ack("p@idem_dst") == i + 1


def test_stream_stream_left_outer_join_emits_unmatched(engine, spark, tmp_path):
    """Left-outer stream-stream join: a purchase with no click in its
    interval emits with nulls once the watermark passes (bounded-state
    eviction).  One continuous query: null flush happens in the no-data
    batch after the watermark-advancing data batch — an availableNow
    restart can stop before that batch runs, so this test drives
    processAllAvailable on a single query instead."""
    from kafkaish_spark.streaming.joins import interval_join

    clicks = _seed_topic(
        engine, "lsj_clicks", [("u1", "c1", "2024-01-01 09:50:00")]
    )
    purchases = _seed_topic(
        engine,
        "lsj_purch",
        [
            ("u1", "p_matched", "2024-01-01 10:00:00"),
            ("u2", "p_lonely", "2024-01-01 10:00:00"),
            # the global watermark is min(left, right): both sides need
            # a horizon-advancing row before eviction can happen
            ("u3", "p_horizon", "2024-01-01 23:00:00"),
        ],
    )
    joined = interval_join(
        purchases.stream(),
        clicks.stream(),
        key="event",
        max_delay="30 minutes",
        watermark="1 minute",
        how="left_outer",
    ).select("l_message", "r_message")

    rows = []
    q = (
        joined.writeStream.foreachBatch(lambda df, _id: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # a click far past the horizon advances the watermark; the
        # following no-data batch evicts + emits the unmatched left row
        clicks.publish_df(
            spark.createDataFrame(
                [("u9", "c_horizon", "2024-01-01 23:00:00")],
                "event string, message string, ts string",
            ).withColumn("ts", F.col("ts").cast("timestamp"))
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r["l_message"], r["r_message"]) for r in rows}
    assert ("p_matched", "c1") in got
    assert ("p_lonely", None) in got


def test_stream_static_enrichment(engine, spark, tmp_path):
    """Stream-static join: each micro-batch row picks up its dimension
    attributes; unmatched keys survive with nulls (left join); the plan
    broadcasts the static side."""
    from kafkaish_spark.streaming.joins import enrich

    topic = _seed_topic(
        engine,
        "t_enrich",
        [
            ("purchase", '{"cust": 1}', "2024-01-01 10:00:00"),
            ("purchase", '{"cust": 2}', "2024-01-01 10:01:00"),
            ("purchase", '{"cust": 99}', "2024-01-01 10:02:00"),
        ],
    )
    dim = spark.createDataFrame(
        [(1, "BUILDING"), (2, "MACHINERY")], "cust long, segment string"
    )
    stream = topic.stream().withColumn(
        "cust", F.get_json_object("message", "$.cust").cast("long")
    )
    out = enrich(stream, dim, "cust")
    rows = {r["cust"]: r["segment"] for r in _collect_stream(spark, out, tmp_path, "append")}
    assert rows == {1: "BUILDING", 2: "MACHINERY", 99: None}


def test_stateful_dedup_within_watermark_scoped(engine, spark, tmp_path):
    """S8 (watermark-scoped variant): dropDuplicatesWithinWatermark
    keeps dedup state only for the watermark horizon — the unbounded-
    stream-safe dedup (plain dropDuplicates state grows forever when
    keys never repeat).  Duplicates inside the horizon are dropped;
    the dedup key here includes the payload so redelivery of the same
    message is what's being suppressed."""
    topic = _seed_topic(
        engine,
        "w_dedup_scoped",
        [
            ("e", "k1", "2024-01-01 10:00:00"),
            ("e", "k2", "2024-01-01 10:01:00"),
            ("e", "k1", "2024-01-01 10:02:00"),
            ("e", "k3", "2024-01-01 10:03:00"),
            ("e", "k3", "2024-01-01 10:03:00"),
        ],
    )
    dedup = (
        topic.stream()
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["message"])
        .select("message")
    )
    rows = _collect_stream(spark, dedup, tmp_path, mode="append")
    assert sorted(r["message"] for r in rows) == ["k1", "k2", "k3"]


def test_cascaded_stateful_window_aggs(engine, spark, tmp_path):
    """Multiple stateful operators in ONE streaming query (Spark 3.4+
    append-mode chaining): hourly counts re-aggregated into a daily
    max-hourly-rate — the streaming form of the hour->day rollup
    hierarchy, with no intermediate topic or second query."""
    topic = _seed_topic(
        engine,
        "w_cascade",
        [
            ("e", "a", "2024-01-01 10:05:00"),
            ("e", "b", "2024-01-01 10:15:00"),
            ("e", "c", "2024-01-01 10:25:00"),
            ("e", "d", "2024-01-01 11:05:00"),
            ("e", "x", "2024-01-02 09:05:00"),
            # watermark mover so day-1 windows close
            ("e", "z", "2024-01-03 12:00:00"),
        ],
    )
    hourly = (
        topic.stream()
        .withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour").alias("hw"))
        .agg(F.count(F.lit(1)).alias("n_hour"))
    )
    daily = (
        hourly.groupBy(F.window(F.window_time("hw"), "1 day").alias("dw"))
        .agg(F.max("n_hour").alias("max_hourly"))
        .select(F.col("dw.start").cast("string").alias("day"), "max_hourly")
    )
    rows = _collect_stream(spark, daily, tmp_path, mode="append")
    got = {r["day"]: r["max_hourly"] for r in rows}
    assert got.get("2024-01-01 00:00:00") == 3
    assert got.get("2024-01-02 00:00:00") == 1


def test_streaming_last_touch_attribution(engine, spark, tmp_path):
    """Streaming dual of the batch as-of kernel: per-user click state
    attributes purchases across micro-batches and restarts, with the
    same 30-min window and same-ts tie rule as the batch kernel."""
    from kafkaish_spark.streaming.stateful import last_touch_attribution_stream

    topic = engine.prepare_topic("attr_stream")

    def pub(rows):
        # the log envelope is (offset, ts, event, message): route the
        # event kind through `event` and the ids through the payload
        topic.publish_df(
            spark.createDataFrame(
                rows, "user_id long, event_id long, event_type string, ts string"
            )
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .select(
                F.col("event_type").alias("event"),
                F.to_json(F.struct("user_id", "event_id")).alias("message"),
                "ts",
            )
        )

    pub(
        [
            (1, 1, "click", "2024-01-01 10:00:00"),
            (1, 2, "purchase", "2024-01-01 10:10:00"),   # -> click 1
            (1, 3, "purchase", "2024-01-01 10:31:00"),   # 31 min -> organic
            (2, 4, "purchase", "2024-01-01 10:00:00"),   # no click yet
        ]
    )

    def run():
        stream = topic.stream().select(
            F.get_json_object("message", "$.user_id").cast("long").alias(
                "user_id"
            ),
            "ts",
            F.get_json_object("message", "$.event_id").cast("long").alias(
                "event_id"
            ),
            F.col("event").alias("event_type"),
        )
        return _collect_stream(
            spark, last_touch_attribution_stream(stream), tmp_path
        )

    rows1 = run()
    got = {r["purchase_id"]: (r["click_id"], r["gap_ms"]) for r in rows1}
    assert got == {2: (1, 600000), 3: (None, None), 4: (None, None)}
    # the grouping key is part of the output (parity with
    # pattern_detect_stream): purchases attribute WITHOUT a lookup join
    users = {r["purchase_id"]: r["user_id"] for r in rows1}
    assert users == {2: 1, 3: 1, 4: 2}

    # click state survives into the next batch AND the next restart:
    # a purchase 20 min after a click published in a LATER batch
    pub([(2, 5, "click", "2024-01-01 10:20:00")])
    pub([(2, 6, "purchase", "2024-01-01 10:40:00")])
    got2 = {r["purchase_id"]: (r["click_id"], r["gap_ms"]) for r in run()}
    assert got2[6] == (5, 1200000)


def test_streaming_pattern_detection(engine, spark, tmp_path):
    """Streaming MATCH_RECOGNIZE twin: c+p journeys and pe incidents
    fire as they complete, including runs that SPAN micro-batches
    (click state carried in the state store)."""
    from kafkaish_spark.streaming.stateful import pattern_detect_stream

    topic = engine.prepare_topic("pattern_stream")

    def pub(rows):
        topic.publish_df(
            spark.createDataFrame(
                rows, "user_id long, event_id long, event_type string, ts string"
            )
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .select(
                F.col("event_type").alias("event"),
                F.to_json(F.struct("user_id", "event_id")).alias("message"),
                "ts",
            )
        )

    def run():
        stream = topic.stream().select(
            F.get_json_object("message", "$.user_id").cast("long").alias(
                "user_id"
            ),
            "ts",
            F.get_json_object("message", "$.event_id").cast("long").alias(
                "event_id"
            ),
            F.col("event").alias("event_type"),
        )
        return _collect_stream(spark, pattern_detect_stream(stream), tmp_path)

    pub(
        [
            (1, 1, "click", "2024-01-01 10:00:00"),
            (1, 2, "click", "2024-01-01 10:01:00"),
            (1, 3, "purchase", "2024-01-01 10:02:00"),  # c+p, run 2
            (1, 4, "error", "2024-01-01 10:03:00"),     # pe
            (2, 5, "view", "2024-01-01 10:00:00"),
            (2, 6, "purchase", "2024-01-01 10:01:00"),  # no click run -> nothing
            (3, 7, "click", "2024-01-01 10:00:00"),     # run stays open
        ]
    )
    got = {
        (r["user_id"], r["pattern"], r["at_event_id"]): r["run_len"]
        for r in run()
    }
    assert got == {(1, "c+p", 3): 2, (1, "pe", 4): 0}

    # user 3's click run carried in state: purchase in a later batch
    # completes the journey
    pub([(3, 8, "click", "2024-01-01 10:05:00"),
         (3, 9, "purchase", "2024-01-01 10:06:00")])
    got2 = {
        (r["user_id"], r["pattern"], r["at_event_id"]): r["run_len"]
        for r in run()
    }
    assert got2[(3, "c+p", 9)] == 2


def test_arrow_regression_degenerate_group_yields_null():
    """ADVICE r1: a single-row (or constant-x) group must yield NULL
    slope/intercept, not ZeroDivisionError."""
    import pyarrow as pa

    from kafkaish_spark.operators.composites7 import _regress_arrow

    one = pa.table(
        {"event_type": ["click"], "x_s": [1700000000], "y_c": [123]}
    )
    out = _regress_arrow(one)
    assert out.column("slope")[0].as_py() is None
    assert out.column("intercept_cents")[0].as_py() is None
    const_x = pa.table(
        {"event_type": ["click", "click"], "x_s": [5, 5], "y_c": [1, 2]}
    )
    out2 = _regress_arrow(const_x)
    assert out2.column("slope")[0].as_py() is None


def test_cdc_stream_apply_materializes_and_tracks_changes(engine, spark, tmp_path):
    """stream_apply keeps a parquet materialization in sync with the
    changelog topic across multiple drains, and re-applying a batch is
    idempotent (the at-least-once + idempotent-apply contract)."""
    from kafkaish_spark.operators.cdc import (
        apply_changes,
        capture,
        read_materialized,
        stream_apply,
    )

    ddl = "id bigint, val string"
    s0 = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ddl)
    s1 = spark.createDataFrame([(1, "a2"), (3, "c"), (4, "d")], ddl)
    s2 = spark.createDataFrame([(2, "back"), (3, "c3"), (4, "d")], ddl)

    topic = engine.prepare_topic("cdc_stream")
    # bootstrap: empty -> s0, then s0 -> s1
    topic.publish_df(capture(spark.createDataFrame([], ddl), s0, "id"))
    topic.publish_df(capture(s0, s1, "id"))
    table = str(tmp_path / "materialized")

    sub = stream_apply(topic, table, "id", ddl)
    sub.query.awaitTermination(120)
    got = sorted((r["id"], r["val"]) for r in read_materialized(spark, table, ddl).collect())
    assert got == sorted((r["id"], r["val"]) for r in s1.collect())

    # next generation of changes arrives; a fresh drain catches up
    topic.publish_df(capture(s1, s2, "id"))
    sub2 = stream_apply(topic, table, "id", ddl)
    sub2.query.awaitTermination(120)
    got = sorted((r["id"], r["val"]) for r in read_materialized(spark, table, ddl).collect())
    assert got == sorted((r["id"], r["val"]) for r in s2.collect())

    # idempotence: re-applying the LAST batch changes nothing
    events = topic.replay(since=0).select("offset", "event", "message")
    reapplied = apply_changes(
        read_materialized(spark, table, ddl), events, "id", ddl
    )
    got2 = sorted((r["id"], r["val"]) for r in reapplied.collect())
    assert got2 == got


def test_cdc_bucketed_apply_rewrites_only_touched_buckets(engine, spark, tmp_path):
    """stream_apply_bucketed: correctness equals the full rebuild AND
    buckets with no events in a batch keep their files byte-identical
    (partition-pruned MERGE — the 100 TB property)."""
    import os

    from kafkaish_spark.operators.cdc import (
        capture,
        read_materialized_bucketed,
        stream_apply_bucketed,
    )

    ddl = "id bigint, val string"
    n = 8
    s0 = spark.createDataFrame([(i, f"v{i}") for i in range(40)], ddl)
    topic = engine.prepare_topic("cdc_bucketed")
    topic.publish_df(capture(spark.createDataFrame([], ddl), s0, "id"))
    table = str(tmp_path / "bucketed")

    sub = stream_apply_bucketed(topic, table, "id", ddl, n_buckets=n)
    sub.query.awaitTermination(120)
    got = sorted(
        (r["id"], r["val"])
        for r in read_materialized_bucketed(spark, table, ddl).collect()
    )
    assert got == sorted((r["id"], r["val"]) for r in s0.collect())

    def snapshot_files():
        out = {}
        for root, _d, files in os.walk(table):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.path.getmtime(p)
        return out

    before = snapshot_files()
    # a tiny delta: touch exactly one key (one bucket)
    s1 = spark.createDataFrame(
        [(i, "CHANGED" if i == 7 else f"v{i}") for i in range(40)], ddl
    )
    topic.publish_df(capture(s0, s1, "id"))
    sub2 = stream_apply_bucketed(topic, table, "id", ddl, n_buckets=n)
    sub2.query.awaitTermination(120)

    got = sorted(
        (r["id"], r["val"])
        for r in read_materialized_bucketed(spark, table, ddl).collect()
    )
    assert got == sorted((r["id"], r["val"]) for r in s1.collect())

    after = snapshot_files()
    changed_dirs = set()
    for p in set(before) ^ set(after) | {
        p for p in before if p in after and before[p] != after[p]
    }:
        rel = os.path.relpath(p, table)
        changed_dirs.add(rel.split(os.sep)[0])
    # exactly ONE bucket rewritten; the other 7 byte-untouched
    assert len({d for d in changed_dirs if d.startswith("bucket=")}) == 1, (
        changed_dirs
    )


def test_transform_with_state_typed_counts(engine, spark, tmp_path):
    """Spark 4 transformWithState kernel (streaming/tws.py): per-user
    MapState event-type counts + ValueState cents total, persisted in
    RocksDB state across micro-batches and across a query RESTART from
    the same checkpoint."""
    from kafkaish_spark.streaming.tws import (
        HAS_TWS,
        TWS_BOOTSTRAP,
        enable_tws,
        per_type_counts,
    )

    if not HAS_TWS:
        pytest.skip(f"protobuf absent; {TWS_BOOTSTRAP}")

    prev = enable_tws(spark)
    try:
        src = tmp_path / "tws_src"
        src.mkdir()
        schema = "user_id bigint, event_type string, value double"

        def write_batch(name, rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(src / name))

        write_batch("b1", [(1, "click", 1.50), (1, "view", 0.25), (2, "click", 2.00)])

        def drain():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(str(src) + "/*")
            )
            out = per_type_counts(stream)
            rows = []
            q = (
                out.writeStream.foreachBatch(
                    lambda df, _id: rows.extend(df.collect())
                )
                .trigger(availableNow=True)
                .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
                .outputMode("update")
                .start()
            )
            q.awaitTermination(120)
            return {(r["user_id"], r["event_type"]): (r["n"], r["user_total_cents"]) for r in rows}

        got1 = drain()
        assert got1[(1, "click")] == (1, 175)
        assert got1[(1, "view")] == (1, 175)
        assert got1[(2, "click")] == (1, 200)

        # second batch lands AFTER a full query restart: MapState counts
        # and the cents ValueState must resume from the checkpoint
        write_batch("b2", [(1, "click", 0.50), (2, "error", 1.00)])
        got2 = drain()
        assert got2[(1, "click")] == (2, 225)   # count and total resumed
        assert got2[(2, "error")] == (1, 300)
        assert (1, "view") not in got2          # untouched type not re-emitted
    finally:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", prev
        )


def test_streaming_drift_histograms_match_batch_psi_twin(
    engine, spark, tmp_path
):
    """The STREAMING side of the drift monitor: a tumbling-window
    histogram aggregation over the live topic produces per-window bin
    counts whose PSI equals the pure-python PSI over the same data —
    i.e. q_stream_psi_windows' math is reproducible from what a
    running monitor actually emits per trigger (bin counts are
    additive across micro-batches, which is WHY a streaming PSI
    monitor works at all: the distance folds over merged counts, not
    raw rows)."""
    import math

    rows = []
    # window A: values clustered low; window B: shifted high — drift
    for i in range(40):
        rows.append(("m", str(100 + (i % 5)), f"2024-01-01 10:{i:02d}:00"))
    for i in range(40):
        rows.append(("m", str(104 + (i % 5)), f"2024-01-01 11:{i:02d}:00"))
    topic = _seed_topic(engine, "drift_mon", rows)
    binned = (
        topic.stream()
        .select(
            F.window("ts", "1 hour").alias("w"),
            (F.col("message").cast("long") % 10).alias("bin"),
        )
        .groupBy(F.col("w.start").cast("string").alias("ws"), "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    emitted = _collect_stream(spark, binned, tmp_path)
    # reconstruct per-window histograms from the emitted state
    hists = {}
    for r in emitted:
        hists.setdefault(r["ws"], {})[r["bin"]] = r["n"]
    ha = hists["2024-01-01 10:00:00"]
    hb = hists["2024-01-01 11:00:00"]
    bins = sorted(set(ha) | set(hb))
    ta, tb, k = sum(ha.values()), sum(hb.values()), len(bins)
    psi_stream = 0.0
    for b in bins:
        p = (ha.get(b, 0) + 0.5) / (ta + 0.5 * k)
        q = (hb.get(b, 0) + 0.5) / (tb + 0.5 * k)
        psi_stream += (p - q) * math.log(p / q)
    # batch replay of the same topic gives the identical histograms
    batch = (
        topic.replay(since=0)
        .select(
            F.hour("ts").alias("h"),
            (F.col("message").cast("long") % 10).alias("bin"),
        )
        .groupBy("h", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    bh = {}
    for r in batch:
        bh.setdefault(r["h"], {})[r["bin"]] = r["n"]
    assert bh[10] == ha and bh[11] == hb
    assert ta == tb == 40
    # the synthetic shift is detectable: PSI well above the 0.25 alert
    assert psi_stream > 0.25


def test_streaming_percentiles_tdigest(engine, spark, tmp_path):
    """S9 library op 4 (r9): per-key t-digest percentiles over the
    stream — bounded state, update-mode emissions, and the same
    rank-error bound the batch sketch pins, here checked against the
    exact quantiles of everything published (two micro-batch rounds,
    state carried through the checkpoint)."""
    from kafkaish_spark.streaming.stateful import streaming_percentiles

    vals1 = [float(v) for v in range(0, 100)]
    topic = _seed_topic(
        engine,
        "w_tdigest",
        [("a", str(v), "2024-01-01 10:00:00") for v in vals1],
    )

    def op(t):
        return streaming_percentiles(
            t.stream().withColumn("value", F.col("message").cast("double")),
            delta=50,
        )

    rows = _collect_stream(spark, op(topic), tmp_path)
    got = {(r["key"], r["q"]): r["value_est"] for r in rows}
    assert got, "no emissions"

    # second round: more data continues the digest from checkpointed
    # state — totals include BOTH rounds
    vals2 = [float(v) for v in range(100, 200)]
    topic.publish_df(
        spark.createDataFrame(
            [("a", str(v), "2024-01-01 10:01:00") for v in vals2],
            "event string, message string, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
    )
    rows2 = _collect_stream(spark, op(topic), tmp_path)
    got2 = {(r["key"], r["q"]): r for r in rows2}
    allv = sorted(vals1 + vals2)
    n = len(allv)
    assert got2[("a", 0.5)]["n_total"] == n
    for q in (0.5, 0.9, 0.99):
        est = got2[("a", q)]["value_est"]
        lo = sum(1 for v in allv if v < est - 1e-9) / n
        hi = sum(1 for v in allv if v <= est + 1e-9) / n
        tol = 2.0 / 50 + 2.0 / n
        assert lo - tol <= q <= hi + tol, (q, est, lo, hi)
