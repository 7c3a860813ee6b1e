"""Cross-topic transactional publish (sources/transactions.py):
all-or-nothing across topics, journal recovery in both directions."""

import pytest
from pyspark.sql import functions as F  # noqa: F401


def _df(spark, rows):
    return spark.createDataFrame(rows, "event string, message string")


def test_commit_appends_to_all_topics_with_contiguous_offsets(engine, spark):
    from kafkaish_spark.sources.transactions import publish_transaction

    a = engine.prepare_topic("txn_a")
    a.publish("e", {"pre": 1})  # pre-existing tail
    counts = publish_transaction(
        engine,
        [
            ("txn_a", _df(spark, [("e", "a1"), ("e", "a2")])),
            ("txn_b", _df(spark, [("e", "b1")])),
        ],
    )
    assert counts == {"txn_a": 2, "txn_b": 1}
    assert [r["offset"] for r in a.replay(since=0).collect()] == [1, 2, 3]
    b = engine.prepare_topic("txn_b")
    rows = b.replay(since=0).collect()
    assert [(r["offset"], r["message"]) for r in rows] == [(1, "b1")]


def test_crash_after_staging_rolls_back(engine, spark):
    from kafkaish_spark.sources.transactions import (
        publish_transaction,
        recover_transactions,
    )

    with pytest.raises(RuntimeError, match="simulated crash"):
        publish_transaction(
            engine,
            [
                ("txn_a", _df(spark, [("e", "x")])),
                ("txn_b", _df(spark, [("e", "y")])),
            ],
            _crash_after="staged",
        )
    # nothing visible before recovery...
    assert engine.prepare_topic("txn_a").latest() == 0
    assert engine.prepare_topic("txn_b").latest() == 0
    out = recover_transactions(engine)
    assert out == {"rolled_back": 1, "rolled_forward": 0}
    # ...and nothing after: the transaction never happened
    assert engine.prepare_topic("txn_a").latest() == 0
    assert engine.prepare_topic("txn_b").latest() == 0


def test_crash_mid_commit_rolls_forward(engine, spark):
    from kafkaish_spark.sources.transactions import (
        publish_transaction,
        recover_transactions,
    )

    with pytest.raises(RuntimeError, match="simulated crash"):
        publish_transaction(
            engine,
            [
                ("txn_a", _df(spark, [("e", "x1"), ("e", "x2")])),
                ("txn_b", _df(spark, [("e", "y1")])),
            ],
            _crash_after=1,  # first topic moved, second not
        )
    out = recover_transactions(engine)
    assert out == {"rolled_back": 0, "rolled_forward": 1}
    # BOTH topics show the full transaction after roll-forward
    a_rows = engine.prepare_topic("txn_a").replay(since=0).collect()
    b_rows = engine.prepare_topic("txn_b").replay(since=0).collect()
    assert sorted(r["message"] for r in a_rows) == ["x1", "x2"]
    assert [r["message"] for r in b_rows] == ["y1"]


def test_next_transaction_auto_recovers_debris(engine, spark):
    """publish_transaction runs recovery first: a crashed predecessor
    cannot block or corrupt the next writer, and offsets remain
    contiguous across the recovered history."""
    from kafkaish_spark.sources.transactions import publish_transaction

    with pytest.raises(RuntimeError):
        publish_transaction(
            engine,
            [("txn_a", _df(spark, [("e", "lost")]))],
            _crash_after="staged",
        )
    counts = publish_transaction(
        engine, [("txn_a", _df(spark, [("e", "kept")]))]
    )
    assert counts == {"txn_a": 1}
    rows = engine.prepare_topic("txn_a").replay(since=0).collect()
    assert [(r["offset"], r["message"]) for r in rows] == [(1, "kept")]


def test_partitioned_topics_rejected(engine, spark):
    from kafkaish_spark.sources.transactions import publish_transaction

    engine.prepare_topic("txn_part", partitioned=True)
    with pytest.raises(ValueError, match="date-partitioned"):
        publish_transaction(
            engine, [("txn_part", _df(spark, [("e", "x")]))]
        )
    assert engine.prepare_topic("txn_part").latest() == 0


def test_consume_transform_produce_exactly_once(engine, spark):
    """The EOS loop: poll topic A from the group offset, publish the
    transformed batch to topic B WITH the group-offset commit in the
    same transaction.  A crash mid-commit must leave, after recovery,
    BOTH the outputs and the advanced offset — re-polling resumes past
    the processed batch, nothing skipped, nothing reprocessed."""
    from kafkaish_spark.sources.transactions import (
        publish_transaction,
        recover_transactions,
    )

    src = engine.prepare_topic("eos_src")
    src.publish_batch([("e", {"i": 1}), ("e", {"i": 2}), ("e", {"i": 3})])

    def poll_and_relay(crash=None):
        start = src.last_ack("relay") or 0
        upto = src.latest()
        batch = src.replay(since=start).filter(F.col("offset") <= upto)
        out = batch.select(
            "event", F.concat(F.lit("out:"), F.col("message")).alias("message")
        )
        return publish_transaction(
            engine,
            [("eos_dst", out)],
            acks=[("eos_src", "relay", upto)],
            _crash_after=crash,
        )

    # crash between the commit point and the renames/acks
    with pytest.raises(RuntimeError):
        poll_and_relay(crash=0)
    recover_transactions(engine)
    dst = engine.prepare_topic("eos_dst")
    assert dst.latest() == 3  # outputs landed exactly once
    assert src.last_ack("relay") == 3  # offset advanced with them

    # resumed loop: nothing to process, nothing re-produced
    counts = poll_and_relay()
    assert counts == {"eos_dst": 0}
    assert dst.latest() == 3

    # and new input flows through exactly once
    src.publish("e", {"i": 4})
    poll_and_relay()
    msgs = sorted(r["message"] for r in dst.replay(since=0).collect())
    assert len(msgs) == 4 and msgs[-1].startswith("out:")


def test_same_topic_twice_in_one_transaction_gets_unique_offsets(
    engine, spark
):
    """Staged segments are invisible to latest(): without per-topic
    staged-row tracking, a topic appearing twice in ``publishes`` got
    the same base offset twice and the committed log held duplicate
    offsets (r4 advice, medium)."""
    from kafkaish_spark.sources.transactions import publish_transaction

    counts = publish_transaction(
        engine,
        [
            ("txn_dup", _df(spark, [("e", "m1"), ("e", "m2")])),
            ("txn_other", _df(spark, [("e", "x1")])),
            ("txn_dup", _df(spark, [("e", "m3")])),
        ],
    )
    assert counts == {"txn_dup": 3, "txn_other": 1}
    rows = engine.prepare_topic("txn_dup").replay(since=0).collect()
    assert [r["offset"] for r in rows] == [1, 2, 3]
    assert [r["message"] for r in rows] == ["m1", "m2", "m3"]


def test_recovery_leaves_a_live_transaction_alone(engine, spark, monkeypatch):
    """Recovery resolves only transactions whose owner is gone: while
    one transaction is paused between its staging write and its
    journal, another thread's ``recover_transactions`` leaves its
    directory alone, and the transaction then commits its row."""
    import os
    import threading

    from kafkaish_spark.sources import transactions as T

    staged, resume = threading.Event(), threading.Event()
    real = T.segment_records

    def paused(root):
        staged.set()
        assert resume.wait(120)
        return real(root)

    monkeypatch.setattr(T, "segment_records", paused)
    result = {}
    owner = threading.Thread(
        target=lambda: result.update(
            T.publish_transaction(engine, [("txn_live", _df(spark, [("e", "m")]))])
        )
    )
    owner.start()
    try:
        assert staged.wait(120)
        assert T.recover_transactions(engine) == {
            "rolled_back": 0,
            "rolled_forward": 0,
        }
        assert [
            n for n in os.listdir(T._txn_root(engine)) if not n.endswith(".lock")
        ], "recovery removed a live transaction"
    finally:
        resume.set()
        owner.join(120)
    assert result == {"txn_live": 1}
    rows = engine.prepare_topic("txn_live").replay(since=0).collect()
    assert [(r["offset"], r["message"]) for r in rows] == [(1, "m")]
    assert os.listdir(T._txn_root(engine)) == []  # lock file gone too


def test_concurrent_transactions_on_disjoint_topics(engine, spark):
    """Three threads each commit ten one-row transactions to a topic of
    their own under one engine root.  Every transaction starts with a
    recovery while the others are live, and none may remove or roll
    forward another's: all 30 commit one row, and each topic holds
    offsets 1..10 in its thread's order."""
    import threading

    from kafkaish_spark.sources.transactions import publish_transaction

    counts, errors = [], []

    def run(t):
        try:
            for k in range(10):
                counts.append(
                    publish_transaction(
                        engine, [(f"txn_par{t}", _df(spark, [("e", f"{t}-{k}")]))]
                    )
                )
        except Exception as exc:
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(t,)) for t in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(600)
    assert errors == []
    assert len(counts) == 30 and all(list(c.values()) == [1] for c in counts)
    for t in range(3):
        rows = engine.prepare_topic(f"txn_par{t}").replay(since=0).collect()
        assert [(r["offset"], r["message"]) for r in rows] == [
            (k + 1, f"{t}-{k}") for k in range(10)
        ]


def test_empty_payload_writes_no_segment(engine, spark):
    """An empty frame stages a 0-row file that holds no offsets: it
    stays out of the log, so the topic keeps its segments, and the
    transaction's acks still land."""
    from kafkaish_spark.sources.topic_log import segment_files
    from kafkaish_spark.sources.transactions import publish_transaction

    topic = engine.prepare_topic("txn_empty")
    topic.publish("e", {"pre": 1})
    before = segment_files(topic.log_dir)
    counts = publish_transaction(
        engine, [("txn_empty", _df(spark, []))], acks=[("txn_empty", "g", 1)]
    )
    assert counts == {"txn_empty": 0}
    assert segment_files(topic.log_dir) == before
    assert topic.latest() == 1
    assert topic.last_ack("g") == 1


def test_roll_forward_after_a_direct_publish_keeps_offsets_unique(engine, spark):
    """A transaction killed past its commit point leaves its segments
    staged, where ``latest()`` does not see them: a direct ``publish``
    and a ``publish_df`` in between take their offsets.  Roll-forward
    lands the staged rows after the tail those writers left, so the
    log's offsets stay unique and contiguous, and the ack lands too."""
    from kafkaish_spark.sources.transactions import (
        publish_transaction,
        recover_transactions,
    )

    topic = engine.prepare_topic("txn_race")
    topic.publish("e", "pre")
    with pytest.raises(RuntimeError, match="simulated crash"):
        publish_transaction(
            engine,
            [
                ("txn_race", _df(spark, [("e", "t1"), ("e", "t2")])),
                ("txn_race", _df(spark, [("e", "t3")])),
            ],
            acks=[("txn_race", "g", 7)],
            _crash_after=0,
        )
    topic.publish("e", "direct")
    topic.publish_df(_df(spark, [("e", "df1"), ("e", "df2")]))
    assert recover_transactions(engine) == {"rolled_back": 0, "rolled_forward": 1}
    rows = [(r["offset"], r["message"]) for r in topic.replay(since=0).collect()]
    assert sorted(o for o, _ in rows) == list(range(1, 8))
    by_offset = dict(rows)
    assert [by_offset[o] for o in (1, 2)] == ["pre", "direct"]
    assert sorted(by_offset[o] for o in (3, 4)) == ["df1", "df2"]
    assert [by_offset[o] for o in (5, 6, 7)] == ["t1", "t2", "t3"]
    assert topic.latest() == 7 and topic.last_ack("g") == 7
