"""Round-11 review regression tests (r10 ADVICE items + r10 verdict
items 1/5: size-targeted compaction, RRF window-warning silence)."""

import pytest

from pyspark.sql import functions as F


# --------------------------------------------------------------- ADVICE


def test_advise_cached_memo_includes_grouping_key(spark, sf_dir):
    """advise_agg_cached's memo key must include the grouping column:
    two call sites sharing a cache_key but grouping on different
    columns must not share a verdict (r10 ADVICE item 2).
    o_orderstatus is ~half 'O' (salt regime); o_custkey's hottest
    customer holds a tiny share (plain regime)."""
    from kafkaish_spark.functions.advisor import advise_agg_cached
    from kafkaish_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    token = ("review-r11", sf_dir, "orders-agg")
    hot = advise_agg_cached(o, "o_orderstatus", cache_key=token)
    cold = advise_agg_cached(o, "o_custkey", cache_key=token)
    assert hot.strategy == "salt"
    assert cold.strategy == "plain"


def test_advise_join_cached_memo_includes_fact_key(spark, sf_dir):
    """Same fix for joins: advise_join_cached keyed on (cache_key,
    kwargs) only would let two different fact keys share a verdict
    (r10 ADVICE item 2).  With a never-broadcastable dim the strategy
    is decided by the fact key's hot share alone."""
    from kafkaish_spark.functions.advisor import advise_join_cached
    from kafkaish_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    token = ("review-r11", sf_dir, "orders-join")
    hot = advise_join_cached(
        o,
        n.withColumnRenamed("n_nationkey", "o_orderstatus"),
        "o_orderstatus",
        cache_key=token,
        broadcast_bytes=1,
    )
    cold = advise_join_cached(
        o,
        n.withColumnRenamed("n_nationkey", "o_custkey"),
        "o_custkey",
        cache_key=token,
        broadcast_bytes=1,
    )
    assert hot.strategy == "salt"
    assert cold.strategy == "shuffle"


@pytest.mark.parametrize("clash", ["_salt", "_p_n"])
def test_advised_agg_rejects_internal_name_collisions(spark, sf_dir, clash):
    """A fact frame that already carries `_salt` (or a `_p_<agg>`
    partial name) must be rejected loudly: withColumn would silently
    clobber it and change the default salt derivation (r10 ADVICE
    item 1)."""
    from kafkaish_spark.functions.advisor import AggAdvice, advised_agg
    from kafkaish_spark.sources.tables import load_table

    fact = load_table(spark, sf_dir, "orders").withColumn(clash, F.lit(1))
    forced_salt = AggAdvice("salt", "O", 0.5, 0.125)
    with pytest.raises(ValueError, match="collide"):
        advised_agg(
            fact,
            "o_orderstatus",
            {"n": ("count", None)},
            advice=forced_salt,
        )


def test_rrf_docstring_renders_constant():
    """The QUERIES.md inventory row must not show a literal
    '{_K}' placeholder (r10 ADVICE item 3)."""
    from kafkaish_spark.operators.composites58 import q_rank_rrf_fusion

    assert "{_K}" not in q_rank_rrf_fusion.__doc__
    assert "top-100" in q_rank_rrf_fusion.__doc__


# ------------------------------------------- verdict item 5: RRF windows


def test_rrf_windows_carry_partition_key_without_new_exchange(spark, sf_dir):
    """The bounded candidate-frame windows now partition on
    pmod(l_partkey, 1) — a constant-0 key the optimizer does NOT fold
    away — so WindowExec's 'No Partition Defined' warning can't fire,
    while the plan stays shuffle-free around the windows:
    TakeOrderedAndProject outputs SinglePartition, which already
    satisfies the clustered distribution (r10 verdict nit 1)."""
    from kafkaish_spark.operators.composites58 import q_rank_rrf_fusion

    plan = (
        q_rank_rrf_fusion(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the partition key survived optimization as the projected _w0
    # attribute in both windowspecdefinitions (if a future Spark folds
    # it, the warning is back — this line is the alarm)
    assert plan.count("windowspecdefinition(_w0#") == 2, plan
    # still exactly the two pre-candidate hash-agg exchanges: the
    # constant partition key added no shuffle
    assert plan.count("Exchange") == 2, plan


# --------------------------------- verdict item 1: size-targeted compaction


def _fragmented_topic(engine, n_msgs=12, pad_kb=20):
    """n_msgs single-message publishes with payloads big enough that
    data dominates parquet per-file metadata — byte arithmetic at this
    scale then behaves like it does at 100 TB."""
    topic = engine.prepare_topic("bytes_target")
    pad = "".join(f"{i % 97:02x}" for i in range(pad_kb * 512))
    for i in range(n_msgs):
        topic.publish("e", {"i": i, "pad": pad})
    return topic


def _n_log_files(topic):
    # data files only — prepare_topic's schema-seed (0 rows) doesn't
    # count, same filter compaction_advice applies
    return sum(1 for s in topic._segment_stats() if s["num_rows"])


def test_compact_small_packs_to_bytes_not_one_file(engine):
    """The r10 verdict's 'Done' drive: advice → compact_small →
    re-advice.  A fragmented topic whose small-file bytes span ~3
    target units must land at 3 files (not 1), the count the advice
    row quoted; the re-advice verdict flips to ok; offsets and fsck
    survive."""
    topic = _fragmented_topic(engine)
    total = sum(s["size"] for s in topic._segment_stats() if s["num_rows"])
    tb = -(-total // 3)  # ceil: 3 target units span the log
    adv = {
        r["topic"]: r
        for r in engine.compaction_advice(
            target_bytes=tb, small_frac=1.0, min_files=8
        ).collect()
    }["bytes_target"]
    assert adv["advice"] == "compact_small"
    assert adv["files_after"] == 3
    before = sorted(r["offset"] for r in topic.log().collect())

    # act EXACTLY as the row advises: the row carries the cutoff and
    # target so the action uses the same small-file definition the
    # verdict did (review r11)
    topic.compact_small(
        small_bytes=int(adv["small_cutoff"]),
        target_bytes=int(adv["target_bytes"]),
    )

    assert _n_log_files(topic) == adv["files_after"] == 3
    assert topic.fsck()["ok"]
    assert sorted(r["offset"] for r in topic.log().collect()) == before
    # the merged ~tb/1-sized files are no longer 'small' under the same
    # byte rule: advice converges to ok instead of re-advising forever
    adv2 = {
        r["topic"]: r
        for r in engine.compaction_advice(
            target_bytes=tb, min_files=8
        ).collect()
    }["bytes_target"]
    assert adv2["advice"] == "ok"


def test_compact_default_is_bytes_targeted_and_range_disjoint(engine):
    """compact() with no file count derives ceil(bytes/target_bytes)
    — a multi-file rewrite, range-partitioned on offset so every file
    covers a disjoint offset range (footer pruning for replay seeks
    keeps working)."""
    topic = _fragmented_topic(engine)
    total = sum(s["size"] for s in topic._segment_stats() if s["num_rows"])
    tb = -(-total // 3)
    before = sorted(r["offset"] for r in topic.log().collect())

    n_files = topic.compact(target_bytes=tb)

    assert n_files == 3
    assert topic.fsck()["ok"]
    assert sorted(r["offset"] for r in topic.log().collect()) == before
    spans = sorted(
        (s["min_off"], s["max_off"])
        for s in topic._segment_stats()
        if s["num_rows"]
    )
    for (_lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, spans


# ---------------------------- verdict item 3: publish→deliver latency


def test_deliver_latency_path(engine):
    """Pin tools/bench_log.measure_deliver_latency: a live ephemeral
    subscriber delivers each published message, the per-message
    latencies are positive finite seconds, and the subscriber is torn
    down afterward.  (The bench reports p50/p95 of this exact path.)"""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_log", os.path.join(repo, "tools", "bench_log.py")
    )
    bench_log = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench_log)
    measure_deliver_latency = bench_log.measure_deliver_latency

    lats = measure_deliver_latency(engine, n_msgs=3, warm=1, timeout_s=120)
    assert len(lats) == 3
    assert all(0 < v < 120 for v in lats)
    # ephemeral subscriber must be gone: a second measurement on the
    # same topic must not double-deliver into the first's callback
    lats2 = measure_deliver_latency(
        engine, n_msgs=2, warm=1, timeout_s=120, topic_name="live_latency2"
    )
    assert len(lats2) == 2


def test_compact_explicit_count_still_overrides(engine):
    """target_files remains an explicit override of the byte rule."""
    topic = _fragmented_topic(engine, n_msgs=6, pad_kb=4)
    assert topic.compact(target_files=1) == 1
    assert topic.fsck()["ok"]


def test_compaction_advice_flags_underspilt_topics(engine):
    """The other side of the layout knee (r10 verdict nit 3): a topic
    whose bytes span several target units but sits in ONE fat file
    earns 'split' with the byte-rule files_after, and acting on it
    (byte-targeted compact) flips the verdict to ok."""
    topic = _fragmented_topic(engine, n_msgs=12)
    topic.compact(target_files=1)  # the fat-single-file shape
    total = sum(s["size"] for s in topic._segment_stats() if s["num_rows"])
    tb = -(-total // 3)
    adv = {
        r["topic"]: r
        for r in engine.compaction_advice(target_bytes=tb).collect()
    }["bytes_target"]
    assert adv["advice"] == "split"
    assert adv["files_after"] == 3
    assert adv["n_files"] == 1

    topic.compact(target_bytes=tb)

    adv2 = {
        r["topic"]: r
        for r in engine.compaction_advice(target_bytes=tb).collect()
    }["bytes_target"]
    assert adv2["advice"] == "ok"
    assert topic.fsck()["ok"]


# --------------------------------------- r11 wave 2: compaction vacuum


def test_vacuum_removes_stale_staging_keeps_fresh(spark, tmp_path):
    import os
    import time

    from kafkaish_spark.sources.topic_log import Engine

    eng = Engine(spark, str(tmp_path / "t"))
    topic = eng.prepare_topic("gc")
    topic.publish("e", {"i": 1})
    stale_tmp = topic.log_dir + ".compact.tmp"
    fresh_tmp = topic.log_dir + ".smallcompact.deadbeef.tmp"
    os.makedirs(stale_tmp)
    os.makedirs(fresh_tmp)
    past = time.time() - 7200
    os.utime(stale_tmp, (past, past))

    out = eng.vacuum(stale_s=3600)
    assert stale_tmp in out["removed"]
    assert fresh_tmp in out["kept"]
    assert not os.path.isdir(stale_tmp)
    assert os.path.isdir(fresh_tmp)
    # the log itself is untouched
    assert topic.log().count() == 1
