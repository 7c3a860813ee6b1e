"""Round-12 review-driven tests.

Pins the r11 ADVICE fixes: partitioned-topic compaction advice/action
convergence (per-directory byte arithmetic), and the crash-point sweep
for the rewrite/vacuum protocol (VERDICT r11 next-round #4) lives in
test_vacuum_crash_sweep.py.
"""

import os
import time

from pyspark.sql import functions as F


def _n_data_files(topic):
    return sum(1 for s in topic._segment_stats() if s["num_rows"])


def _pub_day(engine, topic, day, n, pad_kb=20):
    """n rows on 2024-01-0<day>, one segment, payload-dominated."""
    pad = "".join(f"{i % 97:02x}" for i in range(pad_kb * 512))
    df = engine.spark.createDataFrame(
        [
            ("e", f"{day}/{i}/{pad}", f"2024-01-0{day} 12:00:00")
            for i in range(n)
        ],
        "event string, message string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    topic.publish_df(df, target_files=1)


def test_compaction_advice_split_is_per_directory_on_partitioned(engine):
    """ADVICE r11 (low): the split verdict's files_after on a
    pub_date-partitioned topic must come from PER-DIRECTORY byte
    arithmetic (sum of ceil(dir bytes / target)), not the flat global
    ceil — and acting on the row must land within one straddle file of
    the quote and converge the re-advice to ok."""
    topic = engine.prepare_topic("part_split", partitioned=True)
    # two dates, deliberately unbalanced: day 1 fat, day 2 small
    _pub_day(engine, topic, 1, 12)
    _pub_day(engine, topic, 2, 2)
    topic.compact(target_files=1)  # one fat file per date dir
    segs = [s for s in topic._segment_stats() if s["num_rows"]]
    by_dir: dict[str, int] = {}
    for s in segs:
        d = os.path.dirname(s["path"])
        by_dir[d] = by_dir.get(d, 0) + s["size"]
    assert len(by_dir) == 2
    fat_bytes = max(by_dir.values())
    tb = -(-fat_bytes // 3)  # the fat date spans ~3 target units

    adv = {
        r["topic"]: r
        for r in engine.compaction_advice(target_bytes=tb).collect()
    }["part_split"]
    assert adv["advice"] == "split"
    expected = sum(-(-b // tb) for b in by_dir.values())
    assert adv["files_after"] == expected
    # the flat global ceil would under-quote the per-date floor iff it
    # disagrees — assert the column is the per-directory number
    assert expected >= -(-sum(by_dir.values()) // tb)

    before = sorted(r["offset"] for r in topic.log().collect())
    topic.compact(target_bytes=int(adv["target_bytes"]))
    n_actual = _n_data_files(topic)
    # within one straddle file per interior date boundary (the lower
    # bound is the layout floor — range sampling may place a boundary
    # exactly on the date edge, landing exactly on the quote)
    assert len(by_dir) <= n_actual <= expected + len(by_dir) - 1
    assert topic.fsck()["ok"]
    assert sorted(r["offset"] for r in topic.log().collect()) == before

    adv2 = {
        r["topic"]: r
        for r in engine.compaction_advice(target_bytes=tb).collect()
    }["part_split"]
    assert adv2["advice"] == "ok"


def test_partitioned_compact_keeps_per_directory_ranges_disjoint(engine):
    """After a partitioned byte-targeted compact, files WITHIN each
    date directory cover disjoint contiguous offset ranges (footer
    pruning for replay seeks keeps working per directory)."""
    topic = engine.prepare_topic("part_disjoint", partitioned=True)
    _pub_day(engine, topic, 1, 9)
    _pub_day(engine, topic, 2, 9)
    total = sum(s["size"] for s in topic._segment_stats() if s["num_rows"])
    topic.compact(target_bytes=-(-total // 4))
    by_dir: dict[str, list] = {}
    for s in topic._segment_stats():
        if s["num_rows"] and s["min_off"] is not None:
            by_dir.setdefault(os.path.dirname(s["path"]), []).append(
                (s["min_off"], s["max_off"])
            )
    for d, spans in by_dir.items():
        spans.sort()
        for (_lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
            assert hi1 < lo2, (d, spans)
    assert topic.fsck()["ok"]


def test_vacuum_tmp_gc_never_orphans_a_fresh_intent(engine, crash_state=None):
    """Review r12 (data-loss finding): the tmp is written BEFORE its
    intent, so it can cross the staleness threshold first.  GC'ing it
    while the intent survives would flip the later recovery into a
    roll-forward that removes the originals though no merged file ever
    went live.  The tmp must ride with its intent: kept while the
    intent is fresh, rolled back together once both are stale."""
    import glob

    import pytest as _pytest

    from kafkaish_spark.sources import topic_log as tl
    from tests.test_vacuum_crash_sweep import SimulatedCrash

    topic = engine.prepare_topic("intent_fresh")
    pad = "x" * 2048
    for i in range(6):
        topic.publish("e", {"i": i, "pad": pad})
    before = sorted((r["offset"], r["message"]) for r in topic.log().collect())

    def hook(name):
        if name == "small_post_intent":
            raise SimulatedCrash(name)

    tl._CRASH_POINT_HOOK = hook
    try:
        with _pytest.raises(SimulatedCrash):
            topic.compact_small(small_bytes=1 << 20, target_files=2)
    finally:
        tl._CRASH_POINT_HOOK = None

    (tmp,) = glob.glob(topic.log_dir + ".smallcompact.*.tmp")
    (intent,) = glob.glob(topic.log_dir + ".smallcompact.*.intent")
    past = time.time() - 7200
    os.utime(tmp, (past, past))  # tmp stale, intent still fresh

    out = topic.vacuum()
    assert tmp in out["kept"] and intent in out["kept"]
    assert os.path.isdir(tmp)

    os.utime(intent, (past, past))  # now both stale: rollback as a unit
    out2 = topic.vacuum()
    assert intent in out2["recovered"] and tmp in out2["removed"]
    assert sorted(
        (r["offset"], r["message"]) for r in topic.log().collect()
    ) == before
    assert topic.fsck()["ok"]
