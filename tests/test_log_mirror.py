"""Topic.mirror_to — offset-preserving replication (MirrorMaker
analog).  Invariants: offsets/ts/payloads copied verbatim, incremental
delta-only on re-run, idempotent no-op when caught up, fsck-clean
destination, and failover (a durable subscriber's acked offset is
valid on the mirror without translation)."""

from pyspark.sql import functions as F


def _publish(topic, n, start=0):
    rows = [(f"e{(start + i) % 3}", f'{{"k": {start + i}}}') for i in range(n)]
    topic.publish_batch(rows)


def test_mirror_copies_offsets_verbatim(engine):
    src = engine.prepare_topic("m_src")
    dst = engine.prepare_topic("m_dst")
    _publish(src, 25)
    assert src.mirror_to(dst) == 25
    a = [
        (r["offset"], r["ts"], r["event"], r["message"])
        for r in src.replay(since=0).collect()
    ]
    b = [
        (r["offset"], r["ts"], r["event"], r["message"])
        for r in dst.replay(since=0).collect()
    ]
    assert a == b  # offsets AND publish instants identical
    assert dst.fsck()["ok"]


def test_mirror_incremental_and_idempotent(engine):
    src = engine.prepare_topic("mi_src")
    dst = engine.prepare_topic("mi_dst")
    _publish(src, 10)
    assert src.mirror_to(dst) == 10
    assert src.mirror_to(dst) == 0  # caught up: no-op, no duplicates
    _publish(src, 7, start=10)
    assert src.mirror_to(dst) == 7  # only the delta moves
    assert dst.latest() == 17
    assert dst.replay(since=0).count() == 17
    assert dst.fsck()["ok"]


def test_mirror_failover_preserves_subscriber_offset(engine):
    """A durable subscriber acked at offset k on the source resumes at
    k+1 on the mirror — the identity-offset-translation property."""
    src = engine.prepare_topic("mf_src")
    dst = engine.prepare_topic("mf_dst")
    _publish(src, 20)
    src.ack("worker", 12)
    src.mirror_to(dst)
    dst.ack("worker", src.last_ack("worker"))  # carry the ack over
    resumed = dst.replay(since=dst.last_ack("worker"))
    offs = [r["offset"] for r in resumed.collect()]
    assert offs == list(range(13, 21))


def test_mirror_copy_does_not_block_source_publish(engine):
    """r9: the catch-up copy runs lock-free — a publish on the SOURCE
    must succeed while the copy is in flight (r8 held both writer
    locks for the whole copy, so a fat first-time mirror blocked the
    producer for minutes at 100×).  The ``_after_snapshot`` seam runs
    between the snapshot (locks released) and the copy; a publish
    there acquires the source writer lock — it would deadlock/time
    out if mirror_to still held it.  The mid-copy publish lands AFTER
    the pinned snapshot, so it must NOT appear in this mirror pass
    (no torn copy) and must be exactly the delta of the next one."""
    src = engine.prepare_topic("mc_src")
    dst = engine.prepare_topic("mc_dst")
    _publish(src, 15)
    during: list[int] = []

    def publish_mid_copy():
        rows = src.publish_batch([("live", '{"mid": 1}')])
        during.append(rows[0]["offset"])

    assert src.mirror_to(dst, _after_snapshot=publish_mid_copy) == 15
    assert during == [16]  # the concurrent publish succeeded
    assert dst.latest() == 15  # pinned snapshot: no torn tail
    assert src.mirror_to(dst) == 1  # next pass moves exactly the delta
    assert dst.latest() == 16
    assert dst.fsck()["ok"]


def test_mirror_retries_when_dst_tail_moves(engine):
    """A foreign append to the destination between snapshot and append
    invalidates the staged delta; mirror_to must retry with a fresh
    snapshot rather than appending overlapping offsets."""
    src = engine.prepare_topic("mr_src")
    dst = engine.prepare_topic("mr_dst")
    _publish(src, 8)
    fired = []

    def race_dst_once():
        if not fired:
            fired.append(1)
            src.mirror_to(dst)  # legal competing mirror: fills 1..8

    # first attempt stages 1..8 against tail=0, then finds tail moved
    # to 8 and retries; the retry snapshot sees no delta -> 0
    assert src.mirror_to(dst, _after_snapshot=race_dst_once) == 0
    assert dst.latest() == 8
    assert dst.replay(since=0).count() == 8  # no duplicated offsets
    assert dst.fsck()["ok"]


def test_mirror_from_trimmed_source(engine):
    """A retention-trimmed source mirrors its surviving suffix; the
    mirror starts at the same first offset (legal trimmed-prefix shape
    for fsck)."""
    src = engine.prepare_topic("mt_src")
    dst = engine.prepare_topic("mt_dst")
    for i in range(6):
        _publish(src, 5, start=5 * i)  # 6 segments of 5
    removed = src.truncate_before(11)
    assert removed > 0
    src.mirror_to(dst)
    srcmin = src.replay(since=0).agg(F.min("offset")).first()[0]
    dstmin = dst.replay(since=0).agg(F.min("offset")).first()[0]
    assert srcmin == dstmin and srcmin >= 11
    assert dst.latest() == src.latest() == 30


def test_mirror_stages_contiguous_offset_ranges(engine, spark, monkeypatch):
    """Every staged file covers one contiguous offset range, and the
    phase-3 renames land in ascending order, so each rename prefix is
    a contiguous prefix of the delta.  Partition coalescing is off so
    the delta of 12 one-message segments stages as several files."""
    import pyarrow.parquet as pq

    import kafkaish_spark.sources.topic_log as tl

    src = engine.prepare_topic("mc_src")
    dst = engine.prepare_topic("mc_dst")
    for i in range(12):
        src.publish("e", {"i": i})

    moved = []
    real_replace = tl.os.replace

    def recording_replace(a, b):
        real_replace(a, b)
        moved.append(pq.read_table(b, columns=["offset"])["offset"].to_pylist())

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    monkeypatch.setattr(tl.os, "replace", recording_replace)
    try:
        assert src.mirror_to(dst) == 12
    finally:
        spark.conf.set(key, prev)
    assert len(moved) > 1
    landed = []
    for offsets in moved:
        assert sorted(offsets) == list(range(min(offsets), max(offsets) + 1))
        landed.extend(sorted(offsets))
    assert landed == list(range(1, 13))
