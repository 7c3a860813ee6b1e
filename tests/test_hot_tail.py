"""The shared tail of a followed topic: a direct ``publish`` hands its
followers the post-commit segment records and the new segment's rows
(``TailSignal``, ``topic_log._HOT``), other commits leave one listing
for the followers to share, and the watcher lists the log only when a
directory of it changed."""

import datetime
import importlib
import os
import threading
import time
from uuid import uuid4

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kafkaish_spark.sources import topic_log
from kafkaish_spark.sources.topic_log import Engine, _footer_record, read_segment
from kafkaish_spark.streaming.subscribe import subscribe

subscribe_mod = importlib.import_module("kafkaish_spark.streaming.subscribe")


def _wait_for(pred, timeout=30.0):
    deadline = time.time() + timeout
    while not pred() and time.time() < deadline:
        time.sleep(0.005)
    return pred()


def _segment(topic, offsets, message="m{}"):
    """Write an envelope segment for ``offsets`` hidden in the log dir
    (as a writer does before its commit rename); return (hidden, live)."""
    now = datetime.datetime.now(datetime.timezone.utc)
    tbl = pa.table(
        {
            "offset": pa.array(offsets, pa.int64()),
            "ts": pa.array([now] * len(offsets), pa.timestamp("us", tz="UTC")),
            "event": pa.array(["ev"] * len(offsets), pa.string()),
            "message": pa.array([message.format(o) for o in offsets], pa.string()),
        }
    )
    fn = f"part-00000-{uuid4().hex}.snappy.parquet"
    hidden = os.path.join(topic.log_dir, "." + fn + ".inprogress")
    pq.write_table(tbl, hidden, compression="snappy")
    return hidden, os.path.join(topic.log_dir, fn)


def _data_records(topic):
    return [r for r in topic._segment_stats() if r["num_rows"]]


@pytest.mark.parametrize("partitioned", [False, True])
def test_direct_publish_caches_the_footer_parsers_record(spark, tmp_path, partitioned):
    """The record a direct publish builds from the values it wrote (and
    caches, and hands to followers) is the one the footer parser reads
    from the file, ``ts`` to the microsecond."""
    topic = Engine(spark, str(tmp_path)).prepare_topic("h_rec", partitioned=partitioned)
    topic.publish("ev", "m1")
    topic.publish_batch([("a", "m2"), (None, "m3"), ("b", "m4")])
    built = {k[0]: r for k, r in topic._footer_cache.items() if r["num_rows"]}
    assert sorted(r["max_off"] for r in built.values()) == [1, 4]
    for path, rec in built.items():
        assert rec == _footer_record(path)
        if partitioned:
            assert os.path.basename(os.path.dirname(path)).startswith("pub_date=")


def test_followers_list_only_for_commits_that_hand_no_records(engine, monkeypatch):
    """Two live followers: an in-process ``publish`` hands them its
    records, so no follower lists the log; a ``publish_df`` commit
    leaves the records unknown, and the followers share one listing."""
    topic = engine.prepare_topic("h_count")
    topic.publish("ev", "m1")
    durable, ephemeral = [], []
    subs = [
        subscribe(topic, lambda e, m, o: durable.append(o), name="d", available_now=False),
        subscribe(topic, lambda e, m, o: ephemeral.append(o), available_now=False),
    ]
    listings = []
    segment_files = topic_log.segment_files

    def counting(root):
        if threading.current_thread().name.startswith("kafkaish-follow"):
            listings.append(threading.current_thread().ident)
        return segment_files(root)

    try:
        topic.publish("ev", "m2")
        assert _wait_for(lambda: durable == [2] and ephemeral == [2])
        monkeypatch.setattr(topic_log, "segment_files", counting)
        for off in (3, 4, 5):
            topic.publish("ev", f"m{off}")
            assert _wait_for(lambda: durable[-1:] == ephemeral[-1:] == [off])
        time.sleep(0.2)
        assert listings == []

        df = engine.spark.createDataFrame([("ev", "m6")], "event string, message string")
        topic.publish_df(df, target_files=1)
        assert _wait_for(lambda: durable[-1:] == ephemeral[-1:] == [6])
        time.sleep(0.2)
        assert len(listings) == 1
    finally:
        for s in subs:
            s.unsubscribe()
    assert durable == ephemeral == [2, 3, 4, 5, 6]


def test_idle_watcher_stops_listing_and_sees_a_racy_commit(engine, monkeypatch):
    """An idle followed topic is not listed: once its directories'
    mtimes are over a second old, the watcher only stats them.  A
    commit by another process right after a listing, whose rename left
    the directory mtime unchanged (a coarse file-system timestamp), is
    still listed while that mtime is racy, and reaches the follower."""
    topic = engine.prepare_topic("h_idle")
    watcher_listings, foreign = [], []
    segment_files = subscribe_mod.segment_files

    def listing(root):
        paths = segment_files(root)
        watcher_listings.append(time.monotonic())
        # right after the first listing that holds this process's commit
        if foreign and len(paths) == foreign[0][0]:
            _, (hidden, live) = foreign.pop()
            st = os.stat(topic.log_dir)
            os.replace(hidden, live)
            os.utime(topic.log_dir, ns=(st.st_atime_ns, st.st_mtime_ns))
        return paths

    monkeypatch.setattr(subscribe_mod, "segment_files", listing)
    got = []
    subs = [
        subscribe(topic, lambda e, m, o: got.append(o), name="i", available_now=False),
        subscribe(topic, lambda e, m, o: None, available_now=False),
    ]
    try:
        topic.publish("ev", "m1")
        staged = _segment(topic, [3])
        assert _wait_for(lambda: got == [1])
        time.sleep(1.5)
        del watcher_listings[:]
        time.sleep(0.5)
        assert watcher_listings == []

        foreign.append((len(segment_files(topic.log_dir)) + 1, staged))
        topic.publish("ev", "m2")
        assert _wait_for(lambda: got == [1, 2, 3], 10.0), got
        assert not foreign
    finally:
        for s in subs:
            s.unsubscribe()


def test_replaced_segment_is_read_from_disk(engine):
    """A published segment's rows stay hot only while its path is the
    same file: a path replaced by another parquet file (a new inode,
    same size and mtime) is read from disk."""
    topic = engine.prepare_topic("h_replace")
    sub = subscribe(topic, lambda e, m, o: None, available_now=False)
    try:
        topic.publish("ev", "m1")
    finally:
        sub.unsubscribe()
    [rec] = _data_records(topic)
    path = rec["path"]
    assert read_segment(path) is topic_log._HOT.get(path)
    old = os.stat(path)

    hidden, _ = _segment(topic, [1], message="x{}")
    os.utime(hidden, ns=(old.st_atime_ns, old.st_mtime_ns))
    os.replace(hidden, path)
    new = os.stat(path)
    assert new.st_ino != old.st_ino and new.st_mtime_ns == old.st_mtime_ns
    assert read_segment(path)["message"].to_pylist() == ["x1"]


def _frozen_watcher(monkeypatch):
    """The watcher still wakes followers on lock changes, but never
    brings the signal's records up to date: a commit by another
    process that it has not listed yet."""
    monkeypatch.setattr(subscribe_mod._TopicTail, "_offer", lambda self, paths, epoch: True)


def test_hole_is_skipped_only_after_a_listing_taken_with_the_lock_free(engine, monkeypatch):
    """The records a follower plans from can predate its check that the
    writer lock is free.  A gap in them is skipped as a hole only if a
    listing taken after that check still shows it: here the missing
    segment lands between the plan and the lock check, and is
    delivered."""
    _frozen_watcher(monkeypatch)
    topic = engine.prepare_topic("h_hole")
    topic.publish("ev", "m1")
    got = []
    sub = subscribe(topic, lambda e, m, o: got.append(o), name="h", available_now=False)
    try:
        late = _segment(topic, [2])
        os.replace(*_segment(topic, [3]))  # another process's commit
        plan, landed = subscribe_mod._plan, []

        def plan_then_land(*args):
            reads, gap = plan(*args)
            if gap is not None and not landed:
                os.replace(*late)
                landed.append(gap)
            return reads, gap

        monkeypatch.setattr(subscribe_mod, "_plan", plan_then_land)
        assert int(topic.publish("ev", "m4")["offset"]) == 4
        assert _wait_for(lambda: 4 in got, 10.0)
    finally:
        sub.unsubscribe()
    assert landed == [3]
    assert got == [2, 3, 4]


def test_vanished_segment_is_replanned_from_a_new_listing(engine, monkeypatch):
    """Another process compacts segments the signal's records still
    name: the follower's read finds them gone, and it lists the log
    before planning again rather than reusing those records."""
    _frozen_watcher(monkeypatch)
    topic = engine.prepare_topic("h_vanish")
    for i in (1, 2, 3):
        topic.publish("ev", f"m{i}")
    got, inside, resume = [], threading.Event(), threading.Event()

    def cb(ev, msg, off):
        if off == 1:
            inside.set()
            resume.wait(60)
        got.append(off)

    sub = subscribe(
        topic, cb, name="v", replay=True, available_now=False, max_files_per_trigger=1
    )
    try:
        assert inside.wait(30)
        merged = _segment(topic, [2, 3])
        os.replace(*merged)
        for rec in _data_records(topic):
            if rec["min_off"] in (2, 3) and rec["max_off"] == rec["min_off"]:
                os.remove(rec["path"])
        resume.set()
        assert _wait_for(lambda: got == [1, 2, 3], 10.0), got
    finally:
        resume.set()
        sub.unsubscribe()
    assert topic.last_ack("v") == 3


def test_concurrent_publishers_reach_every_follower(engine):
    """Publisher threads race each other, the watcher and six followers
    over one topic's shared records (more threads than cores, a short
    switch interval): every follower still gets every offset once, in
    order, and each durable one acks the tail."""
    import sys

    topic = engine.prepare_topic("h_stress")
    topic.publish("ev", "m0")
    got = {k: [] for k in range(6)}
    subs = [
        subscribe(
            topic,
            lambda e, m, o, k=k: got[k].append(o),
            name=f"s{k}" if k % 2 else None,
            available_now=False,
        )
        for k in got
    ]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        publishers = [
            threading.Thread(
                target=lambda: [topic.publish("ev", "m") for _ in range(10)]
            )
            for _ in range(6)
        ]
        for p in publishers:
            p.start()
        for p in publishers:
            p.join(120)
        assert not any(p.is_alive() for p in publishers)
        tail = topic.latest()
        assert tail == 61
        assert _wait_for(lambda: all(g[-1:] == [tail] for g in got.values()), 60.0)
    finally:
        sys.setswitchinterval(switch)
        for s in subs:
            s.unsubscribe()
    for k, offsets in got.items():
        assert offsets == list(range(2, tail + 1)), k
        if k % 2:
            assert topic.last_ack(f"s{k}") == tail
