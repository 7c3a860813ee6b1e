"""The log rewrites (compact, compact_small, compact_keyed, redact) on
their one commit protocol, ``Topic._rewrite``, under traffic: a write
that lands while a rewrite runs survives it, a live follower gets
every offset once, a racing rewrite aborts instead of duplicating
rows, and redact never moves the log end back."""

import os
import threading
import time

import pytest

from kafkaish_spark.sources import topic_log as tl
from kafkaish_spark.streaming.subscribe import subscribe


def _wait_for(pred, timeout=60.0):
    deadline = time.time() + timeout
    while not pred() and time.time() < deadline:
        time.sleep(0.01)
    return pred()


@pytest.fixture
def at_step():
    """Run ``fn`` once when the rewrite reaches protocol step ``step``."""

    def arm(step, fn):
        def hook(name):
            if name == step:
                tl._CRASH_POINT_HOOK = None
                fn()

        tl._CRASH_POINT_HOOK = hook

    yield arm
    tl._CRASH_POINT_HOOK = None


def _offsets(topic):
    return sorted(int(r["offset"]) for r in topic.log().select("offset").collect())


_REWRITES = {
    "compact": lambda t: t.compact(target_files=1),
    "compact_keyed": lambda t: t.compact_keyed(
        key="get_json_object(message, '$.i')"
    ),
    "redact": lambda t: t.redact("get_json_object(message, '$.i') = '2'"),
}


@pytest.mark.parametrize("op", sorted(_REWRITES))
def test_publish_during_rewrite_survives(engine, at_step, op):
    """A publish that lands after the rewrite validated its staged
    files, before it took the writer lock, is not part of the rewrite:
    it stays in the log, and the next publish continues after it."""
    topic = engine.prepare_topic(f"during_{op}")
    for i in range(6):
        topic.publish("e", {"i": i})
    landed = []
    at_step("post_validate", lambda: landed.append(topic.publish("e", {"i": 99})))
    _REWRITES[op](topic)
    assert [int(r["offset"]) for r in landed] == [7]
    rows = {int(r["offset"]): r["message"] for r in topic.log().collect()}
    assert rows[7] == '{"i": 99}'
    assert int(topic.publish("e", {"i": 100})["offset"]) == 8
    assert topic.latest() == 8


def test_live_follower_across_compact_gets_every_offset_once(engine, at_step):
    """A continuous durable subscriber follows the topic while a
    publisher adds 20 messages during one ``compact(target_files=1)``:
    every offset reaches the subscriber exactly once and every message
    is still in the log afterwards."""
    topic = engine.prepare_topic("live_compact")
    for i in range(20):
        topic.publish("e", {"i": i})
    got = []
    sub = subscribe(
        topic, lambda ev, msg, off: got.append(off), name="d", replay=True,
        available_now=False,
    )

    def publisher():
        for i in range(20, 40):
            topic.publish("e", {"i": i})
            time.sleep(0.01)

    pub = threading.Thread(target=publisher)
    try:
        assert _wait_for(lambda: len(got) == 20)
        # the publisher runs between the rewrite's snapshot and its move
        at_step("post_validate", lambda: pub.join(60))
        pub.start()
        topic.compact(target_files=1)
        assert not pub.is_alive()
        assert _wait_for(lambda: topic.last_ack("d") == 40)
    finally:
        sub.unsubscribe()
    assert got == list(range(1, 41))
    assert topic.log().count() == 40
    assert _offsets(topic) == list(range(1, 41))
    assert topic.fsck()["ok"]


def test_racing_rewrite_aborts_when_an_original_is_gone(engine, at_step):
    """Two rewrites race: ``compact_small`` replaces the segments a
    running ``compact()`` has staged.  The compact finds its originals
    gone under the writer lock and aborts with the log untouched, so
    the log keeps exactly one copy of every row."""
    topic = engine.prepare_topic("race")
    for i in range(8):
        topic.publish("e", {"i": i})
    before = sorted((r["offset"], r["message"]) for r in topic.log().collect())
    merged = []
    at_step("post_validate", lambda: merged.append(topic.compact_small()))
    with pytest.raises(RuntimeError, match="log untouched"):
        topic.compact(target_files=2)
    assert merged and merged[0] > 0
    after = sorted((r["offset"], r["message"]) for r in topic.log().collect())
    assert after == before
    assert topic.fsck()["ok"]
    root = os.path.dirname(topic.log_dir)
    assert not [e for e in os.listdir(root) if ".smallcompact." in e]


def test_rewrite_whose_staging_was_vacuumed_aborts(engine, at_step):
    """A ``vacuum`` that judges a slow rewrite's staging dir stale
    removes it before the rewrite takes the writer lock: the rewrite
    aborts with the log untouched, and leaves no journal that a later
    vacuum could roll forward over originals nothing replaced."""
    import glob

    topic = engine.prepare_topic("vacuumed")
    for i in range(6):
        topic.publish("e", {"i": i})
    before = sorted((r["offset"], r["message"]) for r in topic.log().collect())

    def stale_vacuum():
        (tmp,) = glob.glob(topic.log_dir + ".smallcompact.*.tmp")
        past = time.time() - 7200
        os.utime(tmp, (past, past))
        assert topic.vacuum()["removed"] == [tmp]

    at_step("post_validate", stale_vacuum)
    with pytest.raises(RuntimeError, match="log untouched"):
        topic.compact(target_files=1)
    root = os.path.dirname(topic.log_dir)
    assert not [e for e in os.listdir(root) if ".smallcompact." in e]
    assert topic.vacuum(stale_s=0) == {"recovered": [], "removed": [], "kept": []}
    after = sorted((r["offset"], r["message"]) for r in topic.log().collect())
    assert after == before
    assert topic.fsck()["ok"]


def test_redact_of_the_tail_keeps_a_tombstone(engine):
    """Redacting the newest message must not move the log end back: the
    row stays as a tombstone (NULL event and message, offset and ts
    kept), so the next publish gets a new offset and a subscriber acked
    at the old tail still receives it."""
    topic = engine.prepare_topic("tail_redact")
    rows = topic.publish_batch([("e", {"i": i}) for i in range(5)])
    got = []

    def follow():
        sub = subscribe(
            topic, lambda ev, msg, off: got.append((off, msg)), name="sub",
            replay=True,
        )
        sub.await_termination()
        sub.unsubscribe()

    follow()
    assert [off for off, _ in got] == [1, 2, 3, 4, 5]
    assert topic.last_ack("sub") == 5
    assert topic.redact("offset = 5") == 1
    assert topic.latest() == 5
    tomb = topic.log().filter("offset = 5").collect()
    assert [(r["event"], r["message"]) for r in tomb] == [(None, None)]
    assert tomb[0]["ts"] == rows[4]["ts"]
    assert int(topic.publish("e", {"i": 5})["offset"]) == 6
    assert topic.resume_offset("sub") == 5
    del got[:]
    follow()
    assert got == [(6, '{"i": 5}')]
    # a redact that does not reach the tail keeps no tombstone
    assert topic.redact("offset = 2") == 1
    assert _offsets(topic) == [1, 3, 4, 5, 6]


def test_leftover_swap_dir_of_an_earlier_version_stops_construction(engine):
    """An earlier version's interrupted whole-directory swap left
    ``log.compact.old``: constructing the topic raises with the step to
    take by hand, and touches neither directory."""
    topic = engine.prepare_topic("upgraded")
    topic.publish("e", {"i": 1})
    old = topic.log_dir + ".compact.old"
    os.replace(topic.log_dir, old)
    listing = sorted(os.listdir(topic.root))
    files = tl.segment_files(old)
    with pytest.raises(RuntimeError, match="mv .*compact.old"):
        tl.Engine(engine.spark, engine.root).prepare_topic("upgraded")
    assert sorted(os.listdir(topic.root)) == listing
    assert not os.path.exists(topic.log_dir)
    assert tl.segment_files(old) == files
