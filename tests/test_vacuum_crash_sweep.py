"""Exhaustive crash-point sweep for the log rewrite protocol: simulate
a crash at EVERY step of Topic._rewrite — the one journaled file
replace behind compact, compact_small, compact_keyed and redact — then
assert that restart + vacuum converge to exactly the right data: the
pre-crash rows while the staging dir survives, the rewrite's rows once
its removal (the commit point) has happened, and for redact never an
erased message.

The crash is injected through topic_log._CRASH_POINT_HOOK, so every
state the sweep recovers from was produced by the REAL protocol code,
not hand-assembled directories.
"""

import os
import time

import pytest

from kafkaish_spark.sources import topic_log as tl


class SimulatedCrash(Exception):
    pass


@pytest.fixture
def crash_hook():
    """Arm the protocol crash hook for one named step; disarm after."""

    def arm(step):
        def hook(name):
            if name == step:
                raise SimulatedCrash(step)

        tl._CRASH_POINT_HOOK = hook

    yield arm
    tl._CRASH_POINT_HOOK = None


def _topic_with_rows(engine, name, n=6):
    topic = engine.prepare_topic(name)
    pad = "x" * 2048
    for i in range(n):
        topic.publish("e", {"u": "gone", "i": i, "pad": pad})
    return topic


def _contents(topic):
    return sorted(
        (r["offset"], r["message"] or "") for r in topic.log().collect()
    )


def _age_everything(topic):
    """Make every crash artifact look hours old so vacuum's staleness
    gate (which protects in-flight runs, not crash recovery) opens."""
    past = time.time() - 7200
    root = os.path.dirname(topic.log_dir)
    for entry in os.listdir(root):
        p = os.path.join(root, entry)
        os.utime(p, (past, past))


def _recover(engine, name):
    """Restart semantics: a FRESH engine (new process) prepares the
    topic, then vacuums."""
    eng2 = tl.Engine(engine.spark, engine.root)
    topic = eng2.prepare_topic(name)
    _age_everything(topic)
    report = topic.vacuum()
    return topic, report


def _assert_clean(topic):
    """No crash artifact survives recovery, and a second vacuum is a
    no-op (recovery is idempotent and complete)."""
    root = os.path.dirname(topic.log_dir)
    leftovers = [
        e
        for e in os.listdir(root)
        if ".compact." in e or ".smallcompact." in e
    ]
    assert leftovers == [], leftovers
    again = topic.vacuum()
    assert again == {"recovered": [], "removed": [], "kept": []}


STEPS = [
    "post_validate",  # staged and validated, before the writer lock
    "small_pre_intent",
    "small_post_intent",
    "small_mid_move",
    "small_post_move",
    "small_post_tmp_rm",
    "small_mid_remove",
    "small_post_remove",
]
# from this step on the staging dir is gone: every new file is live and
# the rewrite is committed
COMMITTED = {"small_post_tmp_rm", "small_mid_remove", "small_post_remove"}

_I = "cast(get_json_object(message, '$.i') as int)"
OPS = {
    "compact": lambda t: t.compact(target_files=2),
    "compact_keyed": lambda t: t.compact_keyed(key=f"{_I} % 3"),
    "redact": lambda t: t.redact(f"{_I} < 3"),
    "redact_to_zero": lambda t: t.redact(
        "get_json_object(message, '$.u') = 'gone'"
    ),
}


def _crash_and_recover(engine, crash_hook, op, step):
    """Run ``op`` crashed at ``step`` and recover it; returns the rows
    before, the rows the uncrashed op leaves on an identical twin, and
    the recovered topic."""
    name = f"{op}_{step}"
    topic = _topic_with_rows(engine, name)
    twin = _topic_with_rows(engine, name + "_twin")
    before = _contents(topic)
    OPS[op](twin)
    rewritten = _contents(twin)
    crash_hook(step)
    with pytest.raises(SimulatedCrash):
        OPS[op](topic)
    tl._CRASH_POINT_HOOK = None
    healed, _report = _recover(engine, name)
    return before, rewritten, healed


@pytest.mark.parametrize("step", STEPS)
def test_compact_crash_converges_to_same_rows(engine, crash_hook, step):
    """compact() is row-preserving, so EVERY crash point must recover
    to exactly the pre-crash rows — via rollback before the commit
    point, via the committed rewrite after it."""
    before, _, healed = _crash_and_recover(engine, crash_hook, "compact", step)
    assert _contents(healed) == before
    assert healed.fsck()["ok"]
    _assert_clean(healed)


@pytest.mark.parametrize("op", ["compact_keyed", "redact"])
@pytest.mark.parametrize("step", STEPS)
def test_rewrite_crash_recovers_old_or_new_rows(engine, crash_hook, op, step):
    """A row-dropping rewrite: before the commit point recovery gives
    the pre-crash rows, after it the rewrite's rows, and a redacted
    message never comes back."""
    before, rewritten, healed = _crash_and_recover(engine, crash_hook, op, step)
    got = _contents(healed)
    assert got == (rewritten if step in COMMITTED else before)
    if op == "redact":
        erased = {m for _, m in before} - {m for _, m in rewritten}
        assert erased and (step not in COMMITTED or not erased & {m for _, m in got})
    # the committed rewrite leaves offset holes, which fsck reports as
    # such; it never leaves an offset twice
    issues = healed.fsck()["issues"]
    assert step in COMMITTED or not issues
    assert all(i.startswith(("non-dense", "offset gap")) for i in issues), issues
    _assert_clean(healed)


@pytest.mark.parametrize("step", STEPS)
def test_redact_to_zero_crash_never_resurrects(engine, crash_hook, step):
    """redact() that erases every message: before the commit point, a
    crash rolls back to the full pre-crash rows; from it on, the
    erasure STANDS — only the tail's tombstone is left, and recovery
    never resurrects an erased message (right-to-be-forgotten)."""
    before, rewritten, healed = _crash_and_recover(
        engine, crash_hook, "redact_to_zero", step
    )
    tail = before[-1][0]
    assert rewritten == [(tail, "")]
    if step in COMMITTED:
        assert _contents(healed) == rewritten
    else:
        assert _contents(healed) == before
    assert healed.latest() == tail
    assert healed.fsck()["ok"]
    _assert_clean(healed)


@pytest.mark.parametrize("step", STEPS[1:])
def test_compact_small_crash_never_duplicates(engine, crash_hook, step):
    """compact_small's journaled move phase: whichever step the crash
    lands on, recovery converges to exactly ONE copy of every row —
    rollback while the staging tmp survives, roll-forward once it is
    gone — and fsck stays green (no duplicate-offset overlap)."""
    topic = _topic_with_rows(engine, f"small_{step}", n=8)
    before = _contents(topic)
    crash_hook(step)
    with pytest.raises(SimulatedCrash):
        topic.compact_small(small_bytes=1 << 20, target_files=2)
    tl._CRASH_POINT_HOOK = None

    healed, _report = _recover(engine, f"small_{step}")
    assert _contents(healed) == before
    assert healed.fsck()["ok"]
    _assert_clean(healed)


def _snapshot(topic):
    records = topic._segment_stats()
    return records, topic.read_segments([r["path"] for r in records])


def test_invalid_rewrite_never_goes_live(engine):
    """Review r12: a rewrite that would DROP rows must be rejected
    before any file moves — the live log stays untouched and the
    staged tmp is cleaned up, so there is no crash window in which the
    bad rewrite is the only live copy."""
    topic = _topic_with_rows(engine, "badrw", n=6)
    before = _contents(topic)
    records, frame = _snapshot(topic)
    bad = frame.filter("offset > 2")  # silently drops rows

    def validate(after):
        n = after.count()
        return None if n == len(before) else f"row loss ({n})"

    with pytest.raises(RuntimeError, match="log untouched"):
        topic._rewrite(records, bad, 1, validate)
    assert _contents(topic) == before
    root = os.path.dirname(topic.log_dir)
    assert not [
        e for e in os.listdir(root) if ".compact." in e or ".smallcompact." in e
    ]
    assert topic.fsck()["ok"]


def test_bad_rewrite_crash_during_validate_keeps_original(
    engine, crash_hook
):
    """The data-loss scenario the r12 review found when validation ran
    after the files went live: a row-dropping rewrite plus a crash
    inside the validate window.  With validation on the staged files
    the live log was never touched — recovery keeps every original row
    and GCs the staged tmp."""
    topic = _topic_with_rows(engine, "badrw_crash", n=6)
    before = _contents(topic)
    records, frame = _snapshot(topic)
    bad = frame.filter("offset > 2")
    crash_hook("post_validate")
    with pytest.raises(SimulatedCrash):
        topic._rewrite(records, bad, 1, lambda after: "would have failed")
    tl._CRASH_POINT_HOOK = None

    healed, _report = _recover(engine, "badrw_crash")
    assert _contents(healed) == before
    assert healed.fsck()["ok"]
    _assert_clean(healed)
