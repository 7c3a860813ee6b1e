"""Pub/sub subscriptions: per-message followers and DataFrame queries.

Re-expresses the subscription machinery of the reference, kafkaish
(src/topic.js).  Per-message delivery (``subscribe``)
is a driver-side FOLLOWER whose cursor is a message offset — the
reference's tailable cursor (src/topic.js:48-61) without a Spark job
between a commit and its callbacks:

- ephemeral subscribe (join, :90-117)      -> a follower from the tail
  at subscribe time; it keeps no state, so nothing outlives it
- durable subscribe   (:92-100)            -> a follower resuming from
  ``max(start marker, last_ack(name))``
- replay-then-live    (replay, :118-201)   -> the SAME follower: its
  first batches drain the backlog, later ones are incremental.  One
  cursor, no handoff seam, so the replay->live gap race of the
  reference (src/topic.js:49-51 + :169) cannot happen.
- ack                 (:202-220)           -> ``Topic.ack`` after each
  batch's callbacks: the JSON ack file (``_subscribers/<name>.ack.json``,
  tmp + rename) IS the durable position — the ``{name, last}`` upsert
- unsubscribe         (:110-116)           -> stop the follower
- one-doc trampoline backpressure (:79-87) -> a byte bound on each
  batch (``DEFAULT_CALLBACK_MAX_BYTES``; a file bound on request) —
  batch-sized instead of doc-sized.  A new subscriber's first batch
  starts at its cursor, so it never sweeps the log before it.
- tail wake-up + EventEmitter fan-out (:48-61, 73-74, 108) -> one
  ``TailSignal`` per topic per process: ``writer_lock``'s release bumps
  it for commits made in this process, and one watcher thread per
  topic polls the log listing every ``_WATCH_POLL_S`` for commits from
  other processes.  Idle followers sleep on the signal, so idle cost
  grows with topics, not subscribers.

A batch is the contiguous run of segments after the cursor, planned
from the footer records (``Topic._segment_stats``) and read with
``topic_log.read_segment``.  Before any callback its offsets must be
the ones the footers promise — exactly ``cursor+1 .. end`` on dense
segments (a sparse one, left by ``compact_keyed`` or ``redact``, must
match its row count): a segment reader that dropped or repeated a row
fails the batch unacked, so a durable subscriber gets it again on
resume.  Then the ``event`` filter applies and the callbacks run in
offset order.  A gap after the cursor while ``_writer.lock`` is held
is a commit in flight (Spark renames a job's files one by one, in any
order): the follower waits for it.  A gap still there after the lock
is free is a hole (an aborted write, retention below the cursor): the
follower skips it, as Spark's file source would.  A segment that
vanishes between the listing and the read (compaction swapping files)
is transient: the batch is planned again.

``subscribe_batches`` (DataFrame delivery) stays a Structured
Streaming query, like the consumer groups, pipelines and CDC: its
consumer logic runs as Spark jobs over each micro-batch, and its
position is the query checkpoint.

Delivery contract preserved: per-subscriber total order by offset,
at-least-once for durable names (an unacked batch is redelivered on
resume), at-most-once-from-now for ephemeral subscribers.
"""

from __future__ import annotations

import collections
import datetime
import json
import os
import shutil
import tempfile
import threading
import time
from typing import Callable
from uuid import uuid4

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkaish_spark.sources.topic_log import (
    Topic,
    read_segment,
    segment_files,
    tail_signal,
)
from kafkaish_spark.streaming.monitor import report_batch


class Subscription:
    """Handle over a running subscription (ref: the object returned by
    join/replay with an ``unsubscribe`` member, src/topic.js:110-116):
    a ``subscribe()`` follower or a streaming query.  An ephemeral
    streaming query (``name is None``) owns its temp checkpoint, which
    nothing resumes: unsubscribe removes it.  A follower has none."""

    def __init__(self, query, name: str | None, checkpoint: str | None):
        self.query = query
        self.name = name
        self.checkpoint = checkpoint

    def unsubscribe(self) -> None:
        self.query.stop()
        if self.name is None and self.checkpoint is not None:
            shutil.rmtree(self.checkpoint, ignore_errors=True)

    stop = unsubscribe

    def await_termination(self, timeout: float | None = None):
        return self.query.awaitTermination(timeout)

    @property
    def is_active(self) -> bool:
        return self.query.isActive

    def progress(self) -> dict | None:
        """Latest batch metrics (rows, durations) — the observability
        the reference's fire-and-forget callbacks never had."""
        return self.query.lastProgress


def _start_offset_for(
    topic: Topic, name: str | None, replay: bool | int | None
) -> int:
    """Where this subscription starts, mirroring the reference's three
    modes: ephemeral = from now (src/topic.js:104-106); durable new name
    with replay = from the beginning (src/topic.js:133-136); durable
    without replay = from now, remembered across restarts.  ``replay``
    may also be an INT: start after that offset (exclusive) — the Kafka
    consumer ``seek`` analog, composing with ``offset_for_time`` for
    time-based subscription starts (a mode the reference lacks).
    ``replay=None`` == ``replay=False`` (tail start): it is what
    ``offset_for_time`` yields when no message is that recent, so the
    composed call needs no None guard."""
    if replay is None:
        replay = False
    if name is None:
        # ephemeral: misses pre-subscribe messages; an int replay still
        # applies (seek on a throwaway consumer)
        return int(replay) if isinstance(replay, int) and not isinstance(
            replay, bool
        ) else topic.latest()
    marker = os.path.join(topic.sub_dir, f"{name}.start.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            return int(json.load(fh)["start_offset"])
    if isinstance(replay, bool):
        start = 0 if replay else topic.latest()
    else:
        start = int(replay)
    # tmp + rename, as Topic.ack: a crash mid-write must not leave a
    # truncated marker that every later subscribe of this name trips on
    tmp = f"{marker}.tmp"
    with open(tmp, "w") as fh:
        json.dump({"start_offset": start}, fh)
    os.replace(tmp, marker)
    return start



# Default batch bound for the per-message callback path, in parquet
# bytes per batch.  The callback API is inherently driver-side (the
# reference's subscriber callback, src/topic.js:97,105, is too), so an
# UNBOUNDED first batch on a durable replay subscription would read the
# entire backlog onto the driver in one go; the whole backlog still
# drains under the bound, just in bounded chunks.  Bytes, not files,
# because the driver's share grows with the data, not the file count: a
# 4-file bound admits 4 compacted 128 MiB segments (512 MiB) into one
# batch, yet makes a subscriber behind a log of one-message segments
# (~2.4 KB each) catch up 4 files per batch.  A batch takes ~6x its
# parquet size on the driver (93k ~130-byte messages: 10.9 MB of
# parquet, 31 MB of Arrow columns read and sorted, 32 MB of Python
# values for the callbacks), so 64 MiB holds one batch to ~380 MB per
# subscriber — and the benchmark's 3-segment, 10.5 MB catch-up backlog
# drains in one batch.  Segments are admitted while their total size
# stays within the bound, and always at least one, so a segment larger
# than the bound is a batch of its own: a subscriber on a log of
# compacted segments (TARGET_BYTES_DEFAULT) reads one per batch.  An
# explicit ``max_files_per_trigger`` replaces this bound, ``None``
# removes it.
DEFAULT_CALLBACK_MAX_BYTES = 64 * 1024 * 1024

_UNSET = object()  # sentinel: caller did not choose a backpressure bound

# How often a topic's watcher lists the log for commits made by other
# processes (this process's commits wake followers through
# writer_lock).  One listing per topic per period, however many
# followers the topic has.
_WATCH_POLL_S = 0.01

# Progress entries a follower keeps, as Spark keeps for a query
# (spark.sql.streaming.numRecentProgressUpdates).
_RECENT_PROGRESS = 100


class _TopicTail:
    """A followed topic in this process: its ``TailSignal`` and the one
    watcher thread that bumps it when the log listing or the writer
    lock changes.  Shared by the topic's followers, refcounted."""

    def __init__(self, topic: Topic):
        self.key = os.path.abspath(topic.root)
        self.signal = tail_signal(topic.root)
        self.log_dir = topic.log_dir
        self.lock_path = os.path.join(topic.root, "_writer.lock")
        self.followers = 0
        self.closed = threading.Event()

    def watch(self) -> None:
        last = self._state()
        while not self.closed.wait(_WATCH_POLL_S):
            state = self._state()
            if state != last:
                last = state
                self.signal.bump()

    def _state(self):
        return segment_files(self.log_dir), os.path.exists(self.lock_path)


_TAILS: dict[str, _TopicTail] = {}
# durable names with an active follower, per topic root
_ACTIVE: set[tuple[str, str]] = set()
_TAILS_LOCK = threading.Lock()


def _join_tail(topic: Topic, name: str | None) -> _TopicTail:
    key = os.path.abspath(topic.root)
    with _TAILS_LOCK:
        if name is not None:
            if (key, name) in _ACTIVE:
                raise RuntimeError(
                    f"durable subscriber {name!r} of topic {topic.name!r} "
                    "is already active in this process: unsubscribe it "
                    "first, or use another name"
                )
            _ACTIVE.add((key, name))
        tail = _TAILS.get(key)
        if tail is None:
            tail = _TAILS[key] = _TopicTail(topic)
            threading.Thread(
                target=tail.watch, name=f"kafkaish-tail-{topic.name}", daemon=True
            ).start()
        tail.followers += 1
        return tail


def _leave_tail(tail: _TopicTail, name: str | None) -> None:
    with _TAILS_LOCK:
        _ACTIVE.discard((tail.key, name))
        tail.followers -= 1
        if tail.followers == 0:
            tail.closed.set()
            if _TAILS.get(tail.key) is tail:
                del _TAILS[tail.key]


def _offset_span(rec: dict) -> tuple[int, int]:
    """A non-empty segment's offset range: its footer stats, or its
    offset column when the stats are incomplete (foreign writer)."""
    if rec["min_off"] is not None:
        return rec["min_off"], rec["max_off"]
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    span = pc.min_max(pq.read_table(rec["path"], columns=["offset"])["offset"])
    return span["min"].as_py(), span["max"].as_py()


def _plan(
    records: list[dict],
    pos: int,
    until: int | None,
    max_bytes: int | None,
    max_files: int | None,
) -> tuple[list[tuple[str, int, int, int | None]], int | None]:
    """The next batch after offset ``pos``: ``(reads, gap)``.  ``reads``
    are ``(path, after, upto, rows)`` segment reads covering
    ``pos+1 .. end`` without overlap, bounded by ``max_bytes`` /
    ``max_files`` (always at least one segment) and by ``until``.
    ``rows`` is what the footer promises in ``(after, upto]``: the whole
    range for a dense segment, the row count for a sparse one
    (``compact_keyed``, ``redact``) read whole, None for a sparse one
    read in part.  Overlapping segments — a compaction's merged file
    next to its originals — are read once: the widest segment starting
    at or before the next offset wins.
    ``gap`` is the first offset past a gap right after ``pos`` when
    nothing continues from the cursor, else None; with ``until`` set,
    everything after it counts as past a gap, so a cursor whose
    remaining offsets up to ``until`` are gone still reaches it."""
    spans = []
    for rec in records:
        if rec["num_rows"]:
            lo, top = _offset_span(rec)
            if top > pos:
                spans.append((lo, top, rec))
    spans.sort(key=lambda s: (s[0], -s[1]))
    reads, end, size = [], pos, 0
    for lo, top, rec in spans:
        hi = top if until is None else min(top, until)
        if hi <= end:
            continue  # covered by a segment already in the batch
        if lo > end + 1:
            if not reads:
                return [], lo
            break
        if reads and (
            (max_files is not None and len(reads) >= max_files)
            or (max_bytes is not None and size + rec["size"] > max_bytes)
        ):
            break
        if rec["num_rows"] == top - lo + 1:
            rows = hi - max(end, lo - 1)
        else:
            rows = rec["num_rows"] if end < lo and hi == top else None
        reads.append((rec["path"], end, hi, rows))
        size += rec["size"]
        end = hi
    return reads, None


class _Follower:
    """The delivery loop of one ``subscribe()``: a daemon thread that
    plans, reads and delivers batches after its offset cursor, behind
    the StreamingQuery surface ``Subscription.query`` exposes — ``id``,
    ``isActive``, ``stop()``, ``exception()``,
    ``awaitTermination(timeout)``, ``processAllAvailable()`` and
    ``recentProgress`` / ``lastProgress`` (one dict per batch that
    ran).  A callback error ends the follower; ``awaitTermination``
    and ``processAllAvailable`` re-raise it."""

    def __init__(
        self,
        topic: Topic,
        deliver: Callable,
        name: str | None,
        pos: int,
        until: int | None,
        max_bytes: int | None,
        max_files: int | None,
    ):
        self.id = str(uuid4())
        self._topic, self._deliver, self._name = topic, deliver, name
        self._pos, self._until = pos, until
        self._max_bytes, self._max_files = max_bytes, max_files
        self._progress = collections.deque(maxlen=_RECENT_PROGRESS)
        self._batches = 0
        self._exc: Exception | None = None
        self._stopping = False
        self._moved = threading.Condition()  # the cursor moved, or done
        self._done = threading.Event()
        self._tail = _join_tail(topic, name)
        self._thread = threading.Thread(
            target=self._run, name=f"kafkaish-follow-{topic.name}", daemon=True
        )
        self._thread.start()

    # -- StreamingQuery surface ----------------------------------------

    @property
    def isActive(self) -> bool:
        return not self._done.is_set()

    @property
    def recentProgress(self) -> list[dict]:
        return list(self._progress)

    @property
    def lastProgress(self) -> dict | None:
        progress = self._progress
        return progress[-1] if progress else None

    def exception(self) -> Exception | None:
        return self._exc

    def stop(self) -> None:
        self._stopping = True
        with self._tail.signal.cond:
            self._tail.signal.cond.notify_all()
        if threading.current_thread() is not self._thread:
            self._thread.join()

    def awaitTermination(self, timeout: float | None = None):
        done = self._done.wait(timeout)
        if self._exc is not None:
            raise self._exc
        return done if timeout is not None else None

    def processAllAvailable(self) -> None:
        """Block until every message committed when called is past the
        cursor (delivered, filtered out or skipped as a hole), or the
        follower ended."""
        target = self._topic.latest()
        with self._moved:
            self._moved.wait_for(
                lambda: self._pos >= target or self._done.is_set()
            )
        if self._exc is not None:
            raise self._exc

    # -- the loop ------------------------------------------------------

    def _run(self) -> None:
        sig = self._tail.signal
        hole = None  # (cursor, gap end) seen once with the lock free
        try:
            while not self._stopping:
                if self._until is not None and self._pos >= self._until:
                    return  # available_now: drained to the subscribe-time tail
                with sig.cond:
                    generation = sig.generation
                t0 = time.perf_counter()
                try:
                    reads, gap = _plan(
                        self._topic._segment_stats(),
                        self._pos,
                        self._until,
                        self._max_bytes,
                        self._max_files,
                    )
                    t1 = time.perf_counter()
                    batch = self._read(reads) if reads else None
                except FileNotFoundError:
                    # a segment or directory vanished mid-swap: plan again
                    self._wait(sig, generation, _WATCH_POLL_S)
                    continue
                if batch is not None:
                    hole = None
                    self._deliver_batch(batch, reads[-1][2], t0, t1)
                    continue
                if gap is None:
                    self._wait(sig, generation)
                elif os.path.exists(self._tail.lock_path):
                    hole = None  # a commit in flight: its release wakes us
                    self._wait(sig, generation)
                elif hole == (self._pos, gap):
                    # the gap outlived a free lock and a fresh listing:
                    # no writer can fill it any more
                    self._advance(gap - 1)
                    hole = None
                else:
                    # free lock, but the listing predates that check:
                    # list once more before calling it a hole
                    hole = (self._pos, gap)
                    self._wait(sig, generation, _WATCH_POLL_S)
        except Exception as exc:  # surfaced by awaitTermination
            self._exc = exc
        finally:
            _leave_tail(self._tail, self._name)
            self._done.set()
            with self._moved:
                self._moved.notify_all()

    def _wait(self, sig, generation: int, timeout: float | None = None) -> None:
        with sig.cond:
            sig.cond.wait_for(
                lambda: sig.generation != generation or self._stopping, timeout
            )

    def _advance(self, pos: int) -> None:
        with self._moved:
            self._pos = pos
            self._moved.notify_all()

    def _read(self, reads: list[tuple[str, int, int, int | None]]):
        """The batch's rows as offset-sorted (offsets, events,
        messages) Arrow columns, checked against the footers: on dense
        segments exactly the cursor's next offsets up to the batch
        end."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        pos, end = self._pos, reads[-1][2]
        tables = [read_segment(path, after, upto) for path, after, upto, _ in reads]

        def column(name, typ):
            return pa.chunked_array(
                [c for t in tables for c in t[name].chunks], typ
            )

        offsets = column("offset", pa.int64())
        order = pc.sort_indices(offsets)
        offsets = offsets.take(order)
        # contiguity replaces an accounting action: before any callback,
        # the rows read must be the ones the footers promise — distinct,
        # and as many as promised (read_segment already bounds them to
        # the batch range), so on dense segments exactly pos+1..end
        promised = [r[3] for r in reads]
        want = None if None in promised else sum(promised)
        got = offsets.to_numpy()
        if (want is not None and len(got) != want) or (np.diff(got) <= 0).any():
            raise RuntimeError(
                f"batch {self._batches}: the {len(got)} offsets read do "
                f"not match the segment footers ({want} in "
                f"{pos + 1}..{end}); the batch is not acked and is "
                "redelivered on resume"
            )
        events = column("event", pa.string()).take(order)
        messages = column("message", pa.string()).take(order)
        return offsets, events, messages

    def _deliver_batch(self, batch, end: int, t0, t1) -> None:
        offsets, events, messages = batch
        self._deliver(offsets, events, messages)
        t2 = time.perf_counter()
        if self._name is not None:
            self._topic.ack(self._name, end)
        t3 = time.perf_counter()
        self._advance(end)

        def ms(a, b):
            return round(1e3 * (b - a))

        progress = {
            "id": self.id,
            "batchId": self._batches,
            "numInputRows": len(offsets),
            "timestamp": datetime.datetime.now(datetime.timezone.utc)
            .isoformat(timespec="milliseconds")
            .replace("+00:00", "Z"),
            "durationMs": {
                "latestOffset": ms(t0, t1),  # listing + plan
                "addBatch": ms(t1, t2),  # read + callbacks
                "commitOffsets": ms(t2, t3),
                "triggerExecution": ms(t0, t3),
            },
        }
        self._batches += 1
        self._progress.append(progress)
        report_batch(self._topic.spark, progress)


def subscribe(
    topic: Topic,
    callback: Callable[[str | None, str, int], None],
    event: str | None = None,
    name: str | None = None,
    replay: bool | int | None = False,
    available_now: bool = True,
    max_files_per_trigger: int | None = _UNSET,
    on_error: str = "raise",
) -> Subscription:
    """Subscribe to a topic (ref: Topic.subscribe routing,
    src/topic.js:41-47).

    callback(event, message, offset) is invoked per message in offset
    order, one batch at a time.  ``event=None`` subscribes to all
    events — and works for live delivery too, fixing the reference's
    broken live wildcard (listener registered under the literal null
    event name, src/topic.js:108 vs emit at :73-74).

    replay: False = from now; True = from the beginning; an INT = from
    after that offset (exclusive) — the Kafka ``seek`` analog.  Pair
    with ``topic.offset_for_time(t)`` to start a subscription at a
    point in time::

        seek = topic.offset_for_time(t)   # None = nothing that recent
        sub = subscribe(topic, cb, replay=seek - 1 if seek else False)

    ``offset_for_time`` returns None when no message is at/after ``t``;
    ``replay=None`` is accepted and means the same as ``replay=False``
    (start at the tail), so ``replay=seek and seek - 1`` is also safe.

    available_now=True delivers up to the tail at subscribe time then
    stops — deterministic tests without wall-clock sleeps.  Pass False
    for a continuous tail.  One durable name has at most one active
    subscription per topic in a process.

    max_files_per_trigger: left unset, each batch is bounded to
    DEFAULT_CALLBACK_MAX_BYTES of segment files; an INT bounds it to
    that many files instead; None leaves it unbounded.

    on_error: "raise" (default) ends the subscription on a callback
    error — the batch is unacked and redelivered on resume
    (at-least-once, the reference's behavior is worse: a throwing
    listener kills the shared tail for everyone, src/topic.js:73-74).
    "dlq" instead routes the failing message to the ``<topic>__dlq``
    topic (original envelope + error string) and keeps delivering —
    the poison-message pattern: one bad payload must not stall the
    subscriber or be silently dropped.
    """
    if on_error not in ("raise", "dlq"):
        raise ValueError(f"on_error must be 'raise' or 'dlq', got {on_error!r}")
    use_dlq = on_error == "dlq"
    max_bytes = None
    if max_files_per_trigger is _UNSET:
        # Per-message delivery reads each batch on the driver; bound it
        # by default so a durable subscriber's first backlog drain
        # cannot pull the whole log at once.  Pass None explicitly to
        # opt out (e.g. when the caller knows the backlog is tiny).
        max_files_per_trigger = None
        max_bytes = DEFAULT_CALLBACK_MAX_BYTES
    pos = _start_offset_for(topic, name, replay)
    if name is not None:
        pos = max(pos, topic.last_ack(name) or 0)
    until = topic.latest() if available_now else None

    def deliver(offsets, events, messages) -> None:
        import pyarrow.compute as pc

        if event is not None:
            keep = pc.equal(events, event)
            offsets, events, messages = (
                offsets.filter(keep), events.filter(keep), messages.filter(keep)
            )
        # to Python through numpy: ~5x faster than to_pylist on strings
        rows = zip(
            events.to_numpy(False).tolist(),
            messages.to_numpy(False).tolist(),
            offsets.to_numpy().tolist(),
        )
        poisoned = []
        for ev, msg, off in rows:
            if not use_dlq:
                callback(ev, msg, off)
                continue
            try:
                callback(ev, msg, off)
            except Exception as exc:  # poison message -> DLQ, keep going
                poisoned.append(
                    (
                        ev,
                        json.dumps(
                            {
                                "src_topic": topic.name,
                                "src_offset": off,
                                "message": msg,
                                "error": f"{type(exc).__name__}: {exc}",
                            },
                            sort_keys=True,
                        ),
                    )
                )
        if poisoned:
            # persisted BEFORE ack: a poison message is never lost, it
            # is parked (same guarantee class as delivery).  The DLQ
            # topic is created lazily on the FIRST poison message, so a
            # clean subscriber never materializes a phantom __dlq dir
            # (which would pollute topic listings / shard wildcards).
            Topic(
                topic.spark, os.path.dirname(topic.root), f"{topic.name}__dlq"
            ).publish_batch(poisoned)

    follower = _Follower(
        topic, deliver, name, pos, until, max_bytes, max_files_per_trigger
    )
    return Subscription(follower, name, None)


def subscribe_batches(
    topic: Topic,
    batch_fn: Callable[[DataFrame, int], None],
    event: str | None = None,
    name: str | None = None,
    replay: bool = False,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> Subscription:
    """DataFrame-level delivery: ``batch_fn(batch_df, batch_id)`` per
    micro-batch, never collecting rows to the driver.

    This is the scale path the per-message ``subscribe`` cannot be: the
    consumer logic runs as Spark jobs over the batch DataFrame (write it
    somewhere, aggregate it, join it), so a terabyte backlog drains
    without any driver materialization.  It is a Structured Streaming
    query: its position is the checkpoint commit per micro-batch
    (at-least-once for durable names), and the subscriber's JSON ack
    file (``Topic.ack``) follows it for introspection, its offset
    computed with a single-row ``max(offset)`` aggregate instead of a
    row collect.

    Semantics vs the reference: same at-least-once contract as the
    durable path (src/topic.js:118-201), with the delivery unit raised
    from one message to one micro-batch — batch_fn that throws leaves
    the batch uncommitted, so it is redelivered in full on resume.
    """
    if name is None:
        checkpoint = tempfile.mkdtemp(prefix=f"kafkaish_ephemeral_{topic.name}_")
    else:
        checkpoint = os.path.join(topic.sub_dir, name, "checkpoint")
    start_offset = _start_offset_for(topic, name, replay)

    stream = topic.stream(event=event, max_files_per_trigger=max_files_per_trigger)
    if start_offset:
        stream = stream.filter(F.col("offset") > F.lit(int(start_offset)))

    def deliver(batch_df: DataFrame, batch_id: int) -> None:
        batch_fn(batch_df, batch_id)
        if name is not None:
            # Bounded driver traffic: one row, not the batch.
            last = batch_df.agg(F.max("offset").alias("o")).first()["o"]
            if last is not None:
                topic.ack(name, int(last))

    writer = (
        stream.writeStream.foreachBatch(deliver)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    return Subscription(query, name, checkpoint)
