"""Pub/sub subscriptions: followers on a message-offset cursor.

Re-expresses the subscription machinery of the reference, kafkaish
(src/topic.js).  Every subscription — per-message ``subscribe``,
DataFrame ``subscribe_batches``, each shard of a consumer-group member
(``streaming.groups``) and a topic->topic ``pipe``
(``streaming.pipeline``) — is a driver-side FOLLOWER whose cursor is a
message offset: the reference's tailable cursor (src/topic.js:48-61)
with no Spark streaming query or checkpoint behind it:

- ephemeral subscribe (join, :90-117)      -> a follower from the tail
  at subscribe time; it keeps no state
- durable subscribe   (:92-100)            -> a follower resuming after
  ``Topic.resume_offset(name)`` = ``max(start marker, last_ack(name))``
- replay-then-live    (replay, :118-201)   -> the SAME follower: its
  first batches drain the backlog, later ones are incremental — one
  cursor, so the reference's replay->live gap race
  (src/topic.js:49-51 + :169) cannot happen
- ack                 (:202-220)           -> ``Topic.ack`` of the
  batch's planned end offset after delivery: the JSON ack file IS the
  durable position — the ``{name, last}`` upsert — for every API
- unsubscribe         (:110-116)           -> stop the follower
- one-doc trampoline backpressure (:79-87) -> a bound on each batch
  (``subscribe``: ``DEFAULT_CALLBACK_MAX_BYTES``; a file bound on
  request); a new subscriber's first batch starts at its cursor
- tail wake-up + EventEmitter fan-out (:48-61, 73-74, 108) -> one
  ``TailSignal`` per topic per process, the shared tail: it carries
  the log's segment records as of the newest commit.  ``writer_lock``'s
  release publishes them (commits in this process: a direct
  ``publish`` hands its records, any other writer leaves them unknown)
  and one watcher thread per topic offers them for other processes'
  commits, listing the log only when a directory mtime moved.  Idle
  cost grows with topics, not subscribers or segments.

A batch is the contiguous run of segments after the cursor, planned
from the signal's footer records: no listing when the newest commit
handed them, else one listing (``Topic._segment_stats``) shared by the
topic's followers.  A gap after the cursor while ``_writer.lock`` is
held is a commit in flight (Spark renames a job's files one by one):
the follower waits for it.  A gap still there in a listing of the
follower's own, taken after it saw the lock free, is a hole (an
aborted write, retention below the cursor): the follower skips it, as
Spark's file source would.  A segment that vanishes before its batch
is delivered (compaction swapping files) is transient: the follower
lists the log and plans the batch again.

Only the batch read differs.  ``subscribe`` reads the segments with
``topic_log.read_segment`` (a segment just published in this process
comes from its writer's table, not the file) into Arrow columns whose
offsets must be the ones the footers promise — exactly ``cursor+1 ..
end`` on dense segments, the row count of a sparse one
(``compact_keyed``, ``redact``) — before any callback; a mismatch
fails the batch unacked.
Then the ``event`` filter applies and the callbacks run in offset
order.  ``subscribe_batches`` and group members hand ``batch_fn`` a
lazy DataFrame over the planned segment files, each offset once; a
``pipe`` publishes that frame, transformed, in a transaction that also
acks the batch.

Delivery contract: per-subscriber total order by offset, at-least-once
for durable names (an unacked batch is redelivered on resume; a pipe's
transaction makes it exactly-once), at-most-once-from-now for
ephemeral subscribers.
"""

from __future__ import annotations

import collections
import datetime
import functools
import itertools
import json
import os
import threading
import time
from typing import Callable
from uuid import uuid4

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkaish_spark.sources.topic_log import (
    Topic,
    _hidden,
    read_segment,
    segment_files,
    tail_signal,
)
from kafkaish_spark.streaming.monitor import report_batch


class Subscription:
    """Handle over a running subscription (ref: the object returned by
    join/replay with an ``unsubscribe`` member, src/topic.js:110-116)
    over a subscription's followers: ``subscribe``, ``subscribe_batches``,
    a group member or a ``pipe()``.  ``name`` is None for an ephemeral
    subscriber; a durable one's position is a JSON ack file."""

    def __init__(self, query, name: str | None):
        self.query = query
        self.name = name

    def unsubscribe(self) -> None:
        self.query.stop()

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
    """The offset this subscription's cursor starts at, mirroring the
    reference's three modes: ephemeral = from now (src/topic.js:104-106);
    durable new name with replay = from the beginning
    (src/topic.js:133-136); durable without replay = from now,
    remembered across restarts in the name's start marker.  A durable
    name then resumes after ``Topic.resume_offset(name)`` = ``max(start
    marker, last_ack)``.  ``replay`` may also be an INT: start after
    that offset (exclusive) — the Kafka consumer ``seek`` analog,
    composing with ``offset_for_time`` for time-based subscription
    starts (a mode the reference lacks).  ``replay=None`` ==
    ``replay=False`` (tail start): it is what ``offset_for_time`` yields
    when no message is that recent, so the composed call needs no None
    guard."""
    seek = None
    if isinstance(replay, int) and not isinstance(replay, bool):
        seek = int(replay)
    if name is None:
        # ephemeral: misses pre-subscribe messages; an int replay still
        # applies (seek on a throwaway consumer)
        return topic.latest() if seek is None else seek
    marker = topic._start_path(name)
    if not os.path.exists(marker):
        if seek is None:
            seek = 0 if replay else topic.latest()
        # tmp + rename, as Topic.ack: a crash mid-write must not leave a
        # truncated marker that every later subscribe of this name trips on
        tmp = f"{marker}.tmp"
        with open(tmp, "w") as fh:
            json.dump({"start_offset": seek}, fh)
        os.replace(tmp, marker)
    return topic.resume_offset(name)



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

# How often a topic's watcher looks for commits made by other processes
# (this process's commits wake followers through writer_lock): a stat
# of the log's directories, and a listing when one changed.  One
# watcher per topic, however many followers the topic has.
_WATCH_POLL_S = 0.01

# A directory whose mtime is less than this older than the stat that
# read it may change again within the same timestamp tick (coarse
# file-system timestamps): the watcher keeps listing it until its mtime
# is older than that (git's "racily clean" rule).
_RACY_NS = 1_000_000_000

# Progress entries a follower keeps, as Spark keeps for a query
# (spark.sql.streaming.numRecentProgressUpdates).
_RECENT_PROGRESS = 100


def _mtime_ns(path: str) -> int | None:
    try:
        return os.stat(path).st_mtime_ns
    except FileNotFoundError:
        return None


class _TopicTail:
    """A followed topic in this process: its ``TailSignal`` and the one
    watcher thread that keeps it current with other processes' commits.
    Shared by the topic's followers, refcounted."""

    def __init__(self, topic: Topic):
        self.key = os.path.abspath(topic.root)
        self.topic = topic
        self.signal = tail_signal(topic.root)
        self.log_dir = topic.log_dir
        self.lock_path = os.path.join(topic.root, "_writer.lock")
        self.followers = 0
        self.closed = threading.Event()

    def watch(self) -> None:
        """Every ``_WATCH_POLL_S``: wake the followers when the writer
        lock appeared or went (a gap may have become a hole), and offer
        the signal the records of a listing that differs from its own.
        The log is listed only when the mtime of ``log/`` or of a
        directory in it changed since the last listing, or is racy
        (``_RACY_NS``) — an idle topic costs a few stats per poll,
        whatever its segment count."""
        locked = os.path.exists(self.lock_path)
        dirs, stamps, stamped_at = [self.log_dir], None, 0
        while not self.closed.wait(_WATCH_POLL_S):
            if os.path.exists(self.lock_path) != locked:
                locked = not locked
                self.signal.wake()
            now = time.time_ns()
            seen = [_mtime_ns(d) for d in dirs]
            if seen == stamps and all(
                m is None or stamped_at - m >= _RACY_NS for m in seen
            ):
                continue
            # stamped before the listing: a commit after the stat moves
            # an mtime (or lands inside a racy one) and is listed next
            stamps, stamped_at = seen, now
            epoch = self.signal.epoch
            paths = segment_files(self.log_dir)
            dirs = [self.log_dir, *self._subdirs()]
            if not self._offer(paths, epoch):
                stamps = None  # list again at the next poll

    def _subdirs(self) -> list[str]:
        """The visible directories in ``log/`` (``pub_date=``), whose
        mtimes move when a segment lands in them."""
        try:
            with os.scandir(self.log_dir) as entries:
                return sorted(
                    e.path for e in entries if e.is_dir() and not _hidden(e.name)
                )
        except FileNotFoundError:
            return []

    def _offer(self, paths: list[str], epoch: int) -> bool:
        """Bring the signal's records up to a listing of ``paths``
        taken during ``epoch``; False when that did not happen."""
        records = self.signal.records
        if records is None:
            # the followers list at their next step: compare with the
            # listing they share at the next poll
            return False
        if {r["path"] for r in records} == set(paths):
            return True
        try:
            records = self.topic._segment_stats()
        except Exception:
            # a segment vanished or cannot be read: the followers list
            # themselves, and meet the error there
            self.signal.bump()
            return False
        return self.signal.offer(records, epoch)


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
            # nothing kept the signal's records current with other
            # processes while no watcher ran
            tail.signal.bump()
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
) -> tuple[list[tuple[str, int, int, int | None, bool]], int | None]:
    """The next batch after offset ``pos``: ``(reads, gap)``.  ``reads``
    are ``(path, after, upto, rows, whole)`` segment reads covering
    ``pos+1 .. end`` without overlap, bounded by ``max_bytes`` /
    ``max_files`` (always at least one segment) and by ``until``.
    ``whole`` says every offset of the file lies in ``(after, upto]``.
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
        whole = end < lo and hi == top
        if rec["num_rows"] == top - lo + 1:
            rows = hi - max(end, lo - 1)
        else:
            rows = rec["num_rows"] if whole else None
        reads.append((rec["path"], end, hi, rows, whole))
        size += rec["size"]
        end = hi
    return reads, None


class _Vanished(Exception):
    """A segment planned for a batch vanished (a compaction swapped it)
    before the batch was delivered: the batch is planned again."""


class _Query:
    """The StreamingQuery surface of ``Subscription.query`` over a
    subscription's followers (one per topic, or per owned shard of a
    group member): ``isActive`` while any runs, ``awaitTermination``
    waits for all and re-raises the first error, and the progress dicts
    (``batchId`` numbering the subscription's batches from 0) come from
    all of them.  The first follower error halts the others."""

    def __init__(self):
        self.id = str(uuid4())
        self.followers: list[_Follower] = []
        self._progress = collections.deque(maxlen=_RECENT_PROGRESS)
        self._batch_ids = itertools.count()
        self._exc: Exception | None = None
        self._lock = threading.Lock()  # followers and the first error

    def _add(self, follower: "_Follower") -> None:
        with self._lock:
            self.followers.append(follower)
            failed = self._exc is not None
        if failed:
            follower.halt()  # a sibling failed while this one started

    def _failed(self, exc: Exception) -> None:
        with self._lock:
            if self._exc is None:
                self._exc = exc
            followers = list(self.followers)
        for f in followers:
            f.halt()

    @property
    def isActive(self) -> bool:
        return any(not f.done.is_set() for f in self.followers)

    @property
    def recentProgress(self) -> list[dict]:
        return list(self._progress)

    @property
    def lastProgress(self) -> dict | None:
        return self._progress[-1] if self._progress else None

    def exception(self) -> Exception | None:
        return self._exc

    def stop(self) -> None:
        for f in self.followers:
            f.halt()
        for f in self.followers:
            f.join()

    def awaitTermination(self, timeout: float | None = None):
        deadline = None if timeout is None else time.monotonic() + timeout
        done = True
        for f in self.followers:
            left = None if deadline is None else max(0.0, deadline - time.monotonic())
            done = f.done.wait(left) and done
        if self._exc is not None:
            raise self._exc
        return done if timeout is not None else None

    def processAllAvailable(self) -> None:
        """Block until every message committed when called is past each
        follower's cursor (delivered, filtered out or skipped as a
        hole), or the followers ended."""
        for f in self.followers:
            f.catch_up()
        if self._exc is not None:
            raise self._exc


class _Follower:
    """One topic's delivery loop: a daemon thread that plans batches
    after its offset cursor, hands each to ``deliver``, then acks the
    batch's planned end offset (durable names) and moves the cursor.
    ``deliver(reads, batch_id)`` is the per-mode part: it reads and
    delivers the ``_plan`` reads and returns the row count, or raises
    ``_Vanished`` to have the batch planned again.  Any other error
    ends the follower, unacked, and fails its query."""

    def __init__(
        self,
        query: _Query,
        topic: Topic,
        deliver: Callable,
        name: str | None,
        replay: bool | int | None,
        available_now: bool,
        max_bytes: int | None,
        max_files: int | None,
    ):
        self._query, self._topic, self._deliver = query, topic, deliver
        self._name = name
        self._pos = _start_offset_for(topic, name, replay)
        self._until = topic.latest() if available_now else None
        self._max_bytes, self._max_files = max_bytes, max_files
        self._stopping = False
        self._moved = threading.Condition()  # the cursor moved, or done
        self.done = threading.Event()
        self._tail = _join_tail(topic, name)
        self._thread = threading.Thread(
            target=self._run, name=f"kafkaish-follow-{topic.name}", daemon=True
        )
        query._add(self)
        self._thread.start()

    def halt(self) -> None:
        """End the loop after its current batch, without waiting."""
        self._stopping = True
        with self._tail.signal.cond:
            self._tail.signal.cond.notify_all()

    def join(self) -> None:
        if threading.current_thread() is not self._thread:
            self._thread.join()

    def catch_up(self) -> None:
        target = self._topic.latest()
        with self._moved:
            self._moved.wait_for(lambda: self._pos >= target or self.done.is_set())

    def _run(self) -> None:
        sig = self._tail.signal
        hole = None  # (cursor, gap end) seen once with the lock free
        fresh = False  # plan the next batch from a listing of our own
        try:
            while not self._stopping:
                if self._until is not None and self._pos >= self._until:
                    return  # available_now: drained to the subscribe-time tail
                with sig.cond:
                    generation = sig.generation
                listed, fresh = fresh, False
                try:
                    ran, gap = self._step(listed)
                except _Vanished:
                    # a rewrite replaced a planned segment: the records
                    # are stale, so list before planning again
                    fresh = True
                    self._wait(sig, generation, _WATCH_POLL_S)
                    continue
                if ran:
                    hole = None
                elif gap is None:
                    self._wait(sig, generation)
                elif os.path.exists(self._tail.lock_path):
                    hole = None  # a commit in flight: its release wakes us
                    self._wait(sig, generation)
                elif listed and hole == (self._pos, gap):
                    # the gap outlived a free lock and a listing taken
                    # after it: no writer can fill it any more
                    self._advance(gap - 1)
                    hole = None
                else:
                    # free lock, but the records predate that check:
                    # list once more before calling it a hole
                    hole, fresh = (self._pos, gap), True
                    self._wait(sig, generation, _WATCH_POLL_S)
        except Exception as exc:  # surfaced by awaitTermination
            self._query._failed(exc)
        finally:
            _leave_tail(self._tail, self._name)
            self.done.set()
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

    def _step(self, fresh: bool) -> tuple[bool, int | None]:
        """Plan the next batch and deliver it: ``(ran, gap)``, with
        ``_plan``'s gap when no batch ran.  The plan reads the topic
        signal's records (the newest commit's, or a listing shared with
        the topic's other followers); ``fresh`` lists the log instead."""
        t0 = time.perf_counter()
        try:
            reads, gap = _plan(
                self._tail.signal.current(self._topic._segment_stats, fresh),
                self._pos,
                self._until,
                self._max_bytes,
                self._max_files,
            )
        except FileNotFoundError as exc:
            raise _Vanished from exc
        if not reads:
            return False, gap
        end = reads[-1][2]
        batch_id = next(self._query._batch_ids)
        t1 = time.perf_counter()
        rows = self._deliver(reads, batch_id)
        t2 = time.perf_counter()
        if self._name is not None:
            self._topic.ack(self._name, end)
        t3 = time.perf_counter()
        self._advance(end)

        def ms(a, b):
            return round(1e3 * (b - a))

        progress = {
            "id": self._query.id,
            "batchId": batch_id,
            "numInputRows": rows,
            "timestamp": datetime.datetime.now(datetime.timezone.utc)
            .isoformat(timespec="milliseconds")
            .replace("+00:00", "Z"),
            "durationMs": {
                "latestOffset": ms(t0, t1),  # snapshot (or shared listing) + plan
                "addBatch": ms(t1, t2),  # read + delivery
                "commitOffsets": ms(t2, t3),
                "triggerExecution": ms(t0, t3),
            },
        }
        self._query._progress.append(progress)
        report_batch(self._topic.spark, progress)
        return True, None


def _read_columns(reads: list[tuple], batch_id: int):
    """The batch's rows as offset-sorted (offsets, events, messages)
    Arrow columns, checked against the footers: on dense segments
    exactly the cursor's next offsets up to the batch end."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    pos, end = reads[0][1], reads[-1][2]
    try:
        tables = [read_segment(path, after, upto) for path, after, upto, _, _ in reads]
    except FileNotFoundError as exc:
        raise _Vanished from exc

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
            f"batch {batch_id}: the {len(got)} offsets read do "
            f"not match the segment footers ({want} in "
            f"{pos + 1}..{end}); the batch is not acked and is "
            "redelivered on resume"
        )
    events = column("event", pa.string()).take(order)
    messages = column("message", pa.string()).take(order)
    return offsets, events, messages


def _batch_rows(reads: list[tuple]) -> int:
    """A batch's row count from its footers: a sparse segment read in
    part counts its offset range."""
    return sum(upto - after if n is None else n for _, after, upto, n, _ in reads)


def _frame_delivery(
    topic: Topic, batch_fn: Callable[[DataFrame, int], None], event: str | None
) -> Callable:
    """``deliver`` for ``batch_fn(batch_df, batch_id)`` on a lazy frame
    with ``Topic.stream()``'s columns that holds each offset of the
    batch once: one scan over the segments read whole, plus one bounded
    scan per segment read in part (a cursor inside a compacted file, a
    merged file next to its originals).  A ``batch_fn`` error while a
    planned segment has vanished is a compaction's swap, not a failure:
    the batch is planned and delivered again."""

    def deliver(reads: list[tuple], batch_id: int) -> int:
        paths = [r[0] for r in reads]
        whole = [path for path, _, _, _, is_whole in reads if is_whole]
        try:
            frames = [topic.read_segments(whole)] if whole else []
            frames += [
                topic.read_segments([path]).filter(
                    (F.col("offset") > after) & (F.col("offset") <= upto)
                )
                for path, after, upto, _, is_whole in reads
                if not is_whole
            ]
            df = functools.reduce(DataFrame.union, frames)
            if event is not None:
                df = df.filter(F.col("event") == F.lit(event))
            # Spark leaves out, without an error, a file that vanishes
            # while it lists the paths: every planned file must still
            # exist after the listing (a later vanish fails the read)
            if all(map(os.path.exists, paths)):
                batch_fn(df, batch_id)
                return _batch_rows(reads)
        except Exception:
            if all(map(os.path.exists, paths)):
                raise
        raise _Vanished(paths)

    return deliver


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

    def deliver(reads: list[tuple], batch_id: int) -> int:
        import pyarrow.compute as pc

        offsets, events, messages = _read_columns(reads, batch_id)
        n_rows = len(offsets)
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
        return n_rows

    query = _Query()
    _Follower(
        query, topic, deliver, name, replay, available_now, max_bytes, max_files_per_trigger
    )
    return Subscription(query, name)


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
    batch, never collecting rows to the driver — the scale path the
    per-message ``subscribe`` cannot be: the consumer logic runs as
    Spark jobs over the batch DataFrame, so a terabyte backlog drains
    without any driver materialization.

    The same follower as ``subscribe`` (start, resume, wake-up, ack and
    ``available_now`` rules; one active durable name per topic in a
    process); only the delivery differs: ``batch_df`` is a lazy frame
    over the batch's segment files with ``Topic.stream()``'s columns
    (``pub_date`` too on a partitioned topic), rows in no particular
    order.  Batches are unbounded unless ``max_files_per_trigger`` caps
    their segment count.  ``batch_id`` numbers this subscription's
    batches from 0 and restarts at 0 on every subscribe: ``offset``,
    not ``batch_id``, is the dedup key across restarts.

    Same at-least-once contract as the durable path
    (src/topic.js:118-201), with the delivery unit raised from one
    message to one batch: after ``batch_fn`` returns, the batch's
    planned end offset is acked (also when the ``event`` filter left
    it empty); a batch_fn that throws ends the subscription with the
    batch unacked, so it is redelivered in full on resume.
    """
    query = _Query()
    deliver = _frame_delivery(topic, batch_fn, event)
    _Follower(
        query, topic, deliver, name, replay, available_now, None, max_files_per_trigger
    )
    return Subscription(query, name)
