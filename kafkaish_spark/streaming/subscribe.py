"""Pub/sub subscriptions as Structured Streaming queries.

Re-expresses the reference's subscription machinery
(/root/reference/src/topic.js):

- ephemeral subscribe (join, :90-117)      -> streaming query with a
  fresh temp checkpoint + ``offset > latest-at-subscribe`` filter; the
  checkpoint is never resumed, so unsubscribe removes it
- durable subscribe   (:92-100)            -> checkpointLocation derived
  from the subscriber name; ack == micro-batch checkpoint commit
- replay-then-live    (replay, :118-201)   -> the SAME checkpointed
  query: the file source's first micro-batches drain the backlog, later
  ones are incremental.  No handoff seam, so the replay->live gap race
  of the reference (src/topic.js:49-51 + :169) cannot happen.
- ack                 (:202-220)           -> checkpoint commit, plus the
  subscriber's JSON ack file (``_subscribers/<name>.ack.json``, written
  tmp + rename by ``Topic.ack``) per batch for introspection
- unsubscribe         (:110-116)           -> query.stop(); one query
  per subscriber, so no shared-cursor refcounting (the reference's TODO
  at src/topic.js:109).
- one-doc trampoline backpressure (:79-87) -> maxBytesPerTrigger (a
  byte bound on each micro-batch; maxFilesPerTrigger on request) /
  trigger(availableNow) — batch-sized instead of doc-sized.  A new
  subscriber's first trigger covers every segment before its start
  offset in one batch whose footers prune all of it, instead of
  replaying the log a few files at a time.

Per-message delivery (``subscribe``): callbacks first, then Spark's
accounting action.  Each micro-batch's segment files are named in
Spark's file-source log in the checkpoint (``sources/0/<log offset>``,
every tenth one a ``.compact`` file holding all entries so far), so
``deliver`` reads them on the driver with ``topic_log.read_segment``,
applies the stream's own filters (``offset > start``, ``event ==``),
sorts by offset and runs the callbacks — no Spark job stands between a
published message and its callback.  Only then does it run one Spark
action over the batch DataFrame: it reads the batch's offsets, which
keeps ``numInputRows`` and the query progress right, and cross-checks
them against the delivered ones.  A mismatch raises before the ack, so
the batch stays uncommitted and is redelivered on resume.

Delivery contract preserved: per-subscriber total order by offset,
at-least-once for durable names (an uncommitted batch is redelivered on
resume), at-most-once-from-now for ephemeral subscribers.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from typing import Callable
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkaish_spark.sources.topic_log import Topic, read_segment


class Subscription:
    """Handle over a running streaming query (ref: the object returned
    by join/replay with an ``unsubscribe`` member, src/topic.js:110-116).
    An ephemeral subscription (``name is None``) owns its temp
    checkpoint, which nothing resumes: unsubscribe removes it."""

    def __init__(self, query, name: str | None, checkpoint: str):
        self.query = query
        self.name = name
        self.checkpoint = checkpoint

    def unsubscribe(self) -> None:
        self.query.stop()
        if self.name is None:
            shutil.rmtree(self.checkpoint, ignore_errors=True)

    stop = unsubscribe

    def await_termination(self, timeout: float | None = None):
        return self.query.awaitTermination(timeout)

    @property
    def is_active(self) -> bool:
        return self.query.isActive

    def progress(self) -> dict | None:
        """Latest micro-batch metrics (rows/sec, batch duration, offsets)
        straight from the streaming query — the observability the
        reference's fire-and-forget callbacks never had."""
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


def _source_log_offset(checkpoint: str, batch_id: int) -> int:
    """Where micro-batch ``batch_id`` ends in the file source's log: its
    offset-WAL entry ``offsets/<batch_id>`` is a ``v1`` header, the
    batch metadata, then ``{"logOffset": N}`` for the one source."""
    with open(os.path.join(checkpoint, "offsets", str(batch_id))) as fh:
        return int(json.loads(fh.read().splitlines()[2])["logOffset"])


def _lines_backwards(fh, chunk: int = 1 << 16):
    """The lines of a binary file, last first, read in ``chunk``-byte
    steps from the end."""
    fh.seek(0, os.SEEK_END)
    pos, rest = fh.tell(), b""
    while pos:
        step = min(pos, chunk)
        pos -= step
        fh.seek(pos)
        lines = (fh.read(step) + rest).split(b"\n")
        rest = lines.pop(0)
        yield from reversed(lines)
    yield rest


def _source_log_files(checkpoint: str, log_id: int) -> list[str]:
    """The files Spark's file source logged under ``log_id``, in log
    order.  The entry is ``sources/0/<log_id>`` (a ``v1`` header, then
    one JSON ``FileEntry`` — ``path`` as a ``file://`` URI, ``batchId``
    — per line), or every tenth one ``<log_id>.compact``, which holds
    every entry so far in log order: reading backwards up to the first
    line of another ``batchId`` costs the entry's size, not the log's."""
    path = os.path.join(checkpoint, "sources", "0", str(log_id))
    if not os.path.exists(path):
        path += ".compact"
    files = []
    with open(path, "rb") as fh:
        for line in _lines_backwards(fh):
            if not line.strip():
                continue
            if not line.startswith(b"{"):
                break  # the version header
            entry = json.loads(line)
            if entry["batchId"] != log_id:
                break  # an earlier entry, folded into a compaction
            files.append(unquote(urlsplit(entry["path"]).path))
    files.reverse()
    return files


def _batch_files(checkpoint: str, batch_id: int) -> list[str]:
    """The segment files micro-batch ``batch_id`` reads: the file
    source's log entries after the previous batch's end, up to its own.
    One entry per batch, except after a crash between the source log
    write and the offset WAL write, when the next batch spans two."""
    start = _source_log_offset(checkpoint, batch_id - 1) if batch_id else -1
    end = _source_log_offset(checkpoint, batch_id)
    return [
        f
        for log_id in range(start + 1, end + 1)
        for f in _source_log_files(checkpoint, log_id)
    ]


# Default micro-batch bound for the per-message callback path, in
# parquet bytes per trigger.  The callback API is inherently driver-side
# (the reference's subscriber callback, src/topic.js:97,105, is too), so
# an UNBOUNDED first batch on a durable replay subscription would
# read the entire backlog onto the driver in one go; the whole backlog
# still drains under the bound (availableNow iterates triggers), just in
# bounded chunks.  Bytes, not files, because the driver's share grows
# with the data, not the file count: a 4-file bound admits 4 compacted
# 128 MiB segments (512 MiB) into one batch, yet makes a new subscriber
# sweep a long-lived log of one-message segments (~2.4 KB each) 4 files
# per trigger before its first delivery.  A batch takes ~6x its parquet
# size on the driver (93k ~130-byte messages: 10.9 MB of parquet, 31 MB
# of Arrow columns read and sorted, 32 MB of Python values for the
# callbacks), so 64 MiB holds one batch to ~380 MB per subscriber — and
# the benchmark's 3-segment, 10.5 MB catch-up backlog still drains in
# one trigger, as it did under the file bound.  A segment larger than
# the bound is a batch of its own: a subscriber on a log of compacted
# segments (TARGET_BYTES_DEFAULT) reads one per trigger.  An explicit
# ``max_files_per_trigger`` replaces this bound (Spark takes one of the
# two), ``None`` removes it.
DEFAULT_CALLBACK_MAX_BYTES = 64 * 1024 * 1024

_UNSET = object()  # sentinel: caller did not choose a backpressure bound


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
    order within each micro-batch.  ``event=None`` subscribes to all
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

    available_now=True processes the current backlog then stops —
    deterministic tests without wall-clock sleeps.  Pass False for a
    continuous tail.

    max_files_per_trigger: left unset, each micro-batch is bounded to
    DEFAULT_CALLBACK_MAX_BYTES of segment files; an INT bounds it to
    that many files instead; None leaves it unbounded.

    on_error: "raise" (default) fails the query on a callback error —
    the micro-batch is uncommitted and redelivered on resume
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
    max_bytes_per_trigger = None
    if max_files_per_trigger is _UNSET:
        # Per-message delivery reads each micro-batch on the driver;
        # bound it by default so a durable subscriber's first backlog
        # drain cannot pull the whole log at once.  Pass None explicitly
        # to opt out (e.g. when the caller knows the backlog is tiny).
        max_files_per_trigger = None
        max_bytes_per_trigger = DEFAULT_CALLBACK_MAX_BYTES
    if name is None:
        checkpoint = tempfile.mkdtemp(prefix=f"kafkaish_ephemeral_{topic.name}_")
    else:
        checkpoint = os.path.join(topic.sub_dir, name, "checkpoint")
    start_offset = _start_offset_for(topic, name, replay)

    stream = topic.stream(
        event=event,
        max_files_per_trigger=max_files_per_trigger,
        max_bytes_per_trigger=max_bytes_per_trigger,
    )
    if start_offset:
        stream = stream.filter(F.col("offset") > F.lit(int(start_offset)))

    min_excl = int(start_offset) if start_offset else None

    def deliver(batch_df: DataFrame, batch_id: int) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc

        # The batch's own segment files, read and filtered on the
        # driver: the callbacks wait for no Spark job.  Sorted here, not
        # by a Spark orderBy (whose range-partitioner SAMPLING scan
        # would read the source twice); the batch is bounded, by
        # default to DEFAULT_CALLBACK_MAX_BYTES.
        tables = [
            read_segment(path, min_excl, None, event)
            for path in _batch_files(checkpoint, batch_id)
        ]

        def column(name, typ):
            return pa.chunked_array(
                [c for t in tables for c in t[name].chunks], typ
            )

        offsets = column("offset", pa.int64())
        order = pc.sort_indices(offsets)
        offsets = offsets.take(order)
        events = column("event", pa.string()).take(order)
        messages = column("message", pa.string()).take(order)
        # to Python through numpy: ~5x faster than to_pylist on strings
        rows = list(
            zip(
                events.to_numpy(False).tolist(),
                messages.to_numpy(False).tolist(),
                offsets.to_numpy().tolist(),
            )
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
        # Spark's one action over the batch, behind the callbacks: it
        # keeps numInputRows and the query progress right, and the
        # offsets it reads must be the ones delivered.  The offset
        # column through Arrow, not a count/min/max/sum aggregate: on
        # a one-message batch it costs about what a one-row collect
        # does (~45 ms, 4-vCPU host) where the aggregate's extra
        # shuffle stage doubles that; on a 90k-message batch it is ~5x
        # cheaper than collecting Rows; and it holds 8 bytes a row on
        # the driver, not a second copy of the batch.
        counted = batch_df.select("offset").toArrow()["offset"]
        if not counted.take(pc.sort_indices(counted)).equals(offsets):
            raise RuntimeError(
                f"micro-batch {batch_id}: the {len(counted)} offsets Spark "
                f"read differ from the {len(offsets)} delivered; the batch "
                "is not acked and is redelivered on resume"
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
        if name is not None and rows:
            topic.ack(name, rows[-1][2])

    writer = (
        stream.writeStream.foreachBatch(deliver)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    # the trigger bound is a SOURCE option (set in topic.stream above);
    # it bounds micro-batch size in both modes, including the
    # availableNow backlog drain.
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    return Subscription(query, name, checkpoint)


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
    without any driver materialization.  Offset tracking is identical to
    ``subscribe`` — checkpoint commit per micro-batch (at-least-once for
    durable names), plus the subscriber's JSON ack file
    (``Topic.ack``) for introspection, its offset computed with a
    single-row ``max(offset)`` aggregate instead of a row collect.

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
