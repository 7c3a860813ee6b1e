"""Pub/sub subscriptions as Structured Streaming queries.

Re-expresses the reference's subscription machinery
(/root/reference/src/topic.js):

- ephemeral subscribe (join, :90-117)      -> streaming query with a
  fresh temp checkpoint + ``offset > latest-at-subscribe`` filter
- durable subscribe   (:92-100)            -> checkpointLocation derived
  from the subscriber name; ack == micro-batch checkpoint commit
- replay-then-live    (replay, :118-201)   -> the SAME checkpointed
  query: the file source's first micro-batches drain the backlog, later
  ones are incremental.  No handoff seam, so the replay->live gap race
  of the reference (src/topic.js:49-51 + :169) cannot happen.
- ack                 (:202-220)           -> checkpoint commit, plus an
  explicit ``_subscribers`` upsert per batch for introspection
- unsubscribe         (:110-116)           -> query.stop(); one query
  per subscriber, so no shared-cursor refcounting (the reference's TODO
  at src/topic.js:109).
- one-doc trampoline backpressure (:79-87) -> maxBytesPerTrigger (a
  byte bound on each micro-batch; maxFilesPerTrigger on request) /
  trigger(availableNow) — batch-sized instead of doc-sized.  A new
  subscriber's first trigger covers every segment before its start
  offset in one batch whose footers prune all of it, instead of
  replaying the log a few files at a time.

Delivery contract preserved: per-subscriber total order by offset,
at-least-once for durable names (an uncommitted batch is redelivered on
resume), at-most-once-from-now for ephemeral subscribers.
"""

from __future__ import annotations

import json
import os
import tempfile
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkaish_spark.sources.topic_log import Topic


class Subscription:
    """Handle over a running streaming query (ref: the object returned
    by join/replay with an ``unsubscribe`` member, src/topic.js:110-116)."""

    def __init__(self, query, name: str | None, checkpoint: str):
        self.query = query
        self.name = name
        self.checkpoint = checkpoint

    def unsubscribe(self) -> None:
        self.query.stop()

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
    with open(marker, "w") as fh:
        json.dump({"start_offset": start}, fh)
    return start


# Default micro-batch bound for the per-message callback path, in
# parquet bytes per trigger.  The callback API is inherently driver-side
# (the reference's subscriber callback, src/topic.js:97,105, is too), so
# an UNBOUNDED first batch on a durable replay subscription would
# collect the entire backlog to the driver in one go; the whole backlog
# still drains under the bound (availableNow iterates triggers), just in
# bounded chunks.  Bytes, not files, because the collect grows with the
# data, not the file count: a 4-file bound admits 4 compacted 128 MiB
# segments (512 MiB) into one collect, yet makes a new subscriber sweep
# a long-lived log of one-message segments (~2.4 KB each) 4 files per
# trigger before its first delivery.  Collected rows take ~5x their
# parquet size in driver Python objects (93k ~130-byte messages: 10.9 MB
# of parquet, 52 MB of Rows), so 64 MiB holds one batch to ~320 MB per
# subscriber — and the benchmark's 3-segment, 10.5 MB catch-up backlog
# still drains in one trigger, as it did under the file bound.  A
# segment larger than the bound is a batch of its own: a subscriber on
# a log of compacted segments (TARGET_BYTES_DEFAULT) reads one per
# trigger.  An explicit ``max_files_per_trigger`` replaces this bound
# (Spark takes one of the two), ``None`` removes it.
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
        # Per-message delivery collects each micro-batch to the driver;
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

    def deliver(batch_df: DataFrame, _batch_id: int) -> None:
        # Sort driver-side: the batch is bounded (by default to
        # DEFAULT_CALLBACK_MAX_BYTES), and a Spark orderBy would add a
        # range-partitioner SAMPLING scan — the source would be read
        # twice per micro-batch.
        rows = sorted(batch_df.collect(), key=lambda r: r["offset"])
        poisoned = []
        for r in rows:
            if not use_dlq:
                callback(r["event"], r["message"], int(r["offset"]))
                continue
            try:
                callback(r["event"], r["message"], int(r["offset"]))
            except Exception as exc:  # poison message -> DLQ, keep going
                poisoned.append(
                    (
                        r["event"],
                        json.dumps(
                            {
                                "src_topic": topic.name,
                                "src_offset": int(r["offset"]),
                                "message": r["message"],
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
        if name is not None and rows:
            topic.ack(name, int(rows[-1]["offset"]))

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
    durable names), plus the ``_subscribers`` upsert for introspection,
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
