"""Topic-to-topic pipelines (the Kafka-Streams shape).

The reference can only move data topic->subscriber; re-publishing a
transformed stream means user code consuming and calling publish by
hand.  Here a pipe is one more follower of the source topic
(``streaming.subscribe``): each batch after its cursor becomes a lazy
frame with ``Topic.stream()``'s columns, ``transform`` maps it, and ONE
``publish_transaction`` appends the result to the sink with fresh
contiguous offsets AND acks the batch's end offset on the source — the
sink's output and the source position commit together, as in the
Structured Streaming paper's end-to-end exactly-once.

Delivery is exactly-once end to end.  A crash before the transaction's
commit point rolls it back: the sink is untouched, the position too,
and the batch is planned again.  A crash after it rolls forward: the
sink rows and the position both land.  ``pipe()`` resolves crashed
transactions before its follower reads the position, so a batch
rolled forward is never published a second time; rows another writer
appended to the sink meanwhile keep their offsets, and the batch lands
after them.

The position is the source's ack file under a durable name scoped by
the sink, ``<name>@<sink>`` (``Subscription.name``): ``(sink, name)``
is a pipe's identity, so ``pipe(A, C)`` and ``pipe(A, D)`` never share
a position, and a new pipe starts at the source's first offset.  A
batch is bounded to ``_PIPE_MAX_BYTES`` of source segments, since a
transaction stages each payload in one task, so a backlog drains in
bounded memory.  ``transform``
runs per batch, so it must be stateless; a stateful topic->topic flow
is a user ``Topic.stream()`` query into ``writeStream.format(
"kafkaish")``, the exactly-once epoch sink of ``sources.pyds``.  Hops
compose into DAGs, each with its own follower and position.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame

from kafkaish_spark.sources.topic_log import Engine, Topic, writer_lock
from kafkaish_spark.sources.transactions import publish_transaction, recover_transactions
from kafkaish_spark.streaming.subscribe import (
    Subscription,
    _batch_rows,
    _Follower,
    _frame_delivery,
    _Query,
    _Vanished,
)

# A backlog drains in batches of this many source bytes, each sorted
# and staged in one task.  Draining a 2.6 GB topic on 4 vCPUs took
# 52 s at 256 MiB against 66 s at subscribe()'s 64 MiB; 512 MiB took
# no less (medians of 3 runs).
_PIPE_MAX_BYTES = 256 << 20


def pipe(
    source: Topic,
    sink: Topic,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    *,
    name: str | None = None,
    event: str | None = None,
    available_now: bool = True,
) -> Subscription:
    """Stream ``source`` into ``sink``, optionally transforming each
    batch's envelope frame in between.

    ``transform`` receives a batch's envelope DataFrame (offset/ts/
    event/message, only ``event`` rows when given) and must return a
    frame with at least (event, message) — same contract as
    ``Topic.publish_df``; it sees one batch at a time and keeps no
    state across batches.  The batch arrives in offset order, in one
    partition, so the sink keeps the source's order through a
    ``transform`` that keeps row order (select, filter, withColumn).
    ``available_now=True`` drains up to the source's tail at call time,
    then stops; False follows the source.

    Raises ``ValueError`` for a date-partitioned sink, for a source and
    sink under different engine roots, and for a sink holding the
    Spark checkpoint of a pipe of this name from an earlier version
    while the source has no position for it."""
    if name is None:
        # default includes the source so pipe(A, C) and pipe(B, C)
        # never collide on one position
        name = f"pipe_from_{source.name}"
    durable = f"{name}@{sink.name}"
    root = os.path.dirname(os.path.abspath(sink.root))
    if os.path.dirname(os.path.abspath(source.root)) != root:
        raise ValueError(f"pipe {name!r}: source and sink are under different engine roots")
    if sink.partitioned:
        raise ValueError(f"pipe {name!r}: sink {sink.name!r} is date-partitioned")
    old = os.path.join(sink.root, "_pipelines", name, "checkpoint")
    positions = (source._ack_path(durable), source._start_path(durable))
    if os.path.isdir(old) and not any(map(os.path.exists, positions)):
        raise ValueError(
            f"pipe {name!r}: {old} is an earlier pipe's checkpoint and {source.name!r} "
            f"has no position for it: run source.ack({durable!r}, N) with N the last "
            f"source offset that pipe published, or remove {old} to republish the source"
        )
    engine = Engine(sink.spark, root)
    # a crashed batch past its commit point lands, rows and ack, before
    # the follower reads its position
    recover_transactions(engine)
    end = 0  # the planned end offset of the batch in delivery

    def commit(df: DataFrame, _batch_id: int) -> None:
        # the frame's rows come in no particular order, and the
        # transaction stages one partition anyway: sort it there
        out = df.coalesce(1).sortWithinPartitions("offset")
        if transform is not None:
            out = transform(out)
        publish_transaction(engine, [(sink.name, out)], acks=[(source.name, durable, end)])

    frames = _frame_delivery(source, commit, event)

    def deliver(reads: list[tuple], batch_id: int) -> int:
        nonlocal end
        end = reads[-1][2]
        try:
            rows = frames(reads, batch_id)
        except _Vanished:
            # a compaction swapped a planned segment while the batch's
            # transaction failed; past its commit point recovery lands
            # the batch, and planning it again would publish it twice
            recover_transactions(engine)
            if (source.last_ack(durable) or 0) < end:
                raise
            rows = _batch_rows(reads)
        if sink.retention_bytes is not None:
            with writer_lock(sink.root, what="retention"):
                sink.enforce_retention(sink.retention_bytes)
        return rows

    query = _Query()
    # replay=True: a new pipe starts at the source's first offset
    _Follower(query, source, deliver, durable, True, available_now, _PIPE_MAX_BYTES, None)
    return Subscription(query, durable)
