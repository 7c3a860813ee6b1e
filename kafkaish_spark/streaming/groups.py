"""Consumer groups over sharded topics — the Kafka consumer-group
analog for the shard-into-N-topics pattern (SURVEY.md §4 / SCALE.md §1).

The reference (src/topic.js:92-116) has one cursor per subscriber and
no way to SPLIT a topic's traffic across cooperating workers.  Here the
unit of parallelism is the shard topic (``base.N``): a group of M
members partitions the shard list, in ``shard_key`` order, by index
modulo M (or by the sticky map after a resize).  Every member computes
its own assignment from shared inputs, with no coordinator and no
rebalance protocol.  The batch ``ConsumerGroup``
(sources/consumer_group.py) uses the same order and assignors.

A streaming member is one ``subscribe_batches`` follower per owned
shard (streaming/subscribe.py) with the GROUP as its durable name:
per-shard total order by offset, at-least-once, and the per-shard JSON
ack file as the only position, so any topology resumes from the
group's acks (offsets belong to the group, not the member — Kafka's
contract).  Cross-shard order is NOT promised, as across Kafka
partitions.  ``batch_fn`` runs as Spark jobs on each batch's lazy
DataFrame, one call at a time per member; acking costs no Spark action.
"""

from __future__ import annotations

import re
import threading
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkaish_spark.sources.topic_log import Engine
from kafkaish_spark.streaming.subscribe import (
    Subscription,
    _Follower,
    _frame_delivery,
    _Query,
)


def shard_key(name: str) -> tuple[str, int]:
    """The sort key of a shard topic: ``base.N`` sorts by (base, N), so
    ``b.10`` follows ``b.9``; a name without a numeric suffix sorts by
    itself.  The one order every assignment runs over."""
    base, _, index = name.rpartition(".")
    return (base, int(index)) if base and index.isdigit() else (name, -1)


def shard_names(engine: Engine, base: str) -> list[str]:
    """The shard topics of ``base``, in ``shard_key`` order."""
    rx = re.compile(rf"{re.escape(base)}\.\d+")
    return sorted((t for t in engine.topics() if rx.fullmatch(t)), key=shard_key)


def assignment(shards: list[str], member: int, n_members: int) -> list[str]:
    """Static modulo assignment: shard i -> member (i mod n_members),
    the one assignor of batch and streaming members.  Members beyond
    the shard count idle (Kafka's over-provisioned group behavior)."""
    if not 0 <= member < n_members:
        raise ValueError(f"member must be in [0, {n_members}), got {member}")
    return [s for i, s in enumerate(shards) if i % n_members == member]


def subscribe_group(
    engine: Engine,
    base: str,
    group: str,
    member: int,
    n_members: int,
    batch_fn: Callable[[DataFrame, int], None] | None = None,
    replay: bool = True,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    prev_members: int | None = None,
) -> Subscription | None:
    """Join consumer group ``group`` as ``member`` of ``n_members``
    over the shards of ``base``.

    Returns a Subscription over one follower per owned shard, or None
    if the member's assignment is empty (more members than shards —
    the member idles, exactly like an over-provisioned Kafka group).

    ``batch_fn(batch_df, batch_id)`` runs per shard batch BEFORE that
    shard's ack, with columns (topic, offset, ts, event, message), one
    call at a time per member; ``batch_id`` numbers the member's batches
    from 0 on each subscribe (``offset`` is the dedup key).  A throwing
    batch_fn stops the member with the batch unacked, for redelivery on
    resume (at-least-once).

    Each shard resumes from ``max(group start, last group ack)``
    whatever the topology, so a resize redelivers no acked message and
    loses no unacked one.  replay=False pins the group's start on a
    shard at its tail at FIRST subscribe, per (group, shard): a member
    that resubscribes after downtime, or inherits the shard after a
    resize, still receives everything published in between.

    ``prev_members`` switches the assignor to ``sticky_assignment``
    against that previous modulo topology.  Every member of the new
    topology must pass the SAME prev_members or assignments overlap (a
    shard followed twice in one process raises)."""
    shards = shard_names(engine, base)
    if prev_members is not None:
        mine = sticky_assignment(shards, member, prev_members, n_members)
    else:
        mine = assignment(shards, member, n_members)
    if not mine:
        return None
    query = _Query()
    one_at_a_time = threading.Lock()

    def shard_fn(shard: str):
        def run(batch_df: DataFrame, batch_id: int) -> None:
            if batch_fn is None:
                return
            with one_at_a_time:
                batch_fn(
                    batch_df.select(
                        F.lit(shard).alias("topic"), "offset", "ts", "event", "message"
                    ),
                    batch_id,
                )

        return run

    try:
        for shard in mine:
            topic = engine.prepare_topic(shard)
            deliver = _frame_delivery(topic, shard_fn(shard), None)
            _Follower(
                query, topic, deliver, group, replay, available_now, None,
                max_files_per_trigger,
            )
    except BaseException:
        query.stop()  # a shard's follower could not start
        raise
    return Subscription(query, f"{group}.m{member}")


def sticky_assignment(
    shards: list[str], member: int, n_old: int, n_new: int
) -> list[str]:
    """Cooperative-sticky rebalance (the Kafka
    CooperativeStickyAssignor analog) from an ``n_old``-member modulo
    topology to ``n_new`` members: every shard stays with its old owner
    unless balance (sizes differ by at most 1) forces a move.  Offsets
    are keyed (group, shard), so stickiness only buys locality: resizing
    4 -> 5 members re-maps ~80% of shards under modulo, sticky moves the
    ~20% it must.  After a chained resize the owners are no longer the
    modulo map: use ``sticky_assignment_from`` with the real owners
    (the batch ConsumerGroup does)."""
    prev_owner = [i % n_old for i in range(len(shards))]
    return sticky_assignment_from(shards, member, prev_owner, n_new)


def sticky_assignment_from(
    shards: list[str], member: int, prev_owner: list[int], n_new: int
) -> list[str]:
    """Sticky rebalance against an explicit previous ownership map
    (``prev_owner[i]`` = member that owned shard i), so chained resizes
    stay movement-minimal.  Deterministic from shared inputs; sizes
    differ by at most 1; a shard moves only when its old owner is gone
    or over capacity."""
    if not 0 <= member < n_new:
        raise ValueError(f"member must be in [0, {n_new}), got {member}")
    n_shards = len(shards)
    if len(prev_owner) != n_shards:
        raise ValueError(
            f"prev_owner covers {len(prev_owner)} shards, expected {n_shards}"
        )
    base, extra = divmod(n_shards, n_new)
    cap = {m: base + (1 if m < extra else 0) for m in range(n_new)}
    owner: dict[int, int] = {}
    deferred: list[int] = []
    for i in range(n_shards):
        old = prev_owner[i]
        if 0 <= old < n_new and cap[old] > 0:
            owner[i] = old
            cap[old] -= 1
        else:
            deferred.append(i)
    free = [m for m in range(n_new) for _ in range(cap[m])]
    for i, m in zip(deferred, sorted(free)):
        owner[i] = m
    return [s for i, s in enumerate(shards) if owner[i] == member]
