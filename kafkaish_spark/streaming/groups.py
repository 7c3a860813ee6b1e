"""Consumer groups over sharded topics — the Kafka consumer-group
analog for the shard-into-N-topics pattern (SURVEY.md §4 / SCALE.md §1).

The reference's subscription model (/root/reference/src/topic.js:92-116)
is one cursor per subscriber over one topic; it has no way to SPLIT a
topic's traffic across cooperating workers.  Kafka solves that with
partition assignment inside a named group.  Here the unit of
parallelism is the shard topic (``base.N``), and a group of M members
statically partitions the sorted shard list by index modulo M — the
deterministic "range assignor": every member computes its own
assignment from (shard list, member id, group size) with NO coordinator
and no rebalance protocol (Kafka's static membership, taken further:
membership is a constructor argument, not a negotiation).

Delivery contract per member = the durable ``subscribe_batches``
contract per owned shard: per-shard total order by offset,
at-least-once (micro-batch checkpoint commit), a per-shard JSON ack
file in each shard's ``_subscribers`` directory under the GROUP name
(``Topic.ack``; offsets belong to the group, not the member — Kafka's
contract).
Cross-shard order is NOT promised — exactly the multi-partition Kafka
relaxation the sharded-topic property test pins.

Scale: each member is one streaming query over a union of its shards'
file sources; backlog drains are bounded by ``max_files_per_trigger``
per source, consumer logic runs as Spark jobs on the batch DataFrame
(never a driver collect), and the per-batch ack bookkeeping aggregates
``max(offset) per shard`` — a handful of rows regardless of batch size.
"""

from __future__ import annotations

import os
import re
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkaish_spark.sources.topic_log import Engine
from kafkaish_spark.streaming.subscribe import Subscription, _start_offset_for


def shard_names(engine: Engine, base: str) -> list[str]:
    """The shard topics of ``base``, sorted by shard index — the stable
    order every member's assignment arithmetic runs over."""
    rx = re.compile(rf"{re.escape(base)}\.(\d+)")
    matched = []
    for name in engine.topics():
        m = rx.fullmatch(name)
        if m:
            matched.append((int(m.group(1)), name))
    return [name for _, name in sorted(matched)]


def assignment(shards: list[str], member: int, n_members: int) -> list[str]:
    """Static modulo assignment: shard i -> member (i mod n_members).
    Deterministic from shared inputs, so members never need to talk;
    members beyond the shard count idle (Kafka's over-provisioned
    group behavior).  Single source of truth shared with the batch
    ConsumerGroup (sources/consumer_group.py) so batch and streaming
    members of one logical group can never diverge on who owns a
    shard."""
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

    Returns a Subscription over ONE streaming query reading the union
    of this member's shards (each row carries its ``topic``), or None
    if the member's assignment is empty (more members than shards —
    the member idles, exactly like an over-provisioned Kafka group).

    ``batch_fn(batch_df, batch_id)`` runs per micro-batch BEFORE the
    ack, with columns (topic, offset, ts, event, message); a throwing
    batch_fn leaves the batch uncommitted for redelivery on resume
    (at-least-once).  replay=False starts each shard at its tail AT
    FIRST SUBSCRIBE — the start offset is persisted per (group, shard)
    (NOT per member: Kafka's contract, and the batch ConsumerGroup's —
    offsets belong to the group), so a member that resubscribes after
    downtime, or a DIFFERENT member that inherits the shard after a
    resize, resumes from the group's pinned start and still receives
    everything published in between (recomputing the tail at
    resubscribe would silently skip that window).

    Resizing: the checkpoint path carries the topology (n_members), so
    a resize starts fresh streaming checkpoints; per-shard delivery
    then resumes from ``max(group start, last group ack)`` — acked
    messages are not redelivered across a topology change, unacked
    ones are (at-least-once preserved).

    ``prev_members`` switches the assignor to the cooperative-sticky
    map (``sticky_assignment``) against that previous topology —
    shards stay with surviving members wherever balance allows, so a
    resize revokes the fewest streams.  Every member of the new
    topology must pass the SAME prev_members (it is part of the
    checkpoint key) or assignments would overlap."""
    shards = shard_names(engine, base)
    if prev_members is not None:
        mine = sticky_assignment(shards, member, prev_members, n_members)
    else:
        mine = assignment(shards, member, n_members)
    if not mine:
        return None
    checkpoint = os.path.join(
        engine.root,
        "_groups",
        base,
        group,
        f"n{n_members}"
        if prev_members is None
        else f"n{n_members}s{prev_members}",
        f"member_{member}",
        "checkpoint",
    )
    fresh_topology = not os.path.exists(checkpoint)
    frames = []
    for shard in mine:
        topic = engine.prepare_topic(shard)
        s = topic.stream(max_files_per_trigger=max_files_per_trigger)
        start = _start_offset_for(topic, group, replay)
        if fresh_topology:
            # inherit progress from any previous topology via the
            # group-keyed acks (never from member-keyed state)
            start = max(start, topic.last_ack(group) or 0)
        if start:
            s = s.filter(F.col("offset") > F.lit(int(start)))
        frames.append(
            s.select(
                F.lit(shard).alias("topic"), "offset", "ts", "event", "message"
            )
        )
    stream = frames[0]
    for f in frames[1:]:
        stream = stream.unionByName(f)

    def deliver(batch_df: DataFrame, batch_id: int) -> None:
        if batch_fn is not None:
            batch_fn(batch_df, batch_id)
        # Ack bookkeeping: one max(offset) row per shard in this batch —
        # constant-size aggregate, never a row collect.
        heads = (
            batch_df.groupBy("topic")
            .agg(F.max("offset").alias("head"))
            .collect()
        )
        for row in heads:
            engine.prepare_topic(row["topic"]).ack(group, int(row["head"]))

    writer = (
        stream.writeStream.foreachBatch(deliver)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    return Subscription(query, f"{group}.m{member}", checkpoint)


def sticky_assignment(
    shards: list[str], member: int, n_old: int, n_new: int
) -> list[str]:
    """Cooperative-sticky rebalance (the Kafka
    CooperativeStickyAssignor analog): moving from an ``n_old``-member
    modulo topology to ``n_new`` members, keep every shard with its
    old owner unless balance forces a move, and hand only the excess
    to the members with spare capacity.  Deterministic from shared
    inputs — like ``assignment``, members compute it independently and
    can never disagree — and movement-minimal under the balance
    constraint (sizes differ by at most 1), so a resize revokes the
    fewest possible shards (each revocation = one shard's worth of
    re-fetched state somewhere).

    Offsets are keyed (group, shard), so WHO owns a shard after the
    move is delivery-irrelevant; what stickiness buys is locality —
    warm file-listing caches and in-flight work on the surviving
    members are not thrown away wholesale the way a pure modulo
    re-map does (resizing 4 -> 5 members re-maps ~80% of shards under
    modulo; sticky moves exactly the ~20% it must).

    This function models the PREVIOUS topology as the modulo map — the
    single-hop case.  When the previous topology was itself sticky
    (a chained resize), the actual owners differ from ``i % n_old``;
    pass the real ownership through ``sticky_assignment_from`` instead
    (the batch ConsumerGroup does this automatically by carrying its
    full owner map across rebalances)."""
    if not 0 <= member < n_new:
        raise ValueError(f"member must be in [0, {n_new}), got {member}")
    prev_owner = [i % n_old for i in range(len(shards))]
    return sticky_assignment_from(shards, member, prev_owner, n_new)


def sticky_assignment_from(
    shards: list[str], member: int, prev_owner: list[int], n_new: int
) -> list[str]:
    """Sticky rebalance against an EXPLICIT previous ownership map
    (``prev_owner[i]`` = member that owned shard i before the resize).
    This is the general form that stays movement-minimal across CHAINED
    sticky resizes: modeling the old topology as modulo (as the
    single-hop ``sticky_assignment`` does) silently degrades the
    minimal-movement property after a second resize, because the
    modulo map is no longer who actually owns what (round-3 ADVICE
    item 1).  Same determinism contract: every member computes the map
    independently from shared inputs; sizes differ by at most 1; a
    shard moves only when its old owner is gone or over capacity."""
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
