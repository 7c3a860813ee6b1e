"""Kafka-style consumer groups over sharded topic logs: the batch
poll/commit API.

The reference delivers each topic to every named subscriber
independently (src/topic.js:90-117); it has no GROUP of cooperating
consumers splitting a topic.  Here shards (``base.N`` topics) play
Kafka's partitions.  ``ConsumerGroup`` assigns them with the assignors
of ``streaming.groups`` over the same ``shard_key`` order, and keeps
the group's position per (group, shard) in the JSON ack file every
subscriber uses (``Topic.ack``), so batch and streaming members of one
group agree on ownership and position, and a rebalance never loses or
redelivers acknowledged messages.

Delivery is at-least-once within a snapshot window: ``poll`` reads each
shard after the group's position (``Topic.resume_offset``), bounded at
the shard's tail observed at poll time, as ONE DataFrame (offset-range
scans pushed to parquet row groups); ``commit`` acknowledges exactly
the bounds the caller hands back — messages published mid-poll arrive
next poll.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from kafkaish_spark.sources.topic_log import ENVELOPE, Engine
from kafkaish_spark.streaming.groups import (
    assignment,
    shard_key,
    sticky_assignment_from,
)

# poll's frame: the envelope behind the shard it came from
_POLL_SCHEMA = StructType([StructField("topic", StringType(), False), *ENVELOPE.fields])


class ConsumerGroup:
    """Cooperative consumption of a set of shard topics.

    ``shards`` is the full shard-topic name list (every member must pass
    the same list — it is the group's "topic"); ``n_members`` the group
    size.  Membership is positional (member ids ``0..n_members-1``),
    mirroring Kafka's member-to-partition assignment after a rebalance.
    """

    def __init__(self, engine: Engine, group: str, shards: list[str], n_members: int):
        if n_members < 1:
            raise ValueError("n_members must be >= 1")
        if not shards:
            raise ValueError("a consumer group needs at least one shard topic")
        self.engine = engine
        self.group = group
        self.shards = sorted(shards, key=shard_key)
        self.n_members = n_members
        # set by rebalance(sticky=True): the ACTUAL previous ownership
        # map (shard index -> old member) the sticky assignor minimizes
        # movement against.  Carrying real owners (not the old member
        # COUNT) keeps stickiness exact across chained sticky resizes,
        # where the old topology is no longer the modulo map.
        self._prev_owner: list[int] | None = None

    # -- assignment ----------------------------------------------------

    def assignment(self) -> dict[int, list[str]]:
        """member id -> shard names; deterministic, disjoint, complete
        (modulo over the shard list, or the sticky map after
        rebalance(sticky=True))."""
        return {m: self.assigned(m) for m in range(self.n_members)}

    def assigned(self, member_id: int) -> list[str]:
        if not 0 <= member_id < self.n_members:
            raise ValueError(
                f"member_id {member_id} out of range for group of {self.n_members}"
            )
        if self._prev_owner is not None:
            return sticky_assignment_from(
                self.shards, member_id, self._prev_owner, self.n_members
            )
        return assignment(self.shards, member_id, self.n_members)

    def _owner_map(self) -> list[int]:
        """shard index -> owning member under THIS view's assignment
        (modulo or sticky alike) — what the next sticky rebalance
        minimizes movement against."""
        by_shard = {
            s: m for m, names in self.assignment().items() for s in names
        }
        return [by_shard[s] for s in self.shards]

    # -- consumption ---------------------------------------------------

    def poll(self, member_id: int) -> tuple[DataFrame, dict[str, int]]:
        """Unread messages on the member's shards, plus the per-shard
        snapshot bounds to hand to ``commit`` after processing.

        The frame carries a ``topic`` column (which shard each row came
        from) and is bounded at each shard's tail AS OF this call, so
        processing + commit covers a well-defined window even while
        producers keep publishing.  Each shard is read after the
        group's position, ``Topic.resume_offset(group)``, the one a
        streaming member resumes from; poll writes no start marker.
        """
        frames = []
        bounds: dict[str, int] = {}
        for name in self.assigned(member_id):
            topic = self.engine.prepare_topic(name)
            since = topic.resume_offset(self.group)
            upto = topic.latest()
            bounds[name] = upto
            if upto > since:
                frames.append(
                    topic.replay(since=since, until=upto).select(
                        F.lit(name).alias("topic"), "offset", "ts", "event", "message"
                    )
                )
        if not frames:
            return self.engine.spark.createDataFrame([], _POLL_SCHEMA), bounds
        return functools.reduce(DataFrame.unionByName, frames), bounds

    def commit(self, member_id: int, bounds: dict[str, int]) -> None:
        """Acknowledge a processed poll window: advance the group's
        durable offset on each of the member's shards (monotonic — a
        stale commit after a rebalance can't move offsets backwards)."""
        assigned = set(self.assigned(member_id))
        for name, offset in bounds.items():
            if name not in assigned:
                raise ValueError(
                    f"shard {name!r} is not assigned to member {member_id}"
                )
            self.engine.prepare_topic(name).ack(self.group, offset)

    # -- rebalancing ---------------------------------------------------

    def rebalance(self, n_members: int, sticky: bool = False) -> "ConsumerGroup":
        """New group view with a different member count; offsets are
        keyed (group, shard), so the new members resume exactly where
        the group left off.  ``sticky=True`` keeps shards with their
        current owners wherever balance allows
        (``sticky_assignment_from`` against this view's actual owner
        map, so chained resizes stay movement-minimal); the default is
        the stateless modulo map."""
        g = ConsumerGroup(self.engine, self.group, self.shards, n_members)
        if sticky:
            g._prev_owner = self._owner_map()
        return g

    def lag(self) -> DataFrame:
        """Per-shard lag of this group's position (the offset ``poll``
        reads after) vs each shard's tail."""
        rows = []
        for name in self.shards:
            topic = self.engine.prepare_topic(name)
            at = topic.resume_offset(self.group)
            rows.append((name, at, topic.latest() - at))
        return self.engine.spark.createDataFrame(
            rows, "topic string, last_offset long, lag long"
        )
