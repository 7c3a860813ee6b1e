"""Consumer-group semantics over sharded topics (streaming/groups.py):
static shard assignment, disjoint+complete delivery, per-shard order,
checkpointed resume, idle over-provisioned members."""

import json


def _drain(engine, base, group, member, n_members, **kw):
    """Run one member to backlog exhaustion, returning its delivered
    rows in (batch, topic, offset) order."""
    from kafkaish_spark.streaming.groups import subscribe_group

    got = []

    def batch_fn(df, _bid):
        got.extend(
            (r["topic"], int(r["offset"]), r["message"])
            for r in sorted(
                df.collect(), key=lambda r: (r["topic"], r["offset"])
            )
        )

    sub = subscribe_group(
        engine, base, group, member, n_members, batch_fn=batch_fn, **kw
    )
    if sub is not None:
        sub.await_termination(120)
    return sub, got


def test_group_splits_shards_disjoint_and_complete(engine):
    published = {}
    for i in range(4):
        topic = engine.prepare_topic(f"logs.{i}")
        rows = topic.publish_batch(
            [("ev", {"shard": i, "n": j}) for j in range(5)]
        )
        published[f"logs.{i}"] = len(rows)

    _, got0 = _drain(engine, "logs", "g1", 0, 2)
    _, got1 = _drain(engine, "logs", "g1", 1, 2)

    topics0 = {t for t, _, _ in got0}
    topics1 = {t for t, _, _ in got1}
    # modulo assignment over the sorted shard list
    assert topics0 == {"logs.0", "logs.2"}
    assert topics1 == {"logs.1", "logs.3"}
    # complete: every published message delivered to exactly one member
    per_topic: dict = {}
    for t, off, _ in got0 + got1:
        per_topic.setdefault(t, []).append(off)
    assert {t: len(v) for t, v in per_topic.items()} == published
    # per-shard order: offsets arrive monotonically within each shard
    for t, offs in per_topic.items():
        assert offs == sorted(offs), t


def test_overprovisioned_member_idles(engine):
    for i in range(2):
        engine.prepare_topic(f"few.{i}").publish_batch([("e", {"i": i})])
    sub, got = _drain(engine, "few", "g2", 4, 5)
    assert sub is None and got == []


def test_group_member_resumes_from_checkpoint(engine):
    for i in range(2):
        engine.prepare_topic(f"rs.{i}").publish_batch(
            [("e", {"round": 1, "n": j}) for j in range(3)]
        )
    _, first = _drain(engine, "rs", "g3", 0, 1)
    assert len(first) == 6  # sole member owns both shards

    engine.prepare_topic("rs.1").publish_batch([("e", {"round": 2})])
    _, second = _drain(engine, "rs", "g3", 0, 1)
    msgs = [json.loads(m)["round"] for _, _, m in second]
    assert msgs == [2], second  # only the new message, no redelivery


def test_group_ack_rows_per_shard(engine):
    for i in range(2):
        engine.prepare_topic(f"ak.{i}").publish_batch(
            [("e", {"n": j}) for j in range(4)]
        )
    _drain(engine, "ak", "g4", 0, 1)
    for i in range(2):
        topic = engine.prepare_topic(f"ak.{i}")
        assert topic.last_ack("g4") == 4  # acks are GROUP-keyed (Kafka contract)


def test_redact_removes_only_matches(engine):
    """GDPR redaction: matching rows gone, surviving offsets unchanged,
    subsequent publishes continue after the old tail."""
    import json as _json

    topic = engine.prepare_topic("gdpr")
    rows = topic.publish_batch(
        [("e", {"user": f"u{i % 3}", "n": i}) for i in range(9)]
    )
    tail = max(r["offset"] for r in rows)
    before = {
        int(r["offset"]): _json.loads(r["message"])["user"]
        for r in topic.log().collect()
    }
    removed = topic.redact("get_json_object(message, '$.user') = 'u1'")
    assert removed == 3
    after = {
        int(r["offset"]): _json.loads(r["message"])["user"]
        for r in topic.log().collect()
    }
    assert after == {o: u for o, u in before.items() if u != "u1"}
    # no-match predicate is a no-op
    assert topic.redact("get_json_object(message, '$.user') = 'nope'") == 0
    # offsets keep growing after the old tail
    nxt = topic.publish("e", {"user": "u9"})
    assert int(nxt["offset"]) == tail + 1


def test_redact_rolls_back_on_broken_invariant(engine, monkeypatch):
    """If validation of the staged rewrite fails, the log is untouched."""
    topic = engine.prepare_topic("gdpr_rb")
    topic.publish_batch([("e", {"n": i}) for i in range(4)])
    import kafkaish_spark.sources.topic_log as tl

    orig = tl.Topic._rewrite

    def broken(self, records, frame, target_files, validate):
        return orig(
            self,
            records,
            frame.limit(0),  # write an empty log -> validate must fail
            target_files,
            validate,
        )

    monkeypatch.setattr(tl.Topic, "_rewrite", broken)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="redaction invariant"):
        topic.redact("get_json_object(message, '$.n') = '1'")
    monkeypatch.undo()
    assert topic.log().count() == 4


def test_group_replay_false_does_not_lose_downtime_messages(engine):
    """replay=False pins the start offset at FIRST subscribe: messages
    published while a member is down must still be delivered when it
    resubscribes (the recompute-tail-on-resubscribe bug would skip
    them)."""
    topic = engine.prepare_topic("dt.0")
    topic.publish_batch([("ev", {"n": j}) for j in range(3)])  # pre-history

    _, got1 = _drain(engine, "dt", "gdt", 0, 1, replay=False)
    assert got1 == []  # from-now semantics: pre-history skipped

    # member is down; new messages arrive
    topic.publish_batch([("ev", {"n": j}) for j in range(3, 6)])

    _, got2 = _drain(engine, "dt", "gdt", 0, 1, replay=False)
    assert [json.loads(m)["n"] for _, _, m in got2] == [3, 4, 5]


def test_redact_keeps_rows_where_predicate_is_null(engine):
    """The docstring's own example predicate evaluates to NULL on
    payloads without the field; those rows must survive and redact
    must not spuriously abort."""
    topic = engine.prepare_topic("t_redact_null")
    topic.publish("e", {"user": "u-42", "x": 1})
    topic.publish("e", {"user": "keep", "x": 2})
    topic.publish("e", {"n": 3})  # no 'user' field -> predicate NULL

    removed = topic.redact("get_json_object(message, '$.user') = 'u-42'")
    assert removed == 1
    left = sorted(r["message"] for r in topic.log().collect())
    assert len(left) == 2
    assert not any("u-42" in m for m in left)
    assert any('"n": 3' in m or '"n":3' in m for m in left)


def test_group_resize_does_not_lose_unacked_messages(engine):
    """Shrinking the group re-routes shards to surviving members; a
    message published after the old member's last ack must be
    delivered to whoever owns the shard in the new topology (the
    member-keyed-offset bug silently skipped it)."""
    for i in range(2):
        engine.prepare_topic(f"rz.{i}").publish_batch(
            [("e", {"phase": 1, "n": j}) for j in range(2)]
        )
    # topology A: 2 members, shard rz.1 owned by member 1
    _, got_a = _drain(engine, "rz", "grz", 1, 2, replay=True)
    assert len(got_a) == 2  # rz.1's backlog

    # member 1 is gone; new messages land on rz.1
    engine.prepare_topic("rz.1").publish_batch([("e", {"phase": 2})])

    # topology B: 1 member owns everything
    _, got_b = _drain(engine, "rz", "grz", 0, 1, replay=True)
    msgs = sorted(
        (tpc, json.loads(m)["phase"]) for tpc, _, m in got_b
    )
    # rz.0 backlog (never consumed: member 0 drained it in topo A? no —
    # member 0 in topo A owned rz.0 but never ran) + the phase-2 message
    assert ("rz.1", 2) in msgs  # the post-resize message IS delivered
    assert all(p != 1 or tpc == "rz.0" for tpc, p in msgs)  # rz.1 phase-1 acked, not redelivered


def test_member_joins_mid_drain_moves_shards_without_double_delivery(engine):
    """The Kafka rebalance analog for the batch API
    (sources/consumer_group.py): a member JOINS while the group is
    mid-drain — the old sole member has polled everything but committed
    only part of its window.  After the grow, ownership of the
    uncommitted shards moves; the committed shards must NOT be
    redelivered to anyone, the uncommitted backlog must be delivered to
    exactly one new owner, and the two members' deliveries must be
    disjoint."""
    from kafkaish_spark.sources.consumer_group import ConsumerGroup

    shards = [f"jn.{i}" for i in range(4)]
    for i, name in enumerate(shards):
        engine.prepare_topic(name).publish_batch(
            [("e", {"shard": i, "n": j}) for j in range(3)]
        )

    solo = ConsumerGroup(engine, "gjoin", shards, 1)
    df, bounds = solo.poll(0)
    assert df.count() == 12  # sole member sees the full backlog
    # mid-drain: only half the window is processed+committed before the
    # join (commit accepts a partial bounds dict by design)
    solo.commit(0, {k: bounds[k] for k in ("jn.0", "jn.1")})

    grown = solo.rebalance(2)
    assign = grown.assignment()
    # disjoint + complete ownership after the join
    owned = [s for m in sorted(assign) for s in assign[m]]
    assert sorted(owned) == shards
    assert not set(assign[0]) & set(assign[1])

    delivered = {}  # (topic, offset) -> member
    for m in (0, 1):
        df_m, bounds_m = grown.poll(m)
        for r in df_m.collect():
            key = (r["topic"], int(r["offset"]))
            assert key not in delivered, f"double delivery of {key}"
            delivered[key] = m
        grown.commit(m, bounds_m)

    topics_delivered = {t for t, _ in delivered}
    # committed shards stay committed across the rebalance...
    assert topics_delivered == {"jn.2", "jn.3"}
    # ...and the moved backlog arrives complete at its single new owner
    per_shard = {}
    for (t, _off), m in delivered.items():
        per_shard.setdefault(t, set()).add(m)
    assert all(len(ms) == 1 for ms in per_shard.values())
    assert sum(1 for t, _ in delivered if t == "jn.2") == 3
    assert sum(1 for t, _ in delivered if t == "jn.3") == 3

    # steady state: nothing left anywhere
    for m in (0, 1):
        df_m, _ = grown.poll(m)
        assert df_m.count() == 0


def test_sticky_assignment_properties():
    """For every (n_shards, n_old, n_new) combo: disjoint + complete,
    balanced within 1, and movement-minimal — a shard moves only when
    its old owner left or is at capacity."""
    from kafkaish_spark.streaming.groups import assignment, sticky_assignment

    for n_shards in (1, 4, 7, 12, 32):
        shards = [f"s.{i:02d}" for i in range(n_shards)]
        for n_old in (1, 2, 3, 5):
            old = {s: i % n_old for i, s in enumerate(shards)}
            for n_new in (1, 2, 3, 4, 6):
                parts = [
                    sticky_assignment(shards, m, n_old, n_new)
                    for m in range(n_new)
                ]
                flat = [s for p in parts for s in p]
                assert sorted(flat) == shards, (n_shards, n_old, n_new)
                sizes = [len(p) for p in parts]
                assert max(sizes) - min(sizes) <= 1
                # movement minimality: every member that survived keeps
                # at least min(old_load, new_capacity) of its shards
                base, extra = divmod(n_shards, n_new)
                for m in range(min(n_old, n_new)):
                    kept = sum(1 for s in parts[m] if old[s] == m)
                    old_load = sum(1 for s in shards if old[s] == m)
                    capacity = base + (1 if m < extra else 0)
                    assert kept == min(old_load, capacity), (
                        n_shards, n_old, n_new, m)
                # modulo baseline for comparison: sticky never moves
                # MORE shards than the stateless re-map
                moved_sticky = sum(
                    1 for m in range(n_new) for s in parts[m] if old[s] != m
                )
                moved_mod = sum(
                    1
                    for m in range(n_new)
                    for s in assignment(shards, m, n_new)
                    if old[s] != m
                )
                assert moved_sticky <= moved_mod


def test_chained_sticky_rebalance_tracks_actual_owners():
    """sticky-on-sticky (round-3 ADVICE item 1): the second resize must
    minimize movement against the ACTUAL owners produced by the first
    sticky resize, not against the stale modulo topology.  For every
    chain, the composed assignment stays disjoint/complete/balanced and
    each surviving member keeps min(current_load, new_capacity) of its
    CURRENT shards."""
    from kafkaish_spark.streaming.groups import (
        sticky_assignment,
        sticky_assignment_from,
    )

    for n_shards in (4, 7, 12, 32):
        shards = [f"s.{i:02d}" for i in range(n_shards)]
        for n0, n1, n2 in [(4, 3, 5), (2, 5, 3), (5, 4, 2), (3, 4, 6)]:
            # hop 1: modulo n0 -> sticky n1 (the single-hop form)
            hop1 = [sticky_assignment(shards, m, n0, n1) for m in range(n1)]
            own1 = {s: m for m, p in enumerate(hop1) for s in p}
            # hop 2: sticky n1 -> n2 against the REAL hop-1 owners
            prev = [own1[s] for s in shards]
            hop2 = [
                sticky_assignment_from(shards, m, prev, n2)
                for m in range(n2)
            ]
            flat = [s for p in hop2 for s in p]
            assert sorted(flat) == shards, (n_shards, n0, n1, n2)
            sizes = [len(p) for p in hop2]
            assert max(sizes) - min(sizes) <= 1
            base, extra = divmod(n_shards, n2)
            for m in range(min(n1, n2)):
                kept = sum(1 for s in hop2[m] if own1[s] == m)
                load = sum(1 for s in shards if own1[s] == m)
                capacity = base + (1 if m < extra else 0)
                assert kept == min(load, capacity), (n_shards, n0, n1, n2, m)


def test_consumer_group_chained_sticky_uses_owner_map(engine):
    """ConsumerGroup.rebalance(sticky=True) twice: the second hop's
    stickiness is computed against the first hop's actual assignment
    (carried via _prev_owner), so every member keeps the capacity-
    allowed share of the shards it REALLY owned."""
    from kafkaish_spark.sources.consumer_group import ConsumerGroup

    shards = [f"cg.{i}" for i in range(12)]
    for s in shards:
        engine.prepare_topic(s)
    g0 = ConsumerGroup(engine, "chain", shards, 4)
    g1 = g0.rebalance(3, sticky=True)
    own1 = {s: m for m, p in g1.assignment().items() for s in p}
    g2 = g1.rebalance(5, sticky=True)
    a2 = g2.assignment()
    flat = sorted(s for p in a2.values() for s in p)
    assert flat == sorted(shards)
    base, extra = divmod(len(shards), 5)
    for m in range(3):  # members surviving hop 2
        kept = sum(1 for s in a2[m] if own1[s] == m)
        load = sum(1 for s in shards if own1[s] == m)
        capacity = base + (1 if m < extra else 0)
        assert kept == min(load, capacity), (m, a2[m])


def test_sticky_rebalance_grow_no_loss_no_double_delivery(engine):
    """rebalance(sticky=True) mid-drain: same delivery guarantees as
    the modulo rebalance (nothing lost, nothing doubled), but the
    surviving member keeps every shard balance allows."""
    from kafkaish_spark.sources.consumer_group import ConsumerGroup

    shards = [f"st.{i}" for i in range(4)]
    for i, name in enumerate(shards):
        engine.prepare_topic(name).publish_batch(
            [("e", {"shard": i, "n": j}) for j in range(2)]
        )
    solo = ConsumerGroup(engine, "gsticky", shards, 1)
    _df, bounds = solo.poll(0)
    solo.commit(0, {k: bounds[k] for k in ("st.0",)})  # partial drain

    grown = solo.rebalance(2, sticky=True)
    assign = grown.assignment()
    # balance 2+2, and member 0 kept two of its old shards (modulo
    # would also give 2, but sticky keeps a prefix of the OLD holding)
    assert sorted(len(v) for v in assign.values()) == [2, 2]
    assert set(assign[0]) <= set(shards)
    seen_keys = set()
    per_member = {0: 0, 1: 0}
    for m in (0, 1):
        df_m, bounds_m = grown.poll(m)
        for r in df_m.collect():
            key = (r["topic"], int(r["offset"]))
            assert key not in seen_keys, f"double delivery of {key}"
            seen_keys.add(key)
            per_member[m] += 1
        grown.commit(m, bounds_m)
    # 3 uncommitted shards x 2 msgs delivered exactly once in total
    assert sum(per_member.values()) == 6
    for m in (0, 1):
        df_m, _ = grown.poll(m)
        assert df_m.count() == 0


def test_streaming_group_sticky_resize_keeps_guarantees(engine):
    """Streaming group resize with the sticky assignor: disjoint +
    complete coverage in the new topology, no loss of unacked
    messages, no redelivery of acked ones (offsets are group-keyed, so
    the assignor choice is delivery-neutral — stickiness only changes
    WHO reads a shard)."""
    for i in range(4):
        engine.prepare_topic(f"sg.{i}").publish_batch(
            [("e", {"shard": i, "phase": 1})]
        )
    # topology A: 2 members drain everything
    _, a0 = _drain(engine, "sg", "gss", 0, 2, replay=True)
    _, a1 = _drain(engine, "sg", "gss", 1, 2, replay=True)
    assert len(a0) + len(a1) == 4

    # new messages land, then the group grows 2 -> 3 with sticky map
    for i in range(4):
        engine.prepare_topic(f"sg.{i}").publish_batch(
            [("e", {"shard": i, "phase": 2})]
        )
    got = []
    for m in range(3):
        _, g = _drain(
            engine, "sg", "gss", m, 3, replay=True, prev_members=2
        )
        got.extend(g)
    msgs = sorted(json.loads(msg)["shard"] for _, _, msg in got)
    phases = {json.loads(msg)["phase"] for _, _, msg in got}
    assert msgs == [0, 1, 2, 3]  # each phase-2 message exactly once
    assert phases == {2}  # phase-1 acks survive the sticky resize
