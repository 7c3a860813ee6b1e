"""``catchup_mixed``: a durable subscriber catching up while the same
process keeps writing.

Set-up builds a backlog in a few large segments with ``publish_df``.
Each timed cycle starts from a fresh copy of that backlog: a durable
subscriber replays it from the start while an open-loop writer appends
bulk ``publish_df`` batches on a fixed schedule; the cycle ends when the
subscriber has delivered the final offset.  Cycles repeat until the run
time is used (always whole cycles, at least one).
"""

from __future__ import annotations

import importlib
import os
import shutil
import time

from perfbench import harness, loadgen
from perfbench.stats import Tally, check_contiguous, due_latencies, median

# Backlog messages, written by BACKLOG_FILES successive single-segment
# publish_df calls.  (One multi-file publish_df would do it faster, but
# its files' modification times do not follow their offsets, and the
# seed engine's 4-files-per-trigger subscriber then delivers the
# backlog out of offset order.)
BACKLOG = 90_000
BACKLOG_FILES = 3
# Writer: BATCHES publish_df calls of BATCH messages, one every
# BATCH_PERIOD_S seconds, per cycle.  Calibrated on the seed engine on a
# 4-core host (see perfbench/README.md): a call takes ~0.35 s beside the
# reader, and the writes end well before the reader catches up.
BATCH = 3_000
BATCHES = 4
BATCH_PERIOD_S = 0.5
# A cycle whose final offset is not delivered by then fails.
CYCLE_DEADLINE_S = 90.0


def _source(spark, seed: int, lo: int, hi: int, partitions: int):
    from pyspark.sql import functions as F

    ev, msg = loadgen.message_columns(seed, F.col("id"))
    return spark.range(lo, hi, 1, partitions).select(ev, msg)


class _Sink:
    def __init__(self, tracer):
        self.offsets: list[int] = []
        self.messages: list[str] = []
        self.first: dict[int, float] = {}
        self.max_offset = 0
        self._tracer = tracer

    def __call__(self, _event, message, offset) -> None:
        t = time.perf_counter()
        self.offsets.append(offset)
        self.messages.append(message)
        if offset not in self.first:
            self.first[offset] = t
        if offset > self.max_offset:
            self.max_offset = offset
        self._tracer.add("subscribe.callback", time.perf_counter() - t)


def run(ctx: harness.Context) -> harness.Result:
    from kafkaish_spark.sources.topic_log import Engine
    subscribe_mod = importlib.import_module("kafkaish_spark.streaming.subscribe")

    seed, tr = ctx.seed, ctx.tracer
    final = BACKLOG + BATCHES * BATCH
    expected_fp = loadgen.fingerprint(loadgen.message(seed, k) for k in range(final))
    spark, session_s = harness.start_session(ctx)

    def build(rep_dir):
        topic = Engine(spark, rep_dir).prepare_topic("backlog")
        step = BACKLOG // BACKLOG_FILES
        for lo in range(0, BACKLOG, step):
            topic.publish_df(_source(spark, seed, lo, lo + step, 1))
        return topic

    backlog, fixture_s = harness.timed_fixture(ctx, build)

    def cycle(c: int, tally: Tally | None):
        """One catch-up; returns its measurements (``tally`` None = warm-up)."""
        root = os.path.join(ctx.work, f"cycle{c}")
        shutil.copytree(backlog.log_dir, os.path.join(root, "topic", "log"))
        topic = Engine(spark, root).prepare_topic("topic")
        sink = _Sink(tr)
        call_s: list[float] = []
        due_at: dict[int, float] = {}

        def send(i: int, due: float) -> None:
            lo = BACKLOG + i * BATCH
            t0 = time.perf_counter()
            topic.publish_df(_source(spark, seed, lo, lo + BATCH, 1))
            call_s.append(time.perf_counter() - t0)
            for off in range(lo + 1, lo + BATCH + 1):
                due_at[off] = due

        writer = loadgen.OpenLoop(send, BATCH_PERIOD_S, BATCHES, name="writer")
        t0 = time.perf_counter()
        # a backlog message is due when the subscriber asks for it
        due_at.update(dict.fromkeys(range(1, BACKLOG + 1), t0))
        writer.start(t0)
        sub = subscribe_mod.subscribe(
            topic, sink, name="catchup", replay=True, available_now=False
        )
        progress: dict = {}
        lag_max, last_harvest = 0, t0
        deadline = t0 + CYCLE_DEADLINE_S
        while time.perf_counter() < deadline:
            if sink.max_offset >= final:
                break
            tail_off = BACKLOG + len(call_s) * BATCH
            lag_max = max(lag_max, tail_off - sink.max_offset)
            if time.perf_counter() - last_harvest > 1.0:
                harness.harvest_progress(sub, progress)
                last_harvest = time.perf_counter()
            time.sleep(0.02)
        writer.join(CYCLE_DEADLINE_S)
        harness.harvest_progress(sub, progress)
        sub.unsubscribe()
        done_at = sink.first.get(final)
        out = {
            "catchup_s": (done_at or deadline) - t0,
            "calls": call_s,
            "late": writer.late_s,
            "lat": due_latencies(due_at, sink.first, deadline)[0],
            "progress": progress,
            "lag_max": lag_max,
            "segments": harness.count_segments(topic.log_dir),
            "delivered": len(sink.offsets),
        }
        if tally is not None:
            tally.record(True, n=BATCHES)
            tally.fail("publish_raised", len(writer.errors))
            chk = check_contiguous(sink.offsets, 1, final)
            tally.record(True, n=final)
            tally.fail("missing", chk["missing"])
            tally.fail("unexpected", chk["unexpected"])
            tally.fail("out_of_order", chk["out_of_order"])
            first_msg: dict[int, str] = {}
            for off, msg in zip(sink.offsets, sink.messages):
                first_msg.setdefault(off, msg)
            tally.record(
                loadgen.fingerprint(first_msg.values()) == expected_fp, "fingerprint"
            )
            out["unique"] = chk["unique"]
            out["duplicates"] = chk["duplicates"]
        shutil.rmtree(root, ignore_errors=True)
        return out

    # warm-up: one untimed cycle compiles the publish/stream/collect path
    t_warm = time.perf_counter()
    cycle(-1, None)
    warm_s = time.perf_counter() - t_warm

    tr.reset()
    tally = Tally()
    cycles = []
    probe = harness.HostProbe()
    t_run = time.perf_counter()
    while not cycles or time.perf_counter() - t_run < ctx.seconds:
        cycles.append(cycle(len(cycles), tally))
        for _ in range(5):  # between cycles: the reader has stopped
            probe.sample()

    catchup = [c["catchup_s"] for c in cycles]
    drain = [c["unique"] / c["catchup_s"] for c in cycles]
    calls = [x for c in cycles for x in c["calls"]]
    lat = [x for c in cycles for x in c["lat"]]
    e2e, lines = harness.latency_block(lat, calls, ("deliver", "publish_batch"))
    e2e["setup_s"], setup_line = harness.setup_time(session_s, fixture_s, warm_s)
    e2e["drain_msgs_per_s"] = median(drain)
    report = [
        f"catchup_s {median(catchup):.4f} s (median of {len(cycles)} cycles)",
        f"drain_msgs_per_s {median(drain):.1f} msg/s (median of {len(cycles)} cycles)",
    ] + lines + [
        setup_line,
        f"deliver = due time (backlog: subscribe time) to callback; backlog "
        f"{BACKLOG} msgs in {BACKLOG_FILES} segments; writer {BATCHES} x {BATCH} "
        f"msgs every {BATCH_PERIOD_S:g} s open loop; duplicates "
        f"{sum(c['duplicates'] for c in cycles)}",
    ]

    progress = {k: v for c in cycles for k, v in c["progress"].items()}
    layer = {
        "session.start_s": session_s,
        "loadgen.late_ms_p99": harness.late_p99_ms([x for c in cycles for x in c["late"]]),
        "topic_log.segments_end": float(median([c["segments"] for c in cycles])),
        "subscribe.lag_msgs_max": float(max(c["lag_max"] for c in cycles)),
        "subscribe.unique_ratio": sum(c["unique"] for c in cycles)
        / max(1, sum(c["delivered"] for c in cycles)),
    }
    if tr.enabled:
        layer.update(harness.progress_layer(progress))
        layer.update(harness.tracer_layer(tr))
        # the bulk write path is exercised by this workload alone, so its
        # spans are reported here rather than in the shared per-layer set
        pdf = tr.durations("topic_log.publish_df")
        report += [
            f"topic_log.publish_df.ms_p50 {1e3 * median(pdf):.4f} ms (n={len(pdf)})",
            f"topic_log.publish_df.busy_s {sum(pdf):.4f} s",
        ]
    return harness.Result(e2e, tally, report, layer, probe)
