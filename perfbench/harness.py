"""What the three workloads share: the run context, the Spark session
life cycle, set-up timing, streaming-progress harvesting and the
per-layer metric table."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field

from perfbench.stats import Tally, median, quantile, tail
from perfbench.tracing import Tracer

# Fixture builds per run; set-up time reports their median.
FIXTURE_REPS = 3

QUERIES = (
    "q_tpch_q5_local_supplier",
    "q_agg_pricing_summary",
    "q_join_skew_stress_salted",
    "q_window_rank_orders_per_cust",
    "q_dedup_minhash_lsh",
    "q_sim_topk_embeddings",
    "q_embed_kmeans_lloyd2",
    "q_text_tf_top_terms",
    "q_pyds_topic_scan",
    "q_stream_tumbling_counts",
)

# What a --trace 0 run prints as metrics.  The latency is normalised to
# the reference host speed (``HostProbe``); the raw figures, and the
# throughput, are report lines.
END_TO_END = {
    "setup_s": "s",
    "latency_p50_norm_ms": "ms",
}

# Time of one HostProbe slice on the calibration host with nothing else
# of the benchmark running (medians of 25-28 ms there), rounded: the
# speed the normalised latency refers to.  Changing it rescales every
# normalised figure, so it is fixed.
REF_SLICE_S = 0.025

PER_LAYER = {
    "session.start_s": "s",
    "loadgen.late_ms_p99": "ms",
    "topic_log.latest.ms_p50": "ms",
    "topic_log.latest.busy_s": "s",
    "topic_log.segments_end": "count",
    "topic_log.publish.self_ms_p50": "ms",
    "topic_log.writer_lock.wait_ms_p50": "ms",
    "topic_log.ack.calls": "count",
    "topic_log.ack.busy_s": "s",
    "subscribe.trigger_ms_p50": "ms",
    "subscribe.latest_offset_ms_p50": "ms",
    "subscribe.add_batch_ms_p50": "ms",
    "subscribe.wal_commit_ms_p50": "ms",
    "subscribe.commit_offsets_ms_p50": "ms",
    "subscribe.rows_per_trigger_p50": "count",
    "subscribe.lag_msgs_max": "count",
    "subscribe.callback.busy_s": "s",
    "subscribe.unique_ratio": "1",
}
for _q in QUERIES:
    PER_LAYER[f"operators.build_s.{_q}"] = "s"
    PER_LAYER[f"operators.exec_s.{_q}"] = "s"
    PER_LAYER[f"operators.tasks.{_q}"] = "count"
    PER_LAYER[f"operators.input_bytes.{_q}"] = "B"
    PER_LAYER[f"operators.shuffle_read_bytes.{_q}"] = "B"


class HostProbe:
    """The host's speed, sampled in short slices of fixed CPU work.

    The host this benchmark was calibrated on changes speed by up to
    1.5x in phases of tens of seconds to minutes, and every timing of the
    engine moves with it: across ten runs the latency tracked the run's
    own set-up time with a correlation of 0.76 (``live_single``) and 0.91
    (``analytics``).  Slices taken beside the timed work measure that
    phase, and ``slowdown`` divides it out of the latency.  A slice sorts
    a fixed array; numpy releases the GIL, so engine callbacks in this
    process are not held up.
    """

    def __init__(self) -> None:
        import numpy as np

        self._np = np
        self._data = np.random.default_rng(0).random(100_000)
        self.slices: list[float] = []

    def sample(self) -> None:
        t0 = time.perf_counter()
        for _ in range(25):
            self._np.sort(self._data, kind="quicksort")
        self.slices.append(time.perf_counter() - t0)

    def slowdown(self) -> float:
        """Median slice time over ``REF_SLICE_S``: 1.2 = 20% slower."""
        return median(self.slices) / REF_SLICE_S if self.slices else 1.0


def gated_metrics(e2e: dict[str, float], slowdown: float) -> dict[str, float]:
    """The ``END_TO_END`` metrics from a workload's raw figures."""
    return {
        "setup_s": e2e["setup_s"],
        "latency_p50_norm_ms": e2e["latency_p50_ms"] / slowdown,
    }


@dataclass
class Context:
    root: str  # checkout root (holds kafkaish_spark/)
    work: str  # this run's work directory, removed at exit
    seed: int
    seconds: float
    tracer: Tracer


@dataclass
class Result:
    e2e: dict[str, float]
    tally: Tally
    report: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    probe: HostProbe | None = None


# Spark task slots.  Two on a 4-core host: at the analytics scale a pass
# took as long on two slots as on four, and the spare cores keep the
# JVM's JIT and GC threads, the Python driver and the Python UDF workers
# from queueing behind the tasks.
MAX_CPUS = 2


def cpus() -> int:
    return max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))


def start_session(ctx: Context):
    """Start the engine's session (``kafkaish_spark.session.get_spark``);
    returns (spark, seconds taken)."""
    from kafkaish_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def shutdown_spark() -> None:
    """Stop the session AND its JVM, and wait for the JVM to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def timed_fixture(ctx: Context, build) -> tuple[object, list[float]]:
    """Run ``build(rep)`` FIXTURE_REPS times, each into a fresh
    directory; keep the last fixture, discard the others.  Returns
    (last fixture, per-rep seconds)."""
    secs, fixture = [], None
    for rep in range(FIXTURE_REPS):
        rep_dir = os.path.join(ctx.work, f"fixture{rep}")
        t0 = time.perf_counter()
        fixture = build(rep_dir)
        secs.append(time.perf_counter() - t0)
        if rep < FIXTURE_REPS - 1:
            shutil.rmtree(rep_dir, ignore_errors=True)
    return fixture, secs


def setup_time(session_s: float, fixture_s: list[float], warm_s: float):
    """setup_s = session start + median fixture build + warm-up, and the
    report line that breaks it down."""
    total = session_s + median(fixture_s) + warm_s
    line = (
        f"setup_s {total:.3f} s = session {session_s:.3f} + median fixture "
        f"{median(fixture_s):.3f} (of {', '.join(f'{x:.3f}' for x in fixture_s)})"
        f" + warm-up {warm_s:.3f}"
    )
    return total, line


def harvest_progress(sub, store: dict) -> None:
    """Keep every delivering trigger's progress of a running subscription;
    ``recentProgress`` is a rolling buffer, so this is called repeatedly
    during the run."""
    if not sub.is_active:
        return
    for p in sub.query.recentProgress:
        if not isinstance(p, dict):
            p = json.loads(p.json)
        if p and p.get("numInputRows", 0) > 0:
            store[(p["id"], p["batchId"])] = p


def progress_layer(store: dict) -> dict[str, float]:
    def p50(key):
        return median([p["durationMs"].get(key, 0) for p in store.values()])

    return {
        "subscribe.trigger_ms_p50": p50("triggerExecution"),
        "subscribe.latest_offset_ms_p50": p50("latestOffset"),
        "subscribe.add_batch_ms_p50": p50("addBatch"),
        "subscribe.wal_commit_ms_p50": p50("walCommit"),
        "subscribe.commit_offsets_ms_p50": p50("commitOffsets"),
        "subscribe.rows_per_trigger_p50": median(
            [p["numInputRows"] for p in store.values()]
        ),
    }


def count_segments(log_dir: str) -> int:
    return sum(
        fn.startswith("part-") and fn.endswith(".parquet")
        for _d, _s, files in os.walk(log_dir)
        for fn in files
    )


def tracer_layer(tr: Tracer) -> dict[str, float]:
    """Per-layer metrics read off the spans of the topic log."""
    latest = tr.durations("topic_log.latest")
    ack = tr.durations("topic_log.ack")
    return {
        "topic_log.latest.ms_p50": 1e3 * median(latest),
        "topic_log.latest.busy_s": sum(latest),
        "topic_log.publish.self_ms_p50": 1e3 * median(tr.self_times("topic_log.publish")),
        "topic_log.writer_lock.wait_ms_p50": 1e3
        * median(tr.durations("topic_log.writer_lock.wait")),
        "topic_log.ack.calls": float(len(ack)),
        "topic_log.ack.busy_s": sum(ack),
        "subscribe.callback.busy_s": tr.busy.get("subscribe.callback", 0.0),
    }


def latency_block(
    lat_s: list[float], write_s: list[float], names: tuple[str, str], unit: str = "ms"
) -> tuple[dict[str, float], list[str]]:
    """The latency end-to-end metric (the median), and report lines naming
    the medians and tails after the workload (``names`` = latency name,
    write-call name) with each tail's percentile and sample count.
    Tails and write-call latency are reported, not bounded: with the
    20-40 samples a run holds they moved too much between runs, and the
    due-time latency already includes the write call."""
    scale = 1e3 if unit == "ms" else 1.0
    e2e = {"latency_p50_ms": 1e3 * median(lat_s)}
    lines = []
    for name, vals, u, k in ((names[0], lat_s, unit, scale), (names[1], write_s, "ms", 1e3)):
        if vals:
            t = tail(vals)
            lines += [
                f"{name}_p50_{u} {k * median(vals):.4f} {u} (n={t.n})",
                f"{name}_tail_{u} {k * t.value:.4f} {u} "
                f"(p{t.pct:.2f}, n={t.n}, {t.beyond} beyond)",
            ]
    return e2e, lines


def late_p99_ms(late_s: list[float]) -> float:
    return 1e3 * quantile(late_s, 0.99)
