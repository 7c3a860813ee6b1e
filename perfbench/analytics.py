"""``analytics``: one client in a closed loop over a fixed set of
registry queries, in an order rotated by the seed and again every pass.

Each query's first execution is its warm-up: the result is collected and
compared, once per run, with DuckDB's answer (the rows-only
``q_dedup_minhash_lsh`` with a fingerprint recorded on the seed engine).
Every later execution is timed: the query's plan build (``spec.fn``)
plus a full materialisation through the noop sink.

The timed executions are staggered into the warm-up: the step that warms
query ``i`` also times queries ``i - 1``, ``i - 2`` and ``i - 3``, so
every query is timed three times and the timed work spreads over the
whole run rather than over its last ~25 s.  The host's speed moves in phases of tens of
seconds; a contiguous timed block after the warm-up sampled one phase,
and its run-to-run spread was that of the host.  Whole passes follow
while the run time is not used up.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
import urllib.request

from perfbench import datagen, harness
from perfbench.harness import QUERIES
from perfbench.stats import Tally, median

# Table scale (1.0 ~ 6 M lineitem rows): large enough that every query
# shuffles real data, small enough that a pass takes seconds.
SCALE = 0.02
# sha256 of the canonical q_dedup_minhash_lsh result on the tables above,
# recorded on the seed engine.
DEDUP_FINGERPRINT = "fe31e07ff180b6429b67fb2a851c25cb4f323ba0c031db8576f54307e66eb573"
ORACLE_ROWS_ONLY = "q_dedup_minhash_lsh"
# Steps between a query's warm-up and its timed executions: one timed
# execution per lag, so every query is timed the same number of times
# whatever the host's speed, and three times so that its median drops
# one outlier.
LAGS = (1, 2, 3)


def _canonical_sha(rows, cols) -> str:
    from check_oracle import normalize

    norm, ncols = normalize(rows, cols)
    return hashlib.sha256(repr((ncols, norm)).encode()).hexdigest()


def _oracle_check(con, spec, sdf, rows) -> str | None:
    """None when Spark's rows hash-match DuckDB's, else the reason --
    the comparison of ``tools/check_oracle.py``, used by import."""
    from check_oracle import dtype_kind_mismatches, normalize, values_equal

    cols = sdf.columns
    cur = con.execute(spec.oracle)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    bad = dtype_kind_mismatches(con, spec.oracle, sdf)
    if bad:
        return "; ".join(bad)
    if sorted(cols) != sorted(ocols):
        return f"schema {sorted(cols)} vs {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"rowcount {len(rows)} vs {len(orows)}"
    ns, _ = normalize(rows, cols)
    no, _ = normalize(orows, ocols)
    for sr, orow in zip(ns, no):
        _close, exact = values_equal(sr, orow)
        if not exact:
            return f"row differs: spark={sr} oracle={orow}"
    return None


def _operator_layer(spark, build_s: dict, exec_s: dict) -> dict[str, float]:
    """Per-query medians per execution: build and execution time from
    the benchmark's clock, tasks and bytes from Spark's monitoring
    REST API (one job group per execution)."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=30) as resp:
            return json.load(resp)

    time.sleep(1.0)  # let the UI listener catch up with the last jobs
    groups: dict[str, list[int]] = {}
    for job in get("/jobs"):
        if job.get("jobGroup"):
            groups.setdefault(job["jobGroup"], []).extend(job["stageIds"])
    stages = {s["stageId"]: s for s in get("/stages") if s.get("status") == "COMPLETE"}
    layer = {}
    for q in QUERIES:
        per_exec = [
            [stages[i] for i in ids if i in stages]
            for g, ids in groups.items()
            if g.split("#")[0] == q
        ]
        layer[f"operators.build_s.{q}"] = median(build_s[q])
        layer[f"operators.exec_s.{q}"] = median(exec_s[q])
        for metric, field in (
            ("tasks", "numCompleteTasks"),
            ("input_bytes", "inputBytes"),
            ("shuffle_read_bytes", "shuffleReadBytes"),
        ):
            layer[f"operators.{metric}.{q}"] = median(
                [sum(st[field] for st in e) for e in per_exec]
            )
    return layer


class _Oracle:
    """DuckDB over the same parquet tables, for the once-per-run check."""

    def __init__(self, sf_dir: str) -> None:
        import duckdb
        from kafkaish_spark.sources.tables import TABLES

        self.con = duckdb.connect()
        for name in TABLES:
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")

    def check(self, q: str, spec, sdf, rows) -> str | None:
        """None when the collected rows match, else the reason."""
        if spec.oracle is not None:
            return _oracle_check(self.con, spec, sdf, rows)
        if q == ORACLE_ROWS_ONLY:
            sha = _canonical_sha(rows, sdf.columns)
            return None if sha == DEDUP_FINGERPRINT else f"fingerprint {sha}"
        return None

    def close(self) -> None:
        self.con.close()


def staggered(order, lags):
    """Steps of the staggered warm-up: ``("warm", q, None)`` for each
    query in ``order``, and after the warm-up of the query ``lag`` places
    further on, ``("time", q, k)`` for its ``k``-th timed execution."""
    for step in range(len(order) + max(lags)):
        if step < len(order):
            yield "warm", order[step], None
        for k, lag in enumerate(lags):
            if 0 <= step - lag < len(order):
                yield "time", order[step - lag], k


def _order(seed: int, k: int) -> tuple[str, ...]:
    """Query order of timed pass ``k``: rotated by the seed, and by three
    more places each pass."""
    shift = (seed + 3 * k) % len(QUERIES)
    return QUERIES[shift:] + QUERIES[:shift]


def run(ctx: harness.Context) -> harness.Result:
    sys.path.insert(0, os.path.join(ctx.root, "tools"))
    from kafkaish_spark.plans.registry import all_queries

    tr = ctx.tracer
    spark, session_s = harness.start_session(ctx)
    sc = spark.sparkContext
    specs = all_queries()
    # unique per run: q_pyds_topic_scan keys its warehouse topic on the
    # directory's basename, and a topic left by an earlier run must not
    # turn this run's build into a reuse
    sf_name = f"perfbench_{os.getpid()}_{time.time_ns()}"

    def build(rep_dir):
        sf_dir = os.path.join(rep_dir, sf_name)
        datagen.write_tables(sf_dir, SCALE)
        return sf_dir

    sf_dir, fixture_s = harness.timed_fixture(ctx, build)
    pyds_root = os.path.join(ctx.root, "spark-warehouse", "_pyds", sf_name)
    tally = Tally()
    exec_s: dict[str, list[float]] = {q: [] for q in QUERIES}
    build_s: dict[str, list[float]] = {q: [] for q in QUERIES}
    lat: list[float] = []
    pass_s: dict[int, float] = {}
    warm_s, oracle_notes = 0.0, []

    def warm_and_check(q: str) -> None:
        """First execution of ``q``: collect and compare with the oracle.
        Untimed: its Spark time goes to set-up, DuckDB's to neither."""
        nonlocal warm_s
        spec = specs[q]
        if tr.enabled:
            sc.setJobGroup(f"warm-up#{q}", q)
        with tr.paused():
            t0 = time.perf_counter()
            sdf = spec.fn(spark, sf_dir)
            rows = [tuple(r) for r in sdf.collect()]
            q_s = time.perf_counter() - t0
        warm_s += q_s
        why = oracle.check(q, spec, sdf, rows)
        tally.record(why is None, f"oracle:{q}")
        oracle_notes.append(f"oracle {q}: {'ok' if why is None else why} (warm-up {q_s:.2f} s)")

    def timed(q: str, k: int) -> None:
        """One timed execution of ``q`` in pass ``k``: plan build plus a
        full noop-sink materialisation."""
        if tr.enabled:
            sc.setJobGroup(f"{q}#{k}", q)
        t0 = time.perf_counter()
        try:
            with tr.span(f"operators.build.{q}"):
                df = specs[q].fn(spark, sf_dir)
            t1 = time.perf_counter()
            with tr.span(f"operators.exec.{q}"):
                df.write.mode("overwrite").format("noop").save()
            ok = True
        except Exception as exc:  # a failed execution is counted, not fatal
            print(f"# {q} failed: {exc!r}", file=sys.stderr)
            ok, t1 = False, time.perf_counter()
        t2 = time.perf_counter()
        tally.record(ok, f"query:{q}")
        lat.append(t2 - t0)
        build_s[q].append(t1 - t0)
        exec_s[q].append(t2 - t1)
        pass_s[k] = pass_s.get(k, 0.0) + (t2 - t0)

    oracle = _Oracle(sf_dir)
    probe = harness.HostProbe()
    try:
        tr.reset()
        t_first = None
        for what, q, k in staggered(_order(ctx.seed, 0), LAGS):
            if what == "warm":
                warm_and_check(q)
            else:
                t_first = t_first or time.perf_counter()
                timed(q, k)
            probe.sample()
        # then whole passes while the run time is not used up
        passes = len(LAGS)
        while time.perf_counter() - t_first < ctx.seconds:
            for q in _order(ctx.seed, passes):
                timed(q, passes)
                probe.sample()
            passes += 1

        layer = {
            "session.start_s": session_s,
            "topic_log.segments_end": float(
                harness.count_segments(os.path.join(pyds_root, "docs", "log"))
            ),
        }
        if tr.enabled:
            layer.update(harness.tracer_layer(tr))
            layer.update(_operator_layer(spark, build_s, exec_s))
    finally:
        oracle.close()
        shutil.rmtree(pyds_root, ignore_errors=True)

    e2e, lines = harness.latency_block(lat, [], ("query", ""), unit="s")
    # The bounded p50 is each query's median, averaged over the queries:
    # the pooled median of a mix of ten queries is one order statistic
    # that jumps between queries, and moved twice as much between runs.
    per_query = [median([b + e for b, e in zip(build_s[q], exec_s[q])]) for q in QUERIES]
    e2e["latency_p50_ms"] = 1e3 * sum(per_query) / len(per_query)
    e2e["setup_s"], setup_line = harness.setup_time(session_s, fixture_s, warm_s)
    # one client in a closed loop: executions per second of query time
    e2e["queries_per_s"] = len(lat) / sum(lat)
    report = lines + [
        f"query_median_mean_s {e2e['latency_p50_ms'] / 1e3:.4f} s "
        f"(each query's median of {len(LAGS)}+ executions, mean over {len(QUERIES)} queries)",
        f"queries_per_s {e2e['queries_per_s']:.4f} 1/s ({passes} passes: "
        + ", ".join(f"{pass_s[k]:.2f}" for k in sorted(pass_s)) + " s of query time)",
        setup_line,
    ] + oracle_notes
    return harness.Result(e2e, tally, report, layer, probe)
