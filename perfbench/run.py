"""Benchmark entry point.

    python3 perfbench/run.py --workload live_single --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Workloads: ``live_single``,
``catchup_mixed``, ``analytics`` (see perfbench/README.md).  Human-readable
report lines come first; the LAST line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics read off
spans wrapped around each layer (``--trace 1``).  Everything the run
writes stays under ``perfbench/_work`` (removed at exit) and
``perfbench/_results`` (the last result and span dump per workload and
seed, kept so a traced and an untraced run can be compared).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("live_single", "catchup_mixed", "analytics")


# Memory the processes free goes back to the host within seconds, and
# touching it again costs up to ~1 s per GB more, by how busy the host
# is.  So the driver JVM touches its whole heap at start (set-up time),
# and glibc keeps freed memory in the process (sizes up to its 32 MB
# mmap ceiling) instead of handing it back between micro-batches.
DRIVER_MEM = "2g"
MALLOC_ENV = {"MALLOC_MMAP_THRESHOLD_": str(32 << 20), "MALLOC_TRIM_THRESHOLD_": str(1 << 40)}


def _keep_freed_memory() -> None:
    """``MALLOC_ENV`` for this (already started) interpreter."""
    import ctypes

    libc = ctypes.CDLL(None)
    if hasattr(libc, "mallopt"):
        libc.mallopt(-1, 1 << 30)  # M_TRIM_THRESHOLD (an int here)
        libc.mallopt(-3, 32 << 20)  # M_MMAP_THRESHOLD


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``,
    pin the engine's parallelism to ``harness.MAX_CPUS`` cores, and keep
    the engine's memory resident (``MALLOC_ENV``)."""
    from perfbench.harness import cpus

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_CPUS": str(cpus()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            **MALLOC_ENV,
            # every JVM (the spark-submit launcher too): temp files and
            # no perf-data files outside the work directory
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--conf spark.ui.showConsoleProgress=false",
                    "--driver-java-options",
                    shlex.quote(f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"),
                    "--conf",
                    shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
                    "pyspark-shell",
                ]
            ),
        }
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    _keep_freed_memory()


def _result_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(HERE, "_results", f"{workload}-seed{seed}-trace{trace}.json")


def _overhead_lines(workload: str, seed: int, e2e: dict, trace: int) -> list[str]:
    """Tracing overhead: traced minus untraced end-to-end numbers, when
    the other kind of run of this workload and seed has a result."""
    other = _result_path(workload, seed, 1 - trace)
    if not os.path.exists(other):
        return []
    with open(other) as fh:
        prev = json.load(fh)["e2e"]
    traced, plain = (e2e, prev) if trace else (prev, e2e)
    return [
        f"tracing overhead {k}: {traced[k] - plain[k]:+.4f} "
        f"({(traced[k] - plain[k]) / plain[k]:+.1%})"
        for k in sorted(e2e)
        if k in prev and plain[k]
    ]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "kafkaish_spark")):
        print(f"error: no kafkaish_spark package under {ROOT}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from perfbench import harness
    from perfbench.tracing import NullTracer, Tracer, instrument

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    warehouse = os.path.join(ROOT, "spark-warehouse")
    had_warehouse = os.path.exists(warehouse)
    os.makedirs(os.path.join(HERE, "_results"), exist_ok=True)
    try:
        _prepare_env(work)
        tracer = Tracer() if args.trace else NullTracer()
        if args.trace:
            instrument(tracer)
        ctx = harness.Context(ROOT, work, args.seed, args.seconds, tracer)
        module = __import__(f"perfbench.{args.workload}", fromlist=["run"])
        res = module.run(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        harness.shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)
        if not had_warehouse:
            shutil.rmtree(warehouse, ignore_errors=True)

    slowdown = res.probe.slowdown() if res.probe else 1.0
    gated = harness.gated_metrics(res.e2e, slowdown)
    names = harness.PER_LAYER if args.trace else harness.END_TO_END
    source = res.layer if args.trace else gated
    metrics = {
        name: {"value": float(source.get(name, 0.0)), "unit": unit}
        for name, unit in names.items()
    }
    lines = [f"{args.workload} {line}" for line in res.report]
    lines += [f"{args.workload} {k} {v:.6g} (raw)" for k, v in sorted(res.e2e.items())]
    if res.probe:
        lines.append(
            f"{args.workload} host slowdown {slowdown:.4f} (median of "
            f"{len(res.probe.slices)} probe slices against {1e3 * harness.REF_SLICE_S:.2f} ms)"
        )
    lines.append(
        f"{args.workload} failed_ratio {res.tally.ratio:.6f} "
        f"({res.tally.failed}/{res.tally.attempted}"
        + (f"; {dict(res.tally.reasons)}" if res.tally.failed else "")
        + ")"
    )
    lines += [f"{args.workload} {n} {m['value']:.6g} {m['unit']}" for n, m in metrics.items()]
    e2e = {**res.e2e, **gated}
    lines += _overhead_lines(args.workload, args.seed, e2e, args.trace)
    with open(_result_path(args.workload, args.seed, args.trace), "w") as fh:
        json.dump({"e2e": e2e, "layer": res.layer}, fh, indent=1, sort_keys=True)
    if args.trace:
        tracer.dump(os.path.join(HERE, "_results", f"spans-{args.workload}-seed{args.seed}.jsonl"))
    for line in lines:
        print(f"# {line}")
    print(
        json.dumps(
            {
                "correct": res.tally.failed == 0,
                "attempted": res.tally.attempted,
                "failed": res.tally.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
