"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload live_single --seeds 1 2 3 4 5

Runs the benchmark once per seed (sequentially, untraced, with
``run_seconds`` from BENCHMARK.json) and prints, per metric, the median,
the distance between the first and third quartile as a share of the
median (``statistics.quantiles(values, n=4)``), and that spread against
the metric's bound; then the same spread of each raw figure the run
saved in ``perfbench/_results`` (not bounded).  Also prints each run's
wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spread(vals: list[float]) -> tuple[float, float]:
    """(quartile distance / median, median)."""
    med = statistics.median(vals)
    q1, _q2, q3 = statistics.quantiles(vals, n=4)
    return ((q3 - q1) / med if med else float("inf")), med


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3, 4, 5])
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for wl in args.workload:
        values: dict[str, list[float]] = {n: [] for n in bounds}
        raw: dict[str, list[float]] = {}
        for seed in args.seeds:
            t0 = time.perf_counter()
            out = subprocess.run(
                [*bench["command"], "--workload", wl, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            wall = time.perf_counter() - t0
            lines = out.stdout.strip().splitlines()
            if out.returncode or not lines:
                print(f"{wl} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
                return 1
            res = json.loads(lines[-1])
            print(f"{wl} seed {seed}: wall {wall:.1f} s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
            for k, v in res["metrics"].items():
                values[k].append(v["value"])
            saved = os.path.join(ROOT, "perfbench", "_results", f"{wl}-seed{seed}-trace0.json")
            with open(saved) as fh:
                for k, v in json.load(fh)["e2e"].items():
                    raw.setdefault(k, []).append(v)
        for name, vals in values.items():
            spread, med = _spread(vals)
            print(f"{wl} {name}: median {med:.5g} spread {spread:.3f} "
                  f"bound {bounds[name]} ({spread / bounds[name]:.2f} of bound)")
        for name, vals in sorted(raw.items()):
            if name in values:
                continue
            spread, med = _spread(vals)
            print(f"{wl} {name} (raw): median {med:.5g} spread {spread:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
