"""The weak-scaling tool's super-linear gate (tools/bench_scale.py)."""

import importlib.util
import os


def _bench_scale():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_scale", os.path.join(repo, "tools", "bench_scale.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_superlinear_flags_outlier_against_run_median():
    """At 100x the absolute bound is 120x, so a 50x query among peers
    at ~2.6x must still be flagged, by its ratio to the run's median;
    the recorded 100x spread (up to ~7.6x the median) is not."""
    gate = _bench_scale().superlinear_queries
    peers = {f"q{i}": 2.6 for i in range(10)}
    assert gate({**peers, "slow": 50.0}, 100) == ["slow"]
    assert gate({**peers, "dedup": 19.89, "agg": 11.87}, 100) == []
    # the absolute bound still applies when every query is slow
    assert gate({"a": 13.0, "b": 11.5, "c": 11.0}, 10) == ["a"]
    assert gate({"a": None, "b": 1.2}, 10) == []
    assert gate({}, 10) == []
