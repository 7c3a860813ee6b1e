"""Weak-scaling evidence: 10x/100x the DATA, same plans, ~linear time
(r10 verdict item 2; r11 verdict item 1 added the dedup funnels).

tools/bench_parallel.py proved the scan leg fans out across FILES at
fixed data; this tool supplies the second pillar of the 100 TB story:
grow the data itself Nx and show (a) every headliner's normalized
plan is BYTE-IDENTICAL at both scales (no size-triggered plan cliff),
and (b) per-query time grows ~linearly — anything super-linear is a
hidden driver-side O(n) or a plan that stops scaling.

Method: replicate the bench sf Nx by unioning offset-shifted copies
of the FACT tables (orders/lineitem share one key stride so referential
integrity holds; events/documents/embeddings shift their own ids);
dimension tables stay 1x, exactly like a growing corpus against stable
reference data.  BOTH scales are written with the same
files-per-table, so both scans are fully parallel and the per-task
input simply grows Nx — the cleanest weak-scaling read on a fixed
local[N] box.

MUTATION-AWARE replicas (r12, closing the r11 exclusion): verbatim
clones would inflate true duplicate-PAIR counts quadratically inside
each clone group, so the dedup/near-dup funnels could not be measured.
Replica i > 0 therefore gets a structure-preserving mutation:

- documents.text: a per-replica AFFINE SUBSTITUTION CIPHER
  (translate() over a-z with target alphabet (a*k + b) mod 26, (a, b)
  distinct per replica).  Length-preserving and injective, so WITHIN a
  replica every exact-dup group, shingle multiset, Jaccard value, URL
  key, and digest group is isomorphic to the original — per-replica
  duplicate structure is EXACTLY the 1x structure, and total true
  pairs scale linearly.  ACROSS replicas any word with two distinct
  letters maps to different strings under different affine maps, so
  shingle sets are disjoint and no cross-replica pairs exist.
- embeddings.embedding: a per-replica random SIGN MASK (element j
  flipped when xxhash64(i, j) is odd).  An isometry (D^2 = I), so all
  within-replica inner products, norms, and neighbor structure are
  exactly preserved; cross-replica cosines collapse toward 0 (random
  sign agreement), so bucket/cell populations scale linearly.

The ANN index queries are reported in their own section: their
registered fixture-default plans are verified scale-INVARIANT (the
no-plan-cliff evidence), while the timings use the documented
corpus-scaling knob (sim_ann_lsh nbits = 6 + log2(N): bucket count
tracks the corpus so within-bucket pair work per vector is constant;
sim_ivf_ann seed_stride = 100 * N: codebook size K stays fixed so
assignment stays O(corpus)) — exactly what a 100 TB deployment tunes.

Usage: PYTHONPATH=/root/repo python tools/bench_scale.py
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_SCALE_REPLICAS (default 10),
     SPARK_GRAFT_SCALE_FILES (default 32),
     SPARK_GRAFT_SCALE_REPS (default 2).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from kafkaish_spark.operators.llm import sim_ann_lsh, sim_ivf_ann  # noqa: E402
from kafkaish_spark.plans.registry import all_queries  # noqa: E402
from kafkaish_spark.session import get_spark  # noqa: E402
from kafkaish_spark.sources.tables import TABLES, load_table  # noqa: E402

# Linear-work headliners across the operator families: scan+agg, star
# and as-of joins, windows, CDC, iterative ML, ANN top-k, text agg,
# the two-phase global rank (THE driver-side-O(n) suspect), and RRF.
SCALE_QUERIES = [
    "q_agg_pricing_summary",
    "q_star_revenue_by_region",
    "q_tpch_q5_local_supplier",
    "q_cdc_capture_apply_roundtrip",
    "q_window_rank_orders_per_cust",
    "q_join_asof_event_order",
    "q_embed_kmeans_lloyd2",
    "q_sim_topk_embeddings",
    "q_text_tf_top_terms",
    "q_train_global_shuffle",
    "q_rank_rrf_fusion",
    # the two r13 rewrites, added so their wins are checked at scale,
    # not just on local[32]: the advised-rank top_k prune (the
    # WindowGroupLimit pair must survive the 10x replica) and the
    # row-local logreg scoring (inlined weight literals are
    # data-derived, so plan identity reads "literals_only" by design)
    "q_advised_window_order_rank",
    "q_ml_auc_binned",
]

# The dedup/near-dup funnels, measurable since the r12 mutation-aware
# replicas: per-replica pair structure is isomorphic to 1x, so true
# work is linear and the same plan-identity + ratio gates apply.
DEDUP_SCALE_QUERIES = [
    "q_dedup_exact_documents",
    "q_dedup_minhash_lsh",
    "q_dedup_near_documents",
    "q_dedup_simhash",
    "q_corpus_clean_funnel",
]

# A query whose Nx/1x ratio exceeds this multiple of the run's median
# ratio is flagged super-linear even under the absolute
# ``replicas * 1.2`` bound, which is near vacuous at 100x (a 120x
# threshold against observed ratios of 1-20x).  The recorded 100x runs
# (BENCH_scale_r12/r13.json) peak at 7.4-7.6x their median ratio
# (q_dedup_near_documents 19.9 against 2.6), so 10x flags a 50x
# outlier without flagging them.
OUTLIER_VS_MEDIAN = 10.0


def superlinear_queries(
    ratios: dict[str, float | None], replicas: int
) -> list[str]:
    """Queries whose time grew faster than the data: ratio above
    ``replicas * 1.2``, or above ``OUTLIER_VS_MEDIAN`` times the median
    ratio of the run (ratios of None are skipped)."""
    known = [r for r in ratios.values() if r is not None]
    limit = replicas * 1.2
    if known:
        limit = min(limit, OUTLIER_VS_MEDIAN * statistics.median(known))
    return [n for n, r in ratios.items() if r is not None and r > limit]


# fact table -> id column to shift per replica; orders/lineitem share
# the ORDERS stride so l_orderkey keeps referencing o_orderkey
_FACT_KEYS = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

_AZ = "abcdefghijklmnopqrstuvwxyz"
_COPRIME26 = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]


def _affine_alphabet(i: int) -> str:
    """Target alphabet of the i-th affine cipher x -> a*x + b (mod 26);
    312 distinct injective maps, i=0 the identity."""
    a = _COPRIME26[(i // 26) % len(_COPRIME26)]
    b = i % 26
    return "".join(_AZ[(a * k + b) % 26] for k in range(26))


def _mutate(name: str, df, i: int):
    """Structure-preserving per-replica mutation (module docstring)."""
    if i == 0:
        return df
    if name == "documents":
        return df.withColumn(
            "text", F.translate("text", _AZ, _affine_alphabet(i))
        )
    if name == "embeddings":
        return df.withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, j: F.when(
                    F.pmod(F.xxhash64(F.lit(i), j), F.lit(2)) == 0, x
                ).otherwise(-x),
            ),
        )
    return df


def _materialize(spark, src: str, replicas: int, n_files: int) -> str:
    """Write every table under a temp dir (basename preserved for
    fixture roots): dims as-is, facts unioned ``replicas`` times with
    key offsets + per-replica mutations, all at ``n_files`` parts per
    table."""
    root = tempfile.mkdtemp(prefix=f"kafkaish_scale{replicas}x_")
    try:
        return _materialize_into(spark, src, replicas, n_files, root)
    except BaseException:
        # a mid-write failure (disk-full at 100x is the likely one)
        # must not strand a multi-GB partial replica dir (review r12)
        shutil.rmtree(root, ignore_errors=True)
        raise


def _materialize_into(
    spark, src: str, replicas: int, n_files: int, root: str
) -> str:
    dst = os.path.join(root, os.path.basename(src.rstrip("/")))
    os.makedirs(dst, exist_ok=True)
    order_stride = (
        load_table(spark, src, "orders")
        .agg(F.max("o_orderkey"))
        .first()[0]
        + 1
    )
    for name in TABLES:
        df = load_table(spark, src, name)
        key = _FACT_KEYS.get(name)
        if key and replicas > 1:
            stride = (
                order_stride
                if name in ("orders", "lineitem")
                else df.agg(F.max(key)).first()[0] + 1
            )
            out = df
            for i in range(1, replicas):
                out = out.unionByName(
                    _mutate(
                        name,
                        df.withColumn(
                            key, (F.col(key) + F.lit(i * stride)).cast("long")
                        ),
                        i,
                    )
                )
        else:
            out = df
        out.repartition(n_files).write.mode("overwrite").parquet(
            os.path.join(dst, f"{name}.parquet")
        )
    return dst


def main() -> None:
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    replicas = int(os.environ.get("SPARK_GRAFT_SCALE_REPLICAS", "10"))
    n_files = int(os.environ.get("SPARK_GRAFT_SCALE_FILES", "32"))
    reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "2"))
    spark = get_spark("kafkaish-bench-scale")
    spark.sparkContext.setLogLevel("ERROR")

    wanted = SCALE_QUERIES + DEDUP_SCALE_QUERIES
    specs = {n: s for n, s in all_queries().items() if n in wanted}
    missing = [n for n in wanted if n not in specs]
    if missing:
        print(f"# not in registry, skipped: {missing}", file=sys.stderr)

    base = _materialize(spark, src, 1, n_files)
    big = _materialize(spark, src, replicas, n_files)
    print(
        f"# materialized 1x -> {base}, {replicas}x -> {big} "
        f"({n_files} files/table)",
        file=sys.stderr,
    )
    try:
        _run(spark, specs, base, big, src, replicas, n_files, reps)
    finally:
        shutil.rmtree(os.path.dirname(base), ignore_errors=True)
        shutil.rmtree(os.path.dirname(big), ignore_errors=True)


def _strip_numeric_literals(plan: str) -> str:
    """Replace float literals so plans differing ONLY in data-derived
    constants (inlined centroids/moments recomputed from mutated
    replicas) compare as same-shaped."""
    import re

    return re.sub(r"-?\d+\.\d+(?:E-?\d+)?", "#f", plan)


def _ann_variants(replicas: int) -> dict:
    """The ANN index queries with their documented corpus-scaling
    parameter applied at the given replication factor."""
    nbits = 6 + max(0, round(math.log2(max(replicas, 1))))
    return {
        "q_sim_ann_lsh": {
            "fn": lambda spark, d, r=replicas: sim_ann_lsh(
                spark,
                d,
                nbits=6 + max(0, round(math.log2(max(r, 1)))),
            ),
            "base_fn": lambda spark, d: sim_ann_lsh(spark, d, nbits=6),
            "param": f"nbits 6 -> {nbits} (buckets track corpus)",
            "registered": "q_sim_ann_lsh",
        },
        "q_sim_ivf_ann": {
            "fn": lambda spark, d, r=replicas: sim_ivf_ann(
                spark, d, seed_stride=100 * max(r, 1)
            ),
            "base_fn": lambda spark, d: sim_ivf_ann(spark, d, seed_stride=100),
            "param": f"seed_stride 100 -> {100 * replicas} (K fixed)",
            "registered": "q_sim_ivf_ann",
        },
    }


def _run(spark, specs, base, big, src, replicas, n_files, reps) -> None:
    # codegen warm-up at the tiny sf, then an untimed DataFrame build
    # per layout so per-root fixture work (CDC validation, advisor
    # measurement) stays out of the timings — bench.py's methodology
    for name, spec in sorted(specs.items()):
        for d in ("/root/testdata/sf0.001", base, big):
            try:
                df = spec.fn(spark, d)
                if d == "/root/testdata/sf0.001":
                    df.write.mode("overwrite").format("noop").save()
            except Exception as ex:
                print(f"# warmup {name}@{d} skipped: {ex}", file=sys.stderr)

    # keys carry the actual multiplier so a 100x artifact can't read
    # as 10x (review r11)
    tN = f"t{replicas}"
    names = sorted(specs)
    samples = {sc: {n: [] for n in names} for sc in ("t1", tN)}
    for rep in range(reps):
        shift = (rep * 7) % max(len(names), 1)
        for name in names[shift:] + names[:shift]:
            # adjacent 1x/Nx runs of the SAME query: co-tenant bursts
            # tax both scales alike, preserving the per-query ratio
            for sc, d in (("t1", base), (tN, big)):
                t0 = time.perf_counter()
                specs[name].fn(spark, d).write.mode("overwrite").format(
                    "noop"
                ).save()
                samples[sc][name].append(time.perf_counter() - t0)

    timings = {
        sc: {n: round(min(v), 4) for n, v in per.items()}
        for sc, per in samples.items()
    }
    plan_same: dict[str, bool | str | None] = {}
    for name, spec in sorted(specs.items()):
        try:
            p1 = bench._normalized_plan(spec.fn(spark, base))
            p10 = bench._normalized_plan(spec.fn(spark, big))
            plan_same[name] = p1 == p10 or (
                # DATA-DERIVED literals (e.g. kmeans' inlined centroid
                # coordinates, recomputed from the measured frame) are
                # expected to differ under the replica mutation; the
                # plan SHAPE must still be identical — report that
                # distinction instead of a flat False
                "literals_only"
                if _strip_numeric_literals(p1)
                == _strip_numeric_literals(p10)
                else False
            )
        except Exception:
            plan_same[name] = None

    queries = {
        n: {
            "t1": timings["t1"][n],
            tN: timings[tN][n],
            "ratio": round(timings[tN][n] / timings["t1"][n], 2)
            if timings["t1"][n]
            else None,
            "family": "dedup" if n in DEDUP_SCALE_QUERIES else "linear",
        }
        for n in names
    }
    superlinear = superlinear_queries(
        {n: q["ratio"] for n, q in queries.items()}, replicas
    )

    # ---- ANN index scaling: fixture-default plan is scale-invariant;
    # timings use the documented corpus-scaling parameter
    ann = {}
    for name, v in _ann_variants(replicas).items():
        try:
            p1 = bench._normalized_plan(v["base_fn"](spark, base))
            p10 = bench._normalized_plan(v["base_fn"](spark, big))
            fixed_plan_same = p1 == p10
        except Exception:
            fixed_plan_same = None
        lat = {}
        for sc, d, fn in (
            ("t1", base, v["base_fn"]),
            (tN, big, lambda s, dd: v["fn"](s, dd)),
        ):
            best = None
            for _ in range(reps):
                t0 = time.perf_counter()
                fn(spark, d).write.mode("overwrite").format("noop").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            lat[sc] = round(best, 4)
        ann[name] = {
            "t1": lat["t1"],
            tN: lat[tN],
            "ratio": round(lat[tN] / lat["t1"], 2) if lat["t1"] else None,
            "param_scaling": v["param"],
            "plan_same_fixed_params": fixed_plan_same,
        }

    print(
        json.dumps(
            {
                "metric": "weak_scaling_compare",
                "value": round(sum(timings[tN].values()), 4),
                "unit": "sec",
                "replicas": replicas,
                "files_per_table": n_files,
                "t1_total_sec": round(sum(timings["t1"].values()), 4),
                f"{tN}_total_sec": round(sum(timings[tN].values()), 4),
                "queries": queries,
                f"plan_same_1x_vs_{replicas}x": plan_same,
                "superlinear": superlinear,
                "ann_index_scaling": ann,
                "replica_mutation": (
                    "documents: per-replica affine substitution cipher "
                    "(length-preserving, within-replica dup structure "
                    "isomorphic, cross-replica shingles disjoint); "
                    "embeddings: per-replica sign-mask isometry"
                ),
                "method": f"min-of-{reps}-interleaved-adjacent-scales",
                "sf": os.path.basename(src.rstrip("/")),
            }
        )
    )


if __name__ == "__main__":
    main()
