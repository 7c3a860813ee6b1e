"""Deterministic TPC-H-ish tables for the ``analytics`` workload.

The schemas and value domains follow the engine's table fixtures
(``FIXTURES.md``: region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings; one parquet file each), so the
registry queries and their DuckDB oracles run on them unchanged.  The
benchmark writes its own copy inside its work directory instead of
reading a shared test-data path, and the data seed is fixed: every run
and every ``--seed`` sees the same tables, which is what lets a
rows-only query be checked against a recorded fingerprint.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["red", "blue", "green", "black", "white", "small", "large", "shiny"]
_NOUNS = ["ring", "widget", "bolt", "nut", "gear", "spring", "valve", "pipe"]
_PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "es", "zh", "de", "fr"]
_VOCAB = (
    "key agg row scan slow fast table value part hash a the data window "
    "spark order column join small line customer query batch filter sort "
    "stream topic offset log event message replay ack shuffle stage task "
    "plan cache index merge split"
).split()

_US_PER_DAY = 86_400_000_000


def _days_us(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(lo_d, hi_d + 1, n).astype(np.int64) * _US_PER_DAY


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(scale: float) -> dict[str, pa.Table]:
    """All ten tables at ``scale`` (1.0 ~ 6 M lineitem rows)."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_emb = max(500, int(50_000 * scale))
    ts_us = pa.timestamp("us")
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [
                f"{_COLORS[a]} {_NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1_000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(
                _days_us(rng, "1995-01-01", "2001-08-01", n_ord), ts_us
            ),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
            "l_shipdate": pa.array(
                _days_us(rng, "1995-01-02", "2001-11-04", n_line), ts_us
            ),
        }
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = rng.integers(1_000_000, 260_000_000, n_ev)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(t0 + np.cumsum(gaps), ts_us),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
            "value": np.round(rng.exponential(40.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if texts and rng.random() < 0.15:
            # near-duplicate of an earlier document: ~10% of words swapped
            words = texts[int(rng.integers(0, len(texts)))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 10)):
                words[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), rng.integers(8, 90))]
        texts.append(" ".join(words))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc).tolist(),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centers = rng.normal(0.0, 0.15, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (n_emb, 64))).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write_tables(sf_dir: str, scale: float) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, tbl in tables(scale).items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"), compression="snappy")
