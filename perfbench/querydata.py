"""Seeded query dataset: the TPC-H-like star schema plus the events,
documents and embeddings tables the headline queries read.

Column names, types and value distributions follow the engine's
test data layout (one parquet file per table, ``<dir>/<table>.parquet``),
at the size of its smallest scale (lineitem ~6,000 rows). The same seed
gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The headline set of the engine's bench harness, fixed here so the
# workload does not drift when the harness list changes.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_priority_with_late_items",
    "q5_local_supplier_volume",
    "q10_top_returning_customers",
    "q14_red_part_revenue_share",
    "q18_large_volume_customers",
    "q19_disjunctive_revenue",
    "orders_by_month",
    "latest_order_per_customer",
    "customer_running_revenue",
    "lineitem_distinct_parts",
    "events_hourly",
    "events_json_props",
    "events_moving_avg",
    "user_sessions",
    "doc_text_stats",
    "doc_fingerprint",
    "doc_lang_id",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "fuzzy_name_match",
    "ann_topk",
    "ann_lsh_topk",
]

SIZES = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "fr", "es", "zh", "de"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DAY_US = 86_400 * 10**6


def _dates(rng, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
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
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    names = [
        f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n["part"])
    ]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": names,
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
            "o_orderdate": _dates(rng, n["orders"], "1995-01-01", 2400),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
        }
    )
    m = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], m),
            "l_partkey": rng.integers(0, n["part"], m),
            "l_suppkey": rng.integers(0, n["supplier"], m),
            "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["F", "O"], m),
            "l_shipdate": _dates(rng, m, "1995-01-02", 2500),
        }
    )
    e = n["events"]
    ts = np.sort(rng.integers(0, 30 * DAY_US, e))
    out["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(e // 66, 2), e),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": np.round(rng.exponential(50, e) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    texts = [
        " ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(d)
    ]
    # exact and near duplicates, so the dedup queries find pairs
    for j, i in enumerate(rng.choice(d, d // 20, replace=False)):
        texts[i] = texts[(i + 1) % d] + ("" if j % 2 else " dup")
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(d, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, d),
            "source": [f"src{s}" for s in rng.integers(0, 20, d)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    v = n["embeddings"]
    emb = rng.normal(size=(v, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(v, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, v).astype(np.int32),
        }
    )
    return out


def write(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table to ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
