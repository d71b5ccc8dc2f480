"""The generic relational query surface (SURVEY.md §2.3/2.4/2.8 obligation).

Each query is a named pair:
- a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame`` — the engine's
  plan, written declaratively so Catalyst handles pushdown/pruning/join
  strategy;
- an equivalent ANSI SQL string the driver runs on DuckDB as oracle.

Determinism rules (the driver hash-compares values):
- every aggregate over doubles is ROUND()ed identically on both sides so
  float summation order cannot flip the last bits;
- every LIMIT/top-k has a unique total order (explicit tiebreaker columns);
- column names are aliased identically on both sides.

Scale notes are per-query docstrings: each plan states why it holds at
100 TB (broadcast choice, shuffle keys, pushdown).
"""

from __future__ import annotations

import os
import stat
import threading
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# The session confs that change how Spark maps parquet types to Spark
# types: a schema inferred under one setting is wrong under another.
_TYPE_MAPPING_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_SCHEMAS_MAX = 256
_SCHEMAS: dict[tuple, StructType] = {}
_SCHEMAS_LOCK = threading.Lock()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a file's schema once per
    file version. Inference is a Spark job (a footer read on an
    executor); a read with the schema supplied only lists the file on
    the driver. Directories and missing paths are inferred every time."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path), st.st_ino, st.st_size, st.st_mtime_ns,
        *(spark.conf.get(c) for c in _TYPE_MAPPING_CONFS),
    )
    with _SCHEMAS_LOCK:
        schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        if len(_SCHEMAS) >= _SCHEMAS_MAX:
            del _SCHEMAS[next(iter(_SCHEMAS))]  # oldest first
        _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table.

    The parquet schema of each table file is memoised on the driver, so
    only the first read of a file version runs Spark's schema-inference
    job; later reads supply the schema Spark inferred then and start no
    job. The key is the file's identity ``(abspath, st_ino, st_size,
    st_mtime_ns)`` plus the session confs that change the parquet->Spark
    type mapping, so a rewritten file or a changed conf is inferred
    again. Only the ``StructType`` is kept (at most 256 entries), never
    data or a DataFrame.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects; we read it as a raw nanosecond long (legacy conf) and
    expose both ``ts`` (microsecond timestamp, for calendar ops) and
    ``ts_ns`` (exact nanos, for order/gap arithmetic that must match a
    nanosecond-precision oracle bit-for-bit). The legacy conf is set for
    every table, so a table's types never depend on whether ``events``
    was read earlier in the session.

    Handles both testdata vintages: TIMESTAMP(NANOS) (read as a raw
    nanosecond long via the legacy conf) and TIMESTAMP(MICROS) (read
    natively; ``ts_ns`` derived as ``unix_micros * 1000``). The session
    timezone is UTC (session.py), so the NTZ->LTZ cast is wall-clock
    preserving and matches DuckDB's naive reading of the same parquet.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if name == "events":
        df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":  # TIMESTAMP(NANOS) file under legacy conf
            return df.withColumn("ts_ns", F.col("ts")).withColumn(
                "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
            )
        ts = F.col("ts").cast("timestamp")
        return df.withColumn(
            "ts_ns", (F.unix_micros(ts) * F.lit(1000)).cast("long")
        ).withColumn("ts", ts)
    # No scan spread at the loader: only the operator knows whether its
    # per-row work is dense enough to pay a round-robin exchange for.
    # A loader-level documents spread (tried in r04/r05) taxed every
    # LIGHT consumer (exact dedup, plain projections) with an exchange of
    # full text bodies plus a physical-planning pass, and measured slower
    # than no spread on all of them at sf0.1 — while the dense consumers
    # (shingling, signatures) now spread themselves at their own entry
    # points (dedup.doc_shingles, text.tokens, the HOF embedding paths).
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None -> rows-only check
    doc: str = ""


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        QUERIES[name] = Query(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# --------------------------------------------------------------------------
# Exact money arithmetic.
#
# TPC-H money columns are exact CENTS and discount/tax exact PERCENTS,
# stored as doubles. A double SUM over them is partition-order-
# dependent: at 10x the driver's bench scale the accumulated FP error
# crosses a ROUND(x, 2) boundary (caught by the round-13 sf1
# certification — q7 off by one cent vs the oracle), and on a real
# cluster it makes the same report differ run to run. So every
# revenue-style aggregate sums in INTEGER units: the per-row factor is
# a long (max ~1.1e11 — price_cents x 100 x 108), the SUM is a
# decimal(30,0) (exact far beyond int64 — overflow would need ~1e19
# rows), and the single division back to dollars is one double op per
# GROUP. DuckDB oracles mirror the shape (SUM(BIGINT) is HUGEINT,
# exact): both engines reduce the same integers, so results are
# identical at every scale and deterministic under any partitioning.
# --------------------------------------------------------------------------


def cents(col: str):
    """Exact integer cents of a 2-decimal money double column.

    ``floor(x*100 + 0.5)`` instead of ``round(x*100)``: Spark's ROUND on
    a double routes through BigDecimal.valueOf(...).setScale(HALF_UP) —
    one BigDecimal + String allocation per row — while FLOOR is a single
    Math.floor. The two are provably equal here: x is an exact 2-decimal
    money value, so x*100 lands within ~4e-9 of its integer (measured
    across every money column at sf0.1/sf1; the IEEE error bound for
    |x| < 1e6 is ~1e-7), never at the 0.5 boundary where HALF_UP and
    floor(+0.5) could disagree. Both forms map NULL -> NULL. The DuckDB
    oracles keep ROUND(x*100) — same integer, either spelling."""
    return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")


def rev_micro():
    """l_extendedprice * (1 - l_discount) in EXACT 1e-4-dollar units."""
    return cents("l_extendedprice") * (100 - cents("l_discount"))


_LIMB_BITS = 21


def exact_int_sum(unit_expr):
    """EXACT sum of an integer-unit LONG expression at plain-long
    aggregation speed: two limb sums (low 21 bits / arithmetic-shift
    high part — the split identity ``v = (v >> b)*2^b + (v & mask)``
    holds for negative values too) recombined in decimal ONCE per
    group. A direct decimal sum measures ~1.5x slower per aggregate on
    the scan-heavy q1; a direct long sum silently overflows. Bound:
    per-row units < 2^42, up to 2^41 (~2.2e12) rows per group — a
    100 TB lineitem group is ~2^39."""
    lo = F.sum(unit_expr.bitwiseAND(F.lit((1 << _LIMB_BITS) - 1)))
    hi = F.sum(F.shiftright(unit_expr, _LIMB_BITS))
    return hi.cast("decimal(30,0)") * F.lit(1 << _LIMB_BITS) + lo


def sum_money(unit_expr, scale: float):
    """EXACT integer sum of ``unit_expr``, back to dollars (one double
    division per group; ``scale`` = units per dollar). For a
    2-decimal OUTPUT use :func:`money_2dp` instead — this division is
    for values that feed further arithmetic (averages, ratios)."""
    return exact_int_sum(unit_expr) / F.lit(float(scale))


def money_2dp(unit_expr, scale: int):
    """EXACT money sum rendered at 2 decimals with NO round-of-double
    anywhere: the sum reduces integers (limb-split longs — see
    :func:`exact_int_sum`), the half-away-from-zero rounding to cents
    happens in integers, and the single final ``cents / 100.0`` is the
    same IEEE op on the same integer in both engines. ``ROUND(double,
    2)`` is NOT that: Spark rounds the shortest decimal repr
    (BigDecimal HALF_UP) while DuckDB rounds the raw binary double,
    and an exact half-cent total — common, ~1% of groups — lands on
    different sides (the round-13 sf1 q7 cent)."""
    s = exact_int_sum(unit_expr)
    per_cent = int(scale) // 100
    if per_cent == 1:
        cents = s
    else:
        cents = F.floor(
            (F.abs(s) + F.lit(per_cent // 2)) / F.lit(per_cent)
        ) * F.when(s < 0, F.lit(-1)).otherwise(F.lit(1))
    return cents.cast("double") / F.lit(100.0)


# The DuckDB spelling of the same shapes is inlined in each oracle
# string (SUM(BIGINT) is HUGEINT, exact; ``//`` is integer division;
# the 2dp output form is ((ABS(SUM(u)) + half) // per_cent) * sign
# / 100.0). Oracles are static literals by design — the driver reads
# them without importing this module's helpers.


# --------------------------------------------------------------------------
# Relational core (TPC-H-style) — the generic-query obligation of SURVEY §2.
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0  AS sum_base_price,
           ((ABS(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))) + 50) // 100)
             / 100.0                                                        AS sum_disc_price,
           ((ABS(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                     * (100 + CAST(ROUND(l_tax * 100) AS BIGINT)))) + 5000) // 10000)
             / 100.0                                                        AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
           ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                 / 100.0 / COUNT(*), 4)                                     AS avg_price,
           ROUND(SUM(CAST(ROUND(l_discount * 100) AS BIGINT))
                 / 100.0 / COUNT(*), 4)                                     AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="""TPC-H Q1 shape: scan-heavy partial aggregation. Money
    aggregates reduce EXACT integer cents (see the module header), so
    the result is identical at every scale and run.
    Scale: map-side combine on 2 low-cardinality keys; the shuffle carries
    only |flags|x|status| partial rows per task. Projection/filter push to
    the parquet scan.""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Per-row integer units are projected ONCE before the aggregate: the
    # two limb sums of each exact money aggregate otherwise re-evaluate
    # their shared unit expression per row (codegen subexpression
    # elimination does not reach across aggregate update expressions —
    # measured ~1.2x on the whole query at sf1).
    pre = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .select(
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            cents("l_extendedprice").alias("_price_c"),
            rev_micro().alias("_rev_u"),
            cents("l_discount").alias("_disc_c"),
            cents("l_tax").alias("_tax_c"),
        )
        .withColumn("_charge_u", F.col("_rev_u") * (100 + F.col("_tax_c")))
    )
    return (
        pre.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            money_2dp(F.col("_price_c"), 100).alias("sum_base_price"),
            money_2dp(F.col("_rev_u"), 10000).alias("sum_disc_price"),
            money_2dp(F.col("_charge_u"), 1000000).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(
                sum_money(F.col("_price_c"), 100) / F.count(F.lit(1)),
                4,
            ).alias("avg_price"),
            F.round(
                sum_money(F.col("_disc_c"), 100) / F.count(F.lit(1)), 4
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           ((ABS(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))) + 50) // 100) * (CASE WHEN SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) < 0 THEN -1 ELSE 1 END) / 100.0 AS revenue,
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="""TPC-H Q3 shape: selective dim filter + fact join + top-k.
    Scale: customer(filtered) broadcasts; orders-lineitem join shuffles on
    orderkey only for surviving rows; top-k is a TakeOrdered, no full sort.""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    # Project the exact revenue unit BEFORE the orderkey shuffle: the
    # join then carries one long instead of two doubles per lineitem row
    # (guide §2.3), and the unit expression is evaluated once per row.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", rev_micro().alias("_rev_u"))
    )
    return (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            money_2dp(F.col("_rev_u"), 10000).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    """
    SELECT n_name, ((ABS(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))) + 50) // 100) * (CASE WHEN SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) < 0 THEN -1 ELSE 1 END) / 100.0 AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    doc="""TPC-H Q5 shape: multi-way star join.
    Scale: region/nation/supplier/customer broadcast (dims); the only big
    shuffle is orders-lineitem on orderkey. Same-nation predicate rides the
    supplier join condition.""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    # One long revenue unit rides the orderkey shuffle instead of two
    # doubles (guide §2.3); evaluated once per row.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", rev_micro().alias("_rev_u")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            money_2dp(F.col("_rev_u"), 10000).alias("revenue")
        )
    )


@register(
    "q10_top_returning_customers",
    """
    SELECT c_custkey, c_name,
           ((ABS(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))) + 50) // 100) * (CASE WHEN SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) < 0 THEN -1 ELSE 1 END) / 100.0 AS revenue,
           ROUND(c_acctbal, 2) AS acctbal, n_name
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="""TPC-H Q10 shape: returned-item revenue per customer, top 20.
    Scale: nation broadcasts; groupBy keys include the custkey so the
    aggregate shuffles once on customer.""",
)
def q10_top_returning_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    # Post-filter projection to (orderkey, unit): one long rides the
    # orderkey shuffle instead of two doubles (guide §2.3).
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", rev_micro().alias("_rev_u"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            money_2dp(F.col("_rev_u"), 10000).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "orders_by_month",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           o_orderstatus,
           COUNT(*) AS n_orders,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_price
    FROM orders
    GROUP BY 1, 2
    """,
    doc="""Calendar rollup: month truncation + status breakdown.
    Scale: two-key groupBy with map-side combine; ~months x statuses rows.""",
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate"))
            .cast("date")
            .alias("order_month"),
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_2dp(cents("o_totalprice"), 100).alias("total_price"),
        )
    )


@register(
    "latest_order_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
    doc="""Window dedup: latest order per customer (the Silver->Gold
    'current state vs history' pattern from SURVEY.md §2.8).
    Scale: single shuffle on o_custkey; rank prune inside the window.""",
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        load_table(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


@register(
    "customer_running_revenue",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
    doc="""Cumulative window aggregate per customer.
    Scale: one shuffle on o_custkey; sequential in-partition scan.""",
)
def customer_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@register(
    "supplier_balance_by_nation",
    """
    SELECT n_name, COUNT(*) AS n_suppliers,
           SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) / 100.0 AS total_balance,
           ROUND(MAX(s_acctbal), 2) AS max_balance
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    doc="Broadcast dim join + small aggregate.",
)
def supplier_balance_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            money_2dp(cents("s_acctbal"), 100).alias("total_balance"),
            F.round(F.max("s_acctbal"), 2).alias("max_balance"),
        )
    )


@register(
    "parts_min_price_by_type",
    """
    SELECT p_type, ROUND(MIN(p_retailprice), 2) AS min_price,
           ROUND(MAX(p_retailprice), 2) AS max_price, COUNT(*) AS n_parts
    FROM part WHERE p_size >= 10
    GROUP BY p_type
    """,
    doc="Filtered aggregate; p_size predicate pushes to parquet scan.",
)
def parts_min_price_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") >= 10)
        .groupBy("p_type")
        .agg(
            F.round(F.min("p_retailprice"), 2).alias("min_price"),
            F.round(F.max("p_retailprice"), 2).alias("max_price"),
            F.count(F.lit(1)).alias("n_parts"),
        )
    )


@register(
    "customers_without_big_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
    doc="""Anti join (NOT EXISTS) — reject-stream pattern (SURVEY.md J1).
    Scale: the filtered order-key set shrinks before the anti join;
    broadcast when it fits, else shuffled left_anti — Catalyst/AQE decides.""",
)
def customers_without_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "high_value_open_orders_union",
    """
    SELECT o_orderkey, o_totalprice, 'high' AS bucket
    FROM orders WHERE o_totalprice > 400000
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'open_urgent' AS bucket
    FROM orders WHERE o_orderstatus = 'O' AND o_orderpriority = '1-URGENT'
    """,
    doc="Set op: UNION ALL of two filtered scans (H6 union pattern).",
)
def high_value_open_orders_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    high = orders.filter(F.col("o_totalprice") > 400000).select(
        "o_orderkey", "o_totalprice", F.lit("high").alias("bucket")
    )
    open_urgent = orders.filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_orderpriority") == "1-URGENT")
    ).select("o_orderkey", "o_totalprice", F.lit("open_urgent").alias("bucket"))
    return high.unionByName(open_urgent)


@register(
    "lineitem_distinct_parts",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="""Multi-distinct aggregate.
    Scale: Spark expands multi-distinct into a grouping-id repartition;
    exact distinct is required by the oracle — approx_count_distinct is the
    100 TB variant (exposed separately).""",
)
def lineitem_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "orders_rollup",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="Hierarchical rollup (status -> priority -> grand total).",
)
def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_2dp(cents("o_totalprice"), 100).alias("total_price"),
        )
    )


@register(
    "order_priority_pivot",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_O,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_F,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_P
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Pivot on a known value set (conditional aggregation).",
)
def order_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .na.fill(0, ["O", "F", "P"])
        .select(
            "o_orderpriority",
            F.col("O").alias("status_O"),
            F.col("F").alias("status_F"),
            F.col("P").alias("status_P"),
        )
    )


# --------------------------------------------------------------------------
# Events: time-series / JSON / sessionization (streaming-adjacent analytics)
# --------------------------------------------------------------------------


@register(
    "events_hourly",
    """
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="""Tumbling-window aggregate (batch form of the streaming windowed
    agg in streaming/events.py).""",
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "events_json_props",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
    FROM events GROUP BY event_type
    """,
    doc="""JSON extraction in the hot path (F8 pattern over a fact table).
    Scale: get_json_object is JVM-side; no Python. Single groupBy shuffle.""",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.round(F.avg(k), 4).alias("avg_k"),
        )
    )


@register(
    "user_sessions",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
    FROM flagged GROUP BY user_id
    """,
    doc="""Sessionization via gap detection (lag window + cumulative flag) —
    the batch equivalent of session windows in Structured Streaming.
    Scale: one shuffle on user_id; everything else in-partition.""",
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts_ns keeps full nanosecond precision so the 30-minute gap compare
    # agrees exactly with the nanosecond-timestamp oracle.
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    prev = F.lag("ts_ns").over(w)
    new_session = F.when(
        prev.isNull() | (F.col("ts_ns") - prev > 1800 * 1_000_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        load_table(spark, sf_dir, "events")
        .withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
