"""Relational battery (star schema) — SURVEY.md §2.2/2.4-2.7.

Split out of plans/queries.py (round 3); queries.py re-exports
everything, so import paths are unchanged for callers."""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import (
    MINHASH_BANDS,
    MINHASH_ROWS_PER_BAND,
    MINHASH_SEEDS,
    SIMHASH_BITS,
    md5_int,
    minhash_signature,
    tokens_col,
    word_shingles,
)
from ..algo.stoplists import _SYNTH_STOPWORDS
from .common import (  # noqa: F401 — shared helpers + SQL fragments
    STOPWORDS_SORTED,
    _STOP_SQL,
    _dec,
    _docs_par,
    _t,
)
from .sql_relational import (  # noqa: F401 — SQL twins (data module)
    _ANTI_SQL,
    _EVENTS_HOURLY_SQL,
    _EVENTS_JSON_SQL,
    _GAPFILL_SQL,
    _GROUPING_SETS_SQL,
    _INTEGRITY_SQL,
    _INTERPOLATE_SQL,
    _MIN_COST_SQL,
    _NATION_REV_SQL,
    _OUT_OF_ORDER_SQL,
    _PERCENT_RANK_SQL,
    _PIT_STATE_SQL,
    _PRICE_NTILE_SQL,
    _Q10_SQL,
    _Q13_SQL,
    _Q15_SQL,
    _Q16_SQL,
    _Q17_SQL,
    _Q19_SQL,
    _Q1_SQL,
    _Q20_SQL,
    _Q21_SQL,
    _Q22_SQL,
    _Q4_SQL,
    _Q6_SQL,
    _Q7_SQL,
    _Q8_SQL,
    _Q9_SQL,
    _RANK_SQL,
    _ROLLUP_SQL,
    _SEMI_SQL,
    _SESSIONS_SQL,
    _TOP_CUST_SQL,
    _TRANSITIONS_SQL,
    _UNPIVOT_SQL,
    _USER_SCD2_SQL,
    _VARIANT_SQL,
)


# ---------------------------------------------------------------------------
# Relational battery (star schema) — SURVEY.md §2.2/2.4/2.5/2.6/2.7
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-style wide aggregation (TPC-H Q1 shape): filter pushdown to the
    parquet scan + hash aggregate with map-side partials."""
    li = _t(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(3,2)")
    disc_price = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(3,2)"))
    charge = disc_price * (one + _dec("l_tax", "decimal(3,2)"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity", "decimal(12,2)")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.round(F.col("sum_qty") / F.col("count_order"), 6))
        .withColumn("avg_price", F.round(F.col("sum_base_price") / F.col("count_order"), 6))
    )


# SQL twin _Q1_SQL lives in plans/sql_relational.py


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J + A + O1 top-k: aggregate orders BEFORE the join (smaller
    shuffle), broadcast the customer dim, window row_number top-20."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    orders = _t(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return (
        rev.join(F.broadcast(cust), rev.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "c_mktsegment", "revenue", "n_orders")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
    )


# SQL twin _TOP_CUST_SQL lives in plans/sql_relational.py


def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiway join: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region.
    Dims are broadcast; the only big shuffle is lineitem⋈orders on
    orderkey (at 100 TB: co-partition/bucket both on orderkey)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    one = F.lit(1).cast("decimal(3,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(3,2)"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# SQL twin _NATION_REV_SQL lives in plans/sql_relational.py


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (the same shape as the resume pending-work join
    J2, SURVEY.md §2.4): customers with no URGENT-priority order.
    (Every customer has SOME order in this fixture, so the anti-join is
    against the urgent subset — non-trivial result at every SF.)"""
    cust = _t(spark, sf_dir, "customer")
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# SQL twin _ANTI_SQL lives in plans/sql_relational.py


def q_urgent_shipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: orders having at least one early-shipped line."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp")
    )
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# SQL twin _SEMI_SQL lives in plans/sql_relational.py


def q_rank_customers_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 window ranking: top-3 customers by acctbal per nation."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("n_name", "rk", "c_custkey", "c_name",
                F.round("c_acctbal", 2).alias("acctbal"))
    )


# SQL twin _RANK_SQL lives in plans/sql_relational.py


def q_rollup_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets rollup over (status, priority) with subtotal rows."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
    )


# SQL twin _ROLLUP_SQL lives in plans/sql_relational.py


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation over the event stream table.

    Values are pinned to exact scale-6 BIGINT units per row before the
    average (AVG over raw doubles is accumulation-order-dependent —
    the q19 failure class); the sum already went through the exact
    DECIMAL path."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
            "value",
            F.round(F.col("value") * 1000000).cast("long").alias("v_e6"),
        )
        .groupBy("hour", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_e6").alias("_v_e6"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .select(
            "hour",
            "event_type",
            "n_events",
            F.round(
                F.col("_v_e6") / (F.col("n_events") * F.lit(1000000.0)), 6
            ).alias("avg_value"),
            "sum_value",
        )
    )


# SQL twin _EVENTS_HOURLY_SQL lives in plans/sql_relational.py


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the props column (SURVEY.md §2.10)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.min("k").alias("min_k"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# SQL twin _EVENTS_JSON_SQL lives in plans/sql_relational.py


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag over (user, ts), new session when the gap
    exceeds 30 minutes, session id via running sum — the canonical
    stateful-over-window pattern (stream-analytics shape, batch form)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    # ts is TIMESTAMP_NTZ; session tz is pinned UTC, so ntz->timestamp->
    # long is floored epoch seconds (matches the oracle's floor(epoch()))
    epoch = F.col("ts").cast("timestamp").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn("new_sess", new_sess).withColumn(
        "session_seq", F.sum("new_sess").over(w)
    )
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max(epoch) - F.min(epoch)).alias("duration_sec"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("session_value"),
        )
    )


# SQL twin _SESSIONS_SQL lives in plans/sql_relational.py


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (TPC-H Q2 skeleton): suppliers whose
    account balance equals the minimum within their nation — decorrelated
    by Catalyst into an aggregate + join."""
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    min_bal = sup.groupBy("s_nationkey").agg(F.min("s_acctbal").alias("min_bal"))
    return (
        sup.join(F.broadcast(min_bal), "s_nationkey")
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .select("n_name", "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal"))
    )


# SQL twin _MIN_COST_SQL lives in plans/sql_relational.py




def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS decorrelated to a LEFT SEMI join): count
    orders per priority in a quarter where at least one lineitem
    shipped after the order date (late-shipment proxy — the fixture has
    no commit/receipt dates). The semi join carries only the join key
    after each side's filter is pushed to its scan; at scale this is
    the canonical "existence probe" — no row multiplication, the probe
    side never leaves its partitioning."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > orders["o_orderdate"]),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# SQL twin _Q4_SQL lives in plans/sql_relational.py


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan + conjunctive filter + single-row aggregate —
    the predicate-pushdown/column-pruning showcase (every predicate
    reaches the parquet scan as PushedFilters; ReadSchema is 4 columns;
    asserted in tests/test_plans.py). Decimal partial sums keep the
    result exact under any aggregation order."""
    li = _t(spark, sf_dir, "lineitem")
    disc = _dec("l_discount", "decimal(3,2)")
    revenue = _dec("l_extendedprice") * disc
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.09)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# SQL twin _Q6_SQL lives in plans/sql_relational.py


Q18_MIN_QTY = 300


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): aggregate lineitem
    quantity per order FIRST (the group-then-filter HAVING probe),
    keep orders at >= Q18_MIN_QTY units, then join the tiny survivor
    set to orders and customer. Aggregate-before-join is the point at
    scale: the heavy fact table collapses to one row per order before
    any join, and the survivor set (5 rows at sf0.001) broadcasts onto
    the dimension side. Quantities are integral doubles — cast to
    BIGINT before summing so the HAVING comparison is exact."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("bigint").alias("q")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("q").alias("total_qty"))
        .filter(F.col("total_qty") >= Q18_MIN_QTY)
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        F.broadcast(big)
        .join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("total_qty").cast("bigint").alias("total_qty"),
        )
    )


_Q18_SQL = f"""
WITH s AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS BIGINT)) AS total_qty
  FROM lineitem GROUP BY 1 HAVING SUM(CAST(l_quantity AS BIGINT)) >= {Q18_MIN_QTY}
)
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
       CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(s.total_qty AS BIGINT) AS total_qty
FROM s
JOIN orders o ON o.o_orderkey = s.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
"""


def q20_promo_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape adapted to this fixture (no partsupp table):
    suppliers whose 1996 shipped quantity of PROMO-type parts exceeds
    150% of the average supplier's — the nested-aggregate existence
    probe (per-supplier aggregate compared against a corpus-level
    aggregate of that same aggregate). The threshold comparison uses
    integer cross-multiplication (qty * n_supp * 2 > grand * 3), never
    a division — exact in both engines. The corpus-level (grand, n)
    pair is one broadcast row; the part dimension filter broadcasts
    onto the fact scan."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_partkey", "l_suppkey", F.col("l_quantity").cast("bigint").alias("q"))
    per_supp = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("l_suppkey")
        .agg(F.sum("q").alias("qty"))
    )
    totals = per_supp.agg(
        F.sum("qty").alias("grand"), F.count(F.lit(1)).alias("n_supp")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.join(F.broadcast(totals))
        .filter(F.col("qty") * F.col("n_supp") * 2 > F.col("grand") * 3)
        .join(F.broadcast(supp), per_supp["l_suppkey"] == supp["s_suppkey"])
        .select("s_suppkey", "s_name", F.col("qty").cast("bigint").alias("promo_qty"))
    )


# SQL twin _Q20_SQL lives in plans/sql_relational.py


def q_events_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT surface (Spark 4): parse the JSON props
    column into VariantType ONCE (a binary-encoded parsed tree, not a
    string), then extract typed paths with variant_get — the lakehouse
    answer to repeated get_json_object re-parsing. At scale the parse
    cost is paid once per row and every downstream path extraction is
    a cheap tree walk; with Parquet variant shredding the paths prune
    like real columns.

    Census per event_type over the extracted integer: count, exact
    sum, max, and a >= 50 threshold count. Oracle: DuckDB extracts the
    same typed path with json_extract + INT cast."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.parse_json("props").alias("v")
    )
    k = F.variant_get("v", "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.sum((F.col("k") >= 50).cast("bigint")).alias("n_high"),
        )
    )


# SQL twin _VARIANT_SQL lives in plans/sql_relational.py


# HyperLogLog register-size configs (p -> m = 2^p registers): p=5
# exercises the raw-estimate branch at fixture cardinalities (2.5m =
# 80 < 150 distinct users), p=8 the linear-counting branch (E < 640
# with empty registers). 60-bit md5 hash => no large-range correction
# (it exists for 32-bit hashes saturating near 2^32; unreachable here).
HLL_PS = (5, 8)


def hll_distinct_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog (Flajolet et al. 2007) distinct-user
    estimate per event type at two register sizes, next to the exact
    count and the achieved error — the cardinality-sketch operator as
    a cross-engine-checkable query (Spark's built-in
    approx_count_distinct is engine-specific, so it can only be
    bounds-tested; this one is bit-reproducible in DuckDB).

    Everything before the final estimate is exact integer math both
    engines agree on: hash = 60-bit md5 prefix, register = h mod m,
    rho = leading-zero rank via the minimal-width binary string, and
    the harmonic sum is kept as a BIGINT in units of 2^-(62-p) (max
    possible sum m * 2^(62-p) = 2^62 — no overflow, no float
    accumulation). The two doubles (raw estimate, linear counting)
    are single fixed IEEE expressions over those integers, quantized
    to micro-units per the repo's ln convention.

    Scale shape: one map-side projection + one (event_type, p, reg)
    aggregate + one (event_type, p) aggregate — the register table is
    at most groups x m rows regardless of input size, which is the
    entire point of the sketch; the exact COUNT(DISTINCT) twin column
    is the fixture-scale audit, not part of the production plan."""
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    h = md5_int(F.col("user_id").cast("string"))
    base = ev.select(
        "event_type",
        h.alias("h"),
        F.explode(F.array(*[F.lit(p) for p in HLL_PS])).alias("p"),
    ).selectExpr(
        "event_type",
        "p",
        "CAST(pow(2.0, p) AS BIGINT) AS m",
        "pmod(h, CAST(pow(2.0, p) AS BIGINT)) AS reg",
        "h DIV CAST(pow(2.0, p) AS BIGINT) AS rest",
    )
    # rho = (leading zeros of the (60-p)-bit suffix) + 1
    #     = (60 - p) + 1 - bitlength(rest);  bin() is minimal-width
    rho = F.when(F.col("rest") == 0, F.lit(61) - F.col("p")).otherwise(
        F.lit(61) - F.col("p") - F.length(F.bin("rest"))
    )
    regs = (
        base.withColumn("rho", rho)
        .groupBy("event_type", "p", "m", "reg")
        .agg(F.max("rho").alias("mx"))
    )
    # harmonic sum in units of 2^-(62-p): present register -> 2^(62-p-mx)
    scale = F.lit(62) - F.col("p")
    per = regs.groupBy("event_type", "p", "m").agg(
        F.count(F.lit(1)).alias("n_regs_hit"),
        F.sum(F.pow(F.lit(2.0), scale - F.col("mx")).cast("bigint")).alias(
            "sum_hit"
        ),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    j = per.join(F.broadcast(exact), "event_type").selectExpr(
        "event_type",
        "p",
        "m",
        "n_regs_hit",
        "n_exact",
        "m - n_regs_hit AS n_zero_regs",
        "sum_hit + (m - n_regs_hit) * CAST(pow(2.0, 62 - p) AS BIGINT)"
        " AS hll_sum_q",
    )
    alpha = F.when(F.col("p") == 5, F.lit(0.697)).otherwise(
        F.lit(0.7213 / (1.0 + 1.079 / 256.0))
    )
    e_raw = (
        alpha
        * F.col("m").cast("double")
        * F.col("m").cast("double")
        * F.pow(F.lit(2.0), F.lit(62) - F.col("p"))
        / F.col("hll_sum_q")
    )
    mD = F.col("m").cast("double")
    est = F.when(
        (e_raw <= 2.5 * mD) & (F.col("n_zero_regs") > 0),
        mD * F.log(mD / F.col("n_zero_regs")),
    ).otherwise(e_raw)
    return j.select(
        "event_type",
        "p",
        "n_exact",
        "n_regs_hit",
        "n_zero_regs",
        "hll_sum_q",
        F.floor(est * 1e6).cast("bigint").alias("est_micro"),
        F.floor(F.abs(est - F.col("n_exact")) / F.col("n_exact") * 1e3)
        .cast("bigint")
        .alias("err_permille"),
    )


_HLL_SQL = f"""
WITH base AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h,
         u.p
  FROM events, UNNEST(ARRAY{list(HLL_PS)}) AS u(p)
), rr AS (
  SELECT event_type, p, CAST(POWER(2.0, p) AS BIGINT) AS m,
         h % CAST(POWER(2.0, p) AS BIGINT) AS reg,
         h // CAST(POWER(2.0, p) AS BIGINT) AS rest
  FROM base
), regs AS (
  SELECT event_type, p, m, reg,
         MAX(CASE WHEN rest = 0 THEN 61 - p
                  ELSE 61 - p - length(bin(rest)) END) AS mx
  FROM rr GROUP BY 1, 2, 3, 4
), per AS (
  SELECT event_type, p, m, COUNT(*) AS n_regs_hit,
         CAST(SUM(CAST(POWER(2.0, 62 - p - mx) AS BIGINT)) AS BIGINT)
           AS sum_hit
  FROM regs GROUP BY 1, 2, 3
), exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events GROUP BY 1
), j AS (
  SELECT per.event_type, p, m, n_regs_hit, n_exact,
         m - n_regs_hit AS n_zero_regs,
         sum_hit + (m - n_regs_hit) * CAST(POWER(2.0, 62 - p) AS BIGINT)
           AS hll_sum_q
  FROM per JOIN exact ON per.event_type = exact.event_type
), est AS (
  SELECT *,
         (CASE WHEN p = 5 THEN CAST('0.697' AS DOUBLE)
               ELSE CAST('0.7213' AS DOUBLE)
                    / (1.0 + CAST('1.079' AS DOUBLE) / 256.0) END)
         * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)
         * POWER(2.0, 62 - p) / hll_sum_q AS e_raw
  FROM j
), fin AS (
  SELECT *,
         CASE WHEN e_raw <= 2.5 * CAST(m AS DOUBLE) AND n_zero_regs > 0
              THEN CAST(m AS DOUBLE)
                   * ln(CAST(m AS DOUBLE) / n_zero_regs)
              ELSE e_raw END AS e
  FROM est
)
SELECT event_type, p, CAST(n_exact AS BIGINT) AS n_exact,
       CAST(n_regs_hit AS BIGINT) AS n_regs_hit,
       CAST(n_zero_regs AS BIGINT) AS n_zero_regs,
       CAST(hll_sum_q AS BIGINT) AS hll_sum_q,
       CAST(FLOOR(e * 1e6) AS BIGINT) AS est_micro,
       CAST(FLOOR(ABS(e - n_exact) / n_exact * 1e3) AS BIGINT)
         AS err_permille
FROM fin
"""


ROLLING_WINDOW_SEC = 3600


def q_events_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TRAILING-HOUR rolling aggregate over event time — a
    true RANGE window frame (peers by timestamp value, not row
    position): for every event, how many events and how much quantized
    value the same user produced in the preceding 3600 s inclusive.
    The rate-limit/burst-detection shape.

    Scale shape: one user_id exchange; the range frame is evaluated
    with a sliding pointer inside each sorted partition — no
    self-join, no explode of the hour into rows.

    Cross-engine determinism: frame bounds compare exact epoch-second
    BIGINTs; the summed value is pre-quantized (floor(value*1e6)) so
    the window sum is an exact integer regardless of slide order."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        # NTZ -> timestamp -> long: floored epoch seconds (same
        # convention as q_event_sessions; matches DuckDB floor(epoch()))
        F.col("ts").cast("timestamp").cast("long").alias("e"),
        F.floor(F.col("value") * 1e6).cast("bigint").alias("v_q6"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("e")
        .rangeBetween(-(ROLLING_WINDOW_SEC - 1), 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_events_1h"),
        F.sum("v_q6").over(w).alias("v_sum_q6_1h"),
    )


_ROLLING_SQL = f"""
SELECT event_id, user_id,
       COUNT(*) OVER w AS n_events_1h,
       CAST(SUM(v_q6) OVER w AS BIGINT) AS v_sum_q6_1h
FROM (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS e,
         CAST(floor(value * 1e6) AS BIGINT) AS v_q6
  FROM events
)
WINDOW w AS (PARTITION BY user_id ORDER BY e
             RANGE BETWEEN {ROLLING_WINDOW_SEC - 1} PRECEDING AND CURRENT ROW)
"""


# -- module registry (merged into plans.queries.SQL_CHECKED) ----------------
# ---------------------------------------------------------------------------
# Ordered event funnel + retention cohorts
# ---------------------------------------------------------------------------

# The funnel's per-step conversion horizon.
FUNNEL_HORIZON_DAYS = 7


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel view -> click -> purchase: a user
    converts a step only with an event STRICTLY AFTER the previous
    step's first completion and within ``FUNNEL_HORIZON_DAYS`` of it —
    the product-analytics shape (sequence constraint, not mere
    event-type membership) that a bag-of-events GROUP BY cannot
    express.

    Plan: each step is a conditional MIN over the same user window, so
    the whole funnel is ONE user_id shuffle feeding three chained
    Window nodes (same partitioning — Catalyst reuses the exchange),
    then a distinct per-user row and a single global rollup. No
    self-joins, no per-step passes over the event log.

    Determinism: microsecond-timestamp comparisons and interval
    arithmetic only — no floats anywhere."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    horizon = F.expr(f"INTERVAL {FUNNEL_HORIZON_DAYS} DAYS")
    first_view = F.min(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    s1 = ev.withColumn("t_view", first_view)
    first_click = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + horizon),
            F.col("ts"),
        )
    ).over(w)
    s2 = s1.withColumn("t_click", first_click)
    first_purchase = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + horizon),
            F.col("ts"),
        )
    ).over(w)
    per_user = (
        s2.withColumn("t_buy", first_purchase)
        .select("user_id", "t_view", "t_click", "t_buy")
        .distinct()
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("t_view").isNotNull().cast("bigint")).alias("n_view"),
        F.sum(F.col("t_click").isNotNull().cast("bigint")).alias(
            "n_view_click"
        ),
        F.sum(F.col("t_buy").isNotNull().cast("bigint")).alias(
            "n_view_click_purchase"
        ),
    )


_FUNNEL_SQL = f"""
WITH s AS (
  SELECT user_id, event_type, ts,
         MIN(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t_view
  FROM events
), s2 AS (
  SELECT *,
         MIN(CASE WHEN event_type = 'click' AND ts > t_view
                   AND ts <= t_view + INTERVAL {FUNNEL_HORIZON_DAYS} DAYS
                  THEN ts END)
           OVER (PARTITION BY user_id) AS t_click
  FROM s
), s3 AS (
  SELECT DISTINCT user_id, t_view, t_click,
         MIN(CASE WHEN event_type = 'purchase' AND ts > t_click
                   AND ts <= t_click + INTERVAL {FUNNEL_HORIZON_DAYS} DAYS
                  THEN ts END)
           OVER (PARTITION BY user_id) AS t_buy
  FROM s2
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_view,
       CAST(SUM(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_view_click,
       CAST(SUM(CASE WHEN t_buy IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_view_click_purchase
FROM (SELECT DISTINCT user_id, t_view, t_click, t_buy FROM s3)
"""


# Retention matrix horizon (day offsets reported per cohort).
RETENTION_MAX_OFFSET = 7


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by FIRST-activity day
    (the cohort), counted as active on each later day-offset up to
    ``RETENTION_MAX_OFFSET`` — the activation/retention table behind
    every 'day-N retention' metric.

    Plan: ONE user_id hash aggregate collapses each user to their
    distinct active-day set (bounded by the calendar, not event
    volume — collect_set dedups map-side), the cohort day is
    array_min over it, and one (cohort, offset) aggregate ends it —
    two exchanges total, no window, no sort (a distinct-then-window
    formulation costs a third exchange because the distinct key
    (user, day) is wider than the window key). datediff on DATEs
    only — exact in both engines."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    per_user = ev.groupBy("user_id").agg(
        F.collect_set("d").alias("days")
    )
    tagged = per_user.select(
        "user_id",
        F.array_min("days").alias("cohort_day"),
        F.explode("days").alias("d"),
    )
    off = F.datediff("d", "cohort_day")
    return (
        tagged.filter(off <= RETENTION_MAX_OFFSET)
        .groupBy("cohort_day", off.alias("day_offset"))
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


_RETENTION_SQL = f"""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), tagged AS (
  SELECT user_id, d,
         MIN(d) OVER (PARTITION BY user_id) AS cohort_day
  FROM days
)
SELECT cohort_day, datediff('day', cohort_day, d) AS day_offset,
       COUNT(DISTINCT user_id) AS n_active
FROM tagged
WHERE datediff('day', cohort_day, d) <= {RETENTION_MAX_OFFSET}
GROUP BY 1, 2
"""


# -- Z-order layout census ---------------------------------------------------
# Morton/Z-order clustering (Orenstein & Merrett 1984; the layout
# behind Delta OPTIMIZE ZORDER BY and Iceberg's sort-order rewrite):
# interleaving the bits of two keys makes files tight in BOTH
# dimensions, so min/max data skipping prunes for either predicate.
ZORDER_BITS = 16
ZORDER_BUCKETS = 16


def _interleave_bits(u: Column, t: Column, bits: int = ZORDER_BITS) -> Column:
    """Morton code: bit i of ``u`` -> position 2i+1, bit i of ``t`` ->
    position 2i. Pure JVM bit ops, whole-stage-codegen'd."""
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(u, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        terms.append(F.shiftleft(F.shiftright(t, i).bitwiseAND(F.lit(1)), 2 * i))
    return reduce(operator.add, terms)


def zorder_layout_census(
    spark: SparkSession, sf_dir: str, n_buckets: int = ZORDER_BUCKETS
) -> DataFrame:
    """Data-skipping effectiveness of Z-ORDER vs natural time order
    over events(user_id, ts): bucket the table both ways into
    ``n_buckets`` equal-width files, record each bucket's min/max per
    dimension (exactly the parquet/Iceberg footer stats a reader
    prunes on), and report how many buckets a single-user scan and a
    single-hour scan must open under each layout.

    Scale shape: both bucket keys are EQUAL-WIDTH integer formulas
    ((key * n) div range) computed map-side — no global sort, no ntile
    window; at 100 TB this is repartitionByRange on the same key. The
    only non-map work is the tiny (layout, bucket) footer aggregate
    and two broadcast range-joins of the distinct probe values against
    the 2*n_buckets footer rows. Integer arithmetic end to end.

    Expected physics (asserted by the oracle twin, not assumed):
    natural order is perfect for time (1 bucket/hour) but worthless
    for users (every bucket holds every user); Z-order pays a small
    time-locality cost to make user scans prune too."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        # NTZ -> timestamp -> long: floored epoch seconds, the exact
        # rule of the oracle's floor(epoch(ts))
        F.col("ts").cast("timestamp").cast("long").alias("ep"),
    )
    bounds = ev.agg(F.min("ep").alias("ep0"), F.max("ep").alias("ep1"))
    span16 = F.lit((1 << ZORDER_BITS) - 1)
    keyed = ev.join(F.broadcast(bounds)).select(
        "event_id",
        "user_id",
        "ep",
        (F.col("user_id") % (1 << ZORDER_BITS)).alias("u16"),
        F.expr(
            f"((ep - ep0) * {(1 << ZORDER_BITS) - 1}) div greatest(1, ep1 - ep0)"
        ).alias("t16"),
    )
    zkeyed = keyed.withColumn("zval", _interleave_bits(F.col("u16"), F.col("t16")))
    both = zkeyed.select(
        F.lit("zorder").alias("layout"),
        F.expr(f"cast((zval * {n_buckets}) div {1 << (2 * ZORDER_BITS)} as int)").alias(
            "bucket"
        ),
        "user_id",
        "ep",
    ).unionAll(
        zkeyed.select(
            F.lit("natural").alias("layout"),
            F.expr(f"cast((t16 * {n_buckets}) div {1 << ZORDER_BITS} as int)").alias(
                "bucket"
            ),
            "user_id",
            "ep",
        )
    )
    footers = both.groupBy("layout", "bucket").agg(
        F.min("user_id").alias("u_min"),
        F.max("user_id").alias("u_max"),
        F.expr("min(ep) div 3600").alias("h_min"),
        F.expr("max(ep) div 3600").alias("h_max"),
    )
    users = ev.select("user_id").distinct()
    hours = ev.select(F.expr("ep div 3600").alias("hr")).distinct()
    touch_u = users.join(
        F.broadcast(footers),
        (F.col("user_id") >= F.col("u_min")) & (F.col("user_id") <= F.col("u_max")),
    ).groupBy("layout").agg(F.count(F.lit(1)).alias("n_touch_u"))
    touch_h = hours.join(
        F.broadcast(footers),
        (F.col("hr") >= F.col("h_min")) & (F.col("hr") <= F.col("h_max")),
    ).groupBy("layout").agg(F.count(F.lit(1)).alias("n_touch_h"))
    sizes = footers.groupBy("layout").agg(F.count(F.lit(1)).alias("n_files"))
    # probe-set sizes as a one-row broadcast (no driver actions)
    denoms = users.agg(F.count(F.lit(1)).alias("n_users")).join(
        hours.agg(F.count(F.lit(1)).alias("n_hours"))
    )
    return (
        sizes.join(touch_u, "layout")
        .join(touch_h, "layout")
        .join(F.broadcast(denoms))
        .select(
            "layout",
            "n_files",
            F.round(F.col("n_touch_u") / F.col("n_users"), 6).alias(
                "avg_files_per_user_scan"
            ),
            F.round(F.col("n_touch_h") / F.col("n_hours"), 6).alias(
                "avg_files_per_hour_scan"
            ),
        )
    )


def _zorder_sql(bits: int = ZORDER_BITS, n_buckets: int = ZORDER_BUCKETS) -> str:
    z_terms = " + ".join(
        f"(((u16 >> {i}) & 1) << {2 * i + 1}) + (((t16 >> {i}) & 1) << {2 * i})"
        for i in range(bits)
    )
    return f"""
WITH b AS (
  SELECT MIN(floor(epoch(ts))::BIGINT) AS ep0, MAX(floor(epoch(ts))::BIGINT) AS ep1
  FROM events
), keyed AS (
  SELECT event_id, user_id, floor(epoch(ts))::BIGINT AS ep,
         user_id % {1 << bits} AS u16,
         ((floor(epoch(ts))::BIGINT - b.ep0) * {(1 << bits) - 1})
           // greatest(1, b.ep1 - b.ep0) AS t16
  FROM events, b
), z AS (
  SELECT event_id, user_id, ep, ({z_terms}) AS zval, t16 FROM keyed
), layouts AS (
  SELECT 'zorder' AS layout,
         CAST((zval * {n_buckets}) // {1 << (2 * bits)} AS INTEGER) AS bucket,
         user_id, ep
  FROM z
  UNION ALL
  SELECT 'natural' AS layout,
         CAST((t16 * {n_buckets}) // {1 << bits} AS INTEGER) AS bucket,
         user_id, ep
  FROM z
), footers AS (
  SELECT layout, bucket, MIN(user_id) AS u_min, MAX(user_id) AS u_max,
         MIN(ep) // 3600 AS h_min, MAX(ep) // 3600 AS h_max
  FROM layouts GROUP BY 1, 2
), users AS (SELECT DISTINCT user_id FROM keyed),
hours AS (SELECT DISTINCT ep // 3600 AS hr FROM keyed),
tu AS (
  SELECT layout, COUNT(*) AS n_touch_u
  FROM users u JOIN footers f ON u.user_id BETWEEN f.u_min AND f.u_max
  GROUP BY 1
), th AS (
  SELECT layout, COUNT(*) AS n_touch_h
  FROM hours h JOIN footers f ON h.hr BETWEEN f.h_min AND f.h_max
  GROUP BY 1
), sz AS (SELECT layout, COUNT(*) AS n_files FROM footers GROUP BY 1)
SELECT sz.layout, sz.n_files,
       ROUND(CAST(n_touch_u AS DOUBLE) / (SELECT COUNT(*) FROM users), 6)
         AS avg_files_per_user_scan,
       ROUND(CAST(n_touch_h AS DOUBLE) / (SELECT COUNT(*) FROM hours), 6)
         AS avg_files_per_hour_scan
FROM sz JOIN tu USING (layout) JOIN th USING (layout)
"""


def q_user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-state (SCD-2 style) intervals over the event stream:
    each user's current state is their latest event_type; collapsing
    consecutive same-state events yields one row per (user, state
    run) with ``valid_from`` / ``valid_to`` epochs — the
    "user-journey-as-intervals" table behind funnel dwell-time and
    state-transition analytics. Complements scd2_page_history (which
    builds intervals from crawl snapshots): here the oracle is a
    DIRECT DuckDB window-SQL twin over the shared events parquet, not
    an intent-built reconstruction.

    Driver row: per-state census (runs, distinct users, open runs,
    total closed dwell seconds) plus a 48-bit fingerprint sum over
    user|state|run_no|valid_from|valid_to pinning every interval.

    Scale shape: ONE shuffle, on user_id; the change-detection lag and
    the run_no/lead assembly share partitioning+ordering so the
    exchange and sort are reused; the census is a map-side-combining
    aggregate over ~#event_types rows. Ties inside a user's history
    are broken by event_id on both engines, so the interval table is
    total-order deterministic."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    # ntz -> timestamp -> long = floored epoch seconds (pinned-UTC
    # session tz; same convention as q_event_sessions)
    ep = F.col("ts").cast("timestamp").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        ev.withColumn("prev_state", F.lag("event_type").over(w))
        .filter(
            F.col("prev_state").isNull()
            | (F.col("prev_state") != F.col("event_type"))
        )
        .withColumn("run_no", F.row_number().over(w))
        .withColumn("ep_from", ep)
        .withColumn("ep_to", F.lead("ep_from").over(w))
    )
    key = F.concat_ws(
        "|",
        F.col("user_id").cast("string"),
        "event_type",
        F.col("run_no").cast("string"),
        F.col("ep_from").cast("string"),
        F.coalesce(F.col("ep_to").cast("string"), F.lit("open")),
    )
    from .q_extraction import _fp48

    return runs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
        F.sum(F.col("ep_to").isNull().cast("bigint")).alias("n_open"),
        F.sum(F.coalesce(F.col("ep_to") - F.col("ep_from"), F.lit(0)))
        .cast("bigint")
        .alias("closed_dwell_sec"),
        F.sum(_fp48(key)).alias("runs_fp_sum"),
    )


# SQL twin _USER_SCD2_SQL lives in plans/sql_relational.py


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to RETURNED items per customer
    over one quarter — top 20 customers. The canonical
    fact⋈fact⋈two-dims reporting join: lineitem⋈orders is the single
    wide dependency (bucket both on orderkey at 100 TB — the layout
    test_bucketing proves zero-exchange); customer and nation
    broadcast; the returnflag and quarter filters are pushed to the
    scans so the wide join sees only returned lines of one quarter.
    Top-20 via TakeOrderedAndProject, never a global sort."""
    cutoff_lo, cutoff_hi = "1997-01-01", "1997-04-01"
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= cutoff_lo) & (F.col("o_orderdate") < cutoff_hi)
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    one = F.lit(1).cast("decimal(3,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(3,2)"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.round(F.max("c_acctbal"), 2).alias("c_acctbal"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# SQL twin _Q10_SQL lives in plans/sql_relational.py


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order state-TRANSITION matrix over the event stream: for
    every (from_state, to_state) pair of consecutive events within a
    user's history, the count and the row-normalized transition
    probability (micro-units) — the Markov-chain view behind journey
    modeling and anomaly detection, and the natural consumer of
    q_user_state_scd2's runs.

    Scale shape: ONE shuffle on user_id for the lag window, then a
    map-side-combining aggregate onto the tiny (#states²) matrix; the
    probability normalization is a second window over the matrix rows
    themselves (≤ #states² rows), not over events. Ties inside a
    user's history are broken by event_id on both engines.

    Determinism: probabilities are integer micro-units via bigint
    arithmetic (n * 1000000 div row_total), never a double ratio."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.withColumn("from_state", F.lag("event_type").over(w)).filter(
        F.col("from_state").isNotNull()
    )
    mat = pairs.groupBy(
        "from_state", F.col("event_type").alias("to_state")
    ).agg(F.count(F.lit(1)).alias("n"))
    wrow = Window.partitionBy("from_state")
    return mat.select(
        "from_state",
        "to_state",
        "n",
        F.expr("n * 1000000 div sum(n) over (partition by from_state)")
        .cast("bigint")
        .alias("p_q6"),
    ).withColumn("row_total", F.sum("n").over(wrow).cast("bigint"))


# SQL twin _TRANSITIONS_SQL lives in plans/sql_relational.py


# ---------------------------------------------------------------------------
# TPC-H breadth batch (round 3): Q7/Q8/Q9/Q13/Q14/Q15/Q17/Q19/Q22 shapes
# adapted to the fixture star schema (no partsupp, no commit/receipt
# dates, no phone column — each adaptation is noted per query).
# ---------------------------------------------------------------------------


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue flow between every
    (supplier nation, customer nation) pair by ship year. Two dim
    chains hang off lineitem — supplier→nation and orders→customer→
    nation — so the only big shuffle is lineitem⋈orders on orderkey;
    supplier, customer, and nation all broadcast. Generalized from the
    reference query's fixed two-nation filter to all cross-nation
    pairs (the fixture has 25 synthetic nations, not TPC-H's names);
    the two-year ship-date filter is kept so the predicate pushes into
    the parquet scan."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    one = F.lit(1).cast("decimal(3,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(3,2)"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == n1.s_nk)
        .join(F.broadcast(n2), cust.c_nationkey == n2.c_nk)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# SQL twin _Q7_SQL lives in plans/sql_relational.py


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): of all PROMO-type parts
    sold to customers in ASIA, what fraction of revenue per order year
    was supplied by each supplier nation. The share is emitted as an
    exact integer — revenue in ten-thousandths (DECIMAL(·,4) after the
    price*discount multiply) converts losslessly to BIGINT, and the
    share is integer-divided per ppm — so the twin never compares
    engine-summed doubles. Adaptation: fixture p_type has no
    'PROMO BRUSHED' subtypes, so the filter is the whole PROMO class;
    share is reported per supplier nation instead of one fixed nation."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").cast("bigint").alias("o_year")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat_c = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    one = F.lit(1).cast("decimal(3,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(3,2)"))
    sold = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat_c), cust.c_nationkey == nat_c.n_nationkey)
        .join(F.broadcast(region), nat_c.n_regionkey == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat_s), supp.s_nationkey == nat_s.s_nk)
        .groupBy("o_year", "supp_nation")
        .agg((F.sum(rev) * F.lit(10000)).cast("bigint").alias("rev_q4"))
    )
    # `div`, not `/`: BIGINT / BIGINT in Spark is a DOUBLE divide, and
    # rev_q4 * 1e6 exceeds 2^53 well below target scale — the truncated
    # double would drift off DuckDB's exact integer `//` by one ulp.
    return sold.select(
        "o_year",
        "supp_nation",
        "rev_q4",
        F.expr(
            "rev_q4 * 1000000L div sum(rev_q4) over (partition by o_year)"
        ).alias("share_ppm"),
    )


# SQL twin _Q8_SQL lives in plans/sql_relational.py


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit per supplier nation
    per order year for parts whose name contains 'widget'. Adaptation:
    the fixture has no partsupp/supplycost, so profit is the
    discounted revenue term of the reference formula (the join
    topology — lineitem ⋈ part substring filter ⋈ supplier ⋈ nation ⋈
    orders — is what the shape exercises). The contains-filter prunes
    part BEFORE the broadcast, so the fact scan joins a small dim."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("widget"))
        .select("p_partkey")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("bigint").alias("o_year")
    )
    one = F.lit(1).cast("decimal(3,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(3,2)"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(
            F.sum(rev).cast("double").alias("sum_profit"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# SQL twin _Q9_SQL lives in plans/sql_relational.py


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join customer→orders so zero-order customers survive with count 0,
    then a histogram of customers per order count. Two aggregations —
    the first groups the (larger) join output by custkey, the second
    is a tiny re-agg of at most a few hundred distinct counts.
    Adaptation: no o_comment in the fixture, so the reference's
    'not like %special%requests%' filter is dropped."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# SQL twin _Q13_SQL lives in plans/sql_relational.py


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): revenue per supplier over one
    ship quarter, then keep the supplier(s) whose revenue equals the
    global max — the reference expresses this as a view + scalar
    subquery; here the max is an empty-frame window over the (tiny)
    per-supplier aggregate, which AQE executes as a single-partition
    exchange of ~#suppliers rows, never touching the fact table twice.
    Revenue compares as exact BIGINT ten-thousandths, so 'equals max'
    cannot be broken by double summation order."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    one = F.lit(1).cast("decimal(3,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(3,2)"))
    per_supp = li.groupBy("l_suppkey").agg(
        (F.sum(rev) * F.lit(10000)).cast("bigint").alias("total_revenue_q4")
    )
    mx = F.max("total_revenue_q4").over(Window.partitionBy())
    top = per_supp.withColumn("mx", mx).filter(
        F.col("total_revenue_q4") == F.col("mx")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return top.join(F.broadcast(supp), top.l_suppkey == supp.s_suppkey).select(
        "s_suppkey", "s_name", "total_revenue_q4"
    )


# SQL twin _Q15_SQL lives in plans/sql_relational.py


def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): for one brand,
    the average yearly revenue lost if orders below 20% of that part's
    mean quantity were not taken. The fractional threshold is made
    EXACT by cross-multiplying integers: qty < 0.2 * (sum_q / n)
    ⟺ 5 * qty * n < sum_q, with all three terms BIGINT — no
    double-rounded boundary rows between engines. The per-part means
    come from a self-aggregate of the brand's lineitems only (filter
    first, aggregate the small side, broadcast it back)."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#13")
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("q"),
        "l_extendedprice",
    )
    brand_li = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_partkey", "q", "l_extendedprice"
    )
    stats = brand_li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("q").alias("sum_q"), F.count(F.lit(1)).alias("n_q")
    )
    small = brand_li.join(
        F.broadcast(stats), brand_li.l_partkey == stats.pk
    ).filter(F.lit(5) * F.col("q") * F.col("n_q") < F.col("sum_q"))
    return small.agg(
        (F.sum(_dec("l_extendedprice")) * F.lit(100)).cast("bigint").alias(
            "total_price_cents"
        ),
        F.count(F.lit(1)).alias("n_small"),
    ).select(
        "total_price_cents",
        "n_small",
        # integer divide AFTER the lossless cents cast: decimal/7 would
        # round at Spark's result scale while DuckDB's // floors
        F.expr("total_price_cents div 7").alias("avg_yearly_cents"),
    )


# SQL twin _Q17_SQL lives in plans/sql_relational.py


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicate):
    revenue over an OR of three (brand, size-range, quantity-range)
    conjunctions. The point of the shape is predicate handling — the
    join key equality stays conjunctive (usable by the hash join)
    while the OR-of-ANDs lands as a post-join filter; per-branch
    row counts are emitted so the twin checks each disjunct, not just
    the blended sum. Adaptation: fixture lacks shipmode/shipinstruct,
    so those clauses are dropped."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("q"),
        "l_extendedprice",
        "l_discount",
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    b1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 5)
        & F.col("q").between(1, 11)
    )
    b2 = (
        (F.col("p_brand") == "Brand#11")
        & F.col("p_size").between(1, 10)
        & F.col("q").between(10, 20)
    )
    b3 = (
        (F.col("p_brand") == "Brand#20")
        & F.col("p_size").between(1, 15)
        & F.col("q").between(20, 30)
    )
    one = F.lit(1).cast("decimal(3,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(3,2)"))
    # revenue in exact scale-4 integer units (price*disc product has scale
    # 4): the q17 cents pattern — the registry's only raw-DOUBLE aggregate
    # was the round-3 red row, so no float leaves this query any more.
    return j.filter(b1 | b2 | b3).agg(
        (F.sum(rev) * F.lit(10000)).cast("bigint").alias("revenue_e4"),
        F.count(F.lit(1)).alias("n_items"),
        F.sum(b1.cast("bigint")).alias("n_branch1"),
        F.sum(b2.cast("bigint")).alias("n_branch2"),
        F.sum(b3.cast("bigint")).alias("n_branch3"),
    )


# SQL twin _Q19_SQL lives in plans/sql_relational.py


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers with
    above-average positive balance and NO orders, bucketed into bands.
    Adaptation: the fixture has no c_phone, so the country-code
    substring becomes a deterministic key band (c_custkey % 7). The
    'above average' boundary is exact: balances compare as BIGINT
    cents cross-multiplied by the population count (bal*100*n >
    sum_cents) instead of against a double AVG. The no-orders probe is
    a LEFT ANTI join; the scalar aggregate broadcasts as a one-row
    frame (shows as BroadcastNestedLoopJoin in the plan, but with a
    single-row build side — the wanted scalar-subquery shape, same as
    the q_corpus scalar joins)."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") % 7).cast("bigint").alias("band"),
        (_dec("c_acctbal") * F.lit(100)).cast("bigint").alias("bal_cents"),
    )
    pos = cust.filter(F.col("bal_cents") > 0)
    stats = pos.agg(
        F.sum("bal_cents").alias("sum_cents"), F.count(F.lit(1)).alias("n_pos")
    )
    rich = pos.crossJoin(F.broadcast(stats)).filter(
        F.col("bal_cents") * F.col("n_pos") > F.col("sum_cents")
    )
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    dormant = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return dormant.groupBy("band").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum("bal_cents").alias("totacctbal_cents"),
    )


# SQL twin _Q22_SQL lives in plans/sql_relational.py


def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): how many distinct
    suppliers can provide each (brand, type, size) combination,
    excluding a filtered brand and excluding 'complaint' suppliers.
    Adaptations: the fixture has no partsupp, so the part–supplier
    relation is observed from lineitem (distinct partkey x suppkey —
    aggregated BEFORE the dim joins, collapsing the fact table first);
    no s_comment, so the excluded-supplier set is suppliers with
    negative account balance (an anti-joined exclusion list, same
    shape as the reference's NOT IN subquery)."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    bad_supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") != "Brand#9")
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        li.join(F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# SQL twin _Q16_SQL lives in plans/sql_relational.py


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): for 'F'
    orders, blame the supplier who is the ONLY one with returned
    ('R') lineitems while at least one other supplier served the same
    order cleanly. The reference's correlated EXISTS / NOT EXISTS pair
    becomes a LEFT SEMI + LEFT ANTI join on the orderkey with a
    supplier-inequality residual — both stay equi-joins on l_orderkey
    (the residual filters inside the matched bucket), so the fact
    table shuffles once per probe and never nest-loops. Adaptation:
    the fixture has no commit/receipt dates, so 'late' is proxied by
    l_returnflag = 'R' (the only lateness-like signal present), and
    no nation filter is applied (synthetic nations are uniform)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    f_orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(F.broadcast(f_orders), F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    ).distinct()
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3"))
        .distinct()
    )
    blamed = l1.join(
        l2, (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    ).join(
        l3, (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")),
        "left_anti",
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        blamed.join(F.broadcast(supp), blamed.l_suppkey == supp.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# SQL twin _Q21_SQL lives in plans/sql_relational.py


def q_events_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap fill + LINEAR INTERPOLATION (the TimescaleDB
    locf/interpolate surface): per event type, the hourly mean value
    on a dense hour spine, with missing hours linearly interpolated
    between their observed neighbors and edge gaps carried from the
    single available side. Everything is exact integer micro-units:
    hourly means are sum(value micro-units) div n, and the
    interpolation is (v0*(t1-h) + v1*(h-t0)) div (t1-t0) — all terms
    positive BIGINTs, so Spark's truncating div and DuckDB's floor //
    agree. Scale shape: one (type, hour) aggregate over the fact scan,
    then windows over the tiny spine (types x hours), never over raw
    events."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_timestamp("ts") / F.lit(3600)).cast("bigint").alias("hr"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    hourly = ev.groupBy("event_type", "hr").agg(
        (F.sum("v") * F.lit(1_000_000)).cast("bigint").alias("sum_q6"),
        F.count(F.lit(1)).alias("n_obs"),
    ).select(
        "event_type", "hr", "n_obs", F.expr("sum_q6 div n_obs").alias("avg_q6")
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hr").alias("h0"), F.max("hr").alias("h1"))
        .select("event_type", F.explode(F.sequence("h0", "h1")).alias("hour_epoch"))
    )
    g = spine.join(
        hourly,
        (spine.event_type == hourly.event_type) & (spine.hour_epoch == hourly.hr),
        "left",
    ).select(spine.event_type, "hour_epoch", "avg_q6")
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("hour_epoch")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("hour_epoch")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_hr = F.when(F.col("avg_q6").isNotNull(), F.col("hour_epoch"))
    g = (
        g.withColumn("pv", F.last("avg_q6", ignorenulls=True).over(w_prev))
        .withColumn("pt", F.last(obs_hr, ignorenulls=True).over(w_prev))
        .withColumn("nv", F.first("avg_q6", ignorenulls=True).over(w_next))
        .withColumn("nt", F.first(obs_hr, ignorenulls=True).over(w_next))
    )
    filled = (
        F.when(F.col("avg_q6").isNotNull(), F.col("avg_q6"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.expr(
                "(pv * (nt - hour_epoch) + nv * (hour_epoch - pt)) div (nt - pt)"
            )
        )
    )
    src = (
        F.when(F.col("avg_q6").isNotNull(), F.lit("obs"))
        .when(F.col("pv").isNull() | F.col("nv").isNull(), F.lit("edge"))
        .otherwise(F.lit("interp"))
    )
    return g.select(
        "event_type",
        "hour_epoch",
        filled.alias("value_q6"),
        src.alias("src"),
    )


# SQL twin _INTERPOLATE_SQL lives in plans/sql_relational.py


def q_events_out_of_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late/out-of-order arrival census — the measurement that sizes a
    streaming watermark: per event type, how many events arrive with a
    timestamp EARLIER than the latest timestamp already seen for that
    user, and the worst backward skew in seconds. Arrival order is a
    deterministic md5 permutation of event_id: the fixture generator
    emits events already ts-sorted, so the hash permutation stands in
    for network-shuffled ingestion (with real logs the ingestion
    sequence column replaces it). One user_id window over the fact
    scan (running MAX of floored epoch seconds by arrival order), then
    a tiny per-type aggregate. Integer seconds throughout."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.md5(F.col("event_id").cast("string")).alias("arrival"),
        F.expr("cast(floor(unix_timestamp(ts)) as bigint)").alias("sec"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("arrival")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lagged = ev.withColumn("max_seen", F.max("sec").over(w))
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (F.col("max_seen").isNotNull() & (F.col("sec") < F.col("max_seen")))
                .cast("bigint")
            ).alias("n_out_of_order"),
            F.max(
                F.when(
                    F.col("sec") < F.col("max_seen"), F.col("max_seen") - F.col("sec")
                )
            ).alias("max_backward_sec"),
        )
    )


# SQL twin _OUT_OF_ORDER_SQL lives in plans/sql_relational.py


def q_events_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percent_rank census: per event type, the ppm percentile
    position of each distinct value-cent level — computed from integer
    rank arithmetic ((rank-1) * 1e6 div (n-1)), NOT the built-in
    double percent_rank, so the twin compares exact integers. The
    distinct-level aggregate keeps the output at (type x levels) rows;
    the ranking window runs per type after one value aggregate."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", (_dec("value") * 100).cast("bigint").alias("cents")
    )
    levels = ev.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return levels.select(
        "event_type",
        "cents",
        "n_events",
        # single-level groups define pr = 0 (the n-1 denominator is 0)
        F.expr(
            "if(count(1) over (partition by event_type) = 1, 0L,"
            " (rank() over (partition by event_type order by cents) - 1)"
            " * 1000000L div (count(1) over (partition by event_type) - 1))"
        ).alias("pr_ppm"),
    )


# SQL twin _PERCENT_RANK_SQL lives in plans/sql_relational.py


def q_events_pit_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join — the feature-store correctness
    primitive: each event joined to the SCD-2 state interval that was
    valid AT THE EVENT'S TIME ([valid_from, valid_to) on floored epoch
    seconds, open intervals unbounded), censused as the (event type,
    concurrent state) matrix. The interval side is the same run-length
    construction as q_user_state_scd2, so the join is events ⋈ a table
    orders of magnitude smaller, equi-keyed on user_id with the
    interval containment as a residual filter inside the matched
    bucket — no range-join nested loop. Same-second state flips assign
    the event to the newest interval of that second (the [from, to)
    rule) identically on both engines."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    ep = F.col("ts").cast("timestamp").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        ev.withColumn("prev_state", F.lag("event_type").over(w))
        .filter(
            F.col("prev_state").isNull()
            | (F.col("prev_state") != F.col("event_type"))
        )
        .withColumn("ep_from", ep)
        .withColumn("ep_to", F.lead("ep_from").over(w))
        .select(
            F.col("user_id").alias("i_user"),
            F.col("event_type").alias("state"),
            "ep_from",
            "ep_to",
        )
    )
    probes = ev.select("user_id", "event_type", ep.alias("sec"))
    joined = probes.join(
        runs,
        (probes.user_id == runs.i_user)
        & (runs.ep_from <= probes.sec)
        & (runs.ep_to.isNull() | (probes.sec < runs.ep_to)),
    )
    return joined.groupBy("event_type", "state").agg(
        F.count(F.lit(1)).alias("n_events")
    )


# SQL twin _PIT_STATE_SQL lives in plans/sql_relational.py


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping_id — the third member of the
    multi-granularity family next to q_rollup_order_counts and
    q_cube_order_stats: exactly three chosen granularities ((status),
    (priority), ()) out of the 2^2 cube, which neither ROLLUP nor CUBE
    expresses without waste. Spark plans this as ONE scan + Expand
    (3 rows per input into the hash aggregate), not three passes.
    Uses the Spark SQL surface (the DataFrame API has rollup/cube but
    not arbitrary grouping sets); the temp view is derived, not a
    global fixture dependency."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT)
                 AS gid,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
                 AS total_cents
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


# SQL twin _GROUPING_SETS_SQL lives in plans/sql_relational.py


def q_lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long melt): the three lineitem money/measure
    columns as (orderkey-level) long rows — the schema-normalization
    shape feeding generic per-measure aggregates. Spark's native
    unpivot (melt) keeps it one scan+generate, no union of three
    scans; measures are quantized to exact cents, aggregated per
    measure name."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (_dec("l_quantity") * 100).cast("bigint").alias("quantity"),
        (_dec("l_extendedprice") * 100).cast("bigint").alias("extendedprice"),
        (_dec("l_discount", "decimal(5,2)") * 100).cast("bigint").alias("discount"),
    )
    long = li.unpivot(
        ids=["l_orderkey"],
        values=["quantity", "extendedprice", "discount"],
        variableColumnName="measure",
        valueColumnName="v_cents",
    )
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v_cents").alias("sum_cents"),
        F.min("v_cents").alias("min_cents"),
        F.max("v_cents").alias("max_cents"),
    )


# SQL twin _UNPIVOT_SQL lives in plans/sql_relational.py


def q_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity census — the ingestion audit a warehouse
    runs after every load: orphan lineitems (fact rows whose orderkey
    has no orders row), childless orders, customers referenced by
    orders but missing from the dim, and row totals. Each probe is a
    LEFT ANTI join aggregated to one BIGINT — the audit never
    materializes the violating rows (at 100 TB the count is the
    alert; the rows are a follow-up query). One union of four tiny
    aggregates."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"), F.count(F.lit(1)).alias("n_violations")
        )

    orphan_li = li.join(
        orders, li.l_orderkey == orders.o_orderkey, "left_anti"
    )
    childless_o = orders.join(
        li, orders.o_orderkey == li.l_orderkey, "left_anti"
    )
    ghost_cust = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left_anti"
    )
    return (
        one("lineitem_orphans", orphan_li)
        .union(one("orders_childless", childless_o))
        .union(one("orders_ghost_customer", ghost_cust))
    )


# SQL twin _INTEGRITY_SQL lives in plans/sql_relational.py


def q_price_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE decile banding over part prices — the window-function
    surface (§2 W1 family) not covered by rank/row_number elsewhere.
    The order key is (price, partkey) so the tiling is a TOTAL order
    and both engines assign identical bands (bare price would leave
    ties engine-ordered). Single window over the part dim, then a
    tiny per-band aggregate; prices compare as exact cents."""
    part = _t(spark, sf_dir, "part").select(
        "p_partkey", (_dec("p_retailprice") * 100).cast("bigint").alias("cents")
    )
    w = Window.orderBy(F.asc("cents"), F.asc("p_partkey"))
    banded = part.withColumn("decile", F.ntile(10).over(w))
    return banded.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
        F.sum("cents").alias("sum_cents"),
    )


# SQL twin _PRICE_NTILE_SQL lives in plans/sql_relational.py


def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: hourly event counts per event type with
    MISSING HOURS MATERIALIZED at zero — the densification every
    monitoring/forecast pipeline needs before window math. The hour
    spine is generated per type with ``sequence()`` over BIGINT epoch
    hours (exact integers — no timestamp arithmetic to diverge between
    engines) from that type's min to max hour, exploded, and LEFT
    JOINed against the observed counts. Scale shape: the spine is
    O(types x hours) — trivially small next to the event scan — and
    the explode happens after the heavy aggregation, so the fact table
    shuffles once into (type, hour) partials."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_timestamp("ts") / F.lit(3600)).cast("bigint").alias("hr"),
    )
    counts = ev.groupBy("event_type", "hr").agg(F.count(F.lit(1)).alias("n_obs"))
    spine = (
        counts.groupBy("event_type")
        .agg(F.min("hr").alias("h0"), F.max("hr").alias("h1"))
        .select(
            "event_type", F.explode(F.sequence("h0", "h1")).alias("hour_epoch")
        )
    )
    return (
        spine.join(
            counts,
            (spine.event_type == counts.event_type)
            & (spine.hour_epoch == counts.hr),
            "left",
        )
        .select(
            spine.event_type,
            "hour_epoch",
            F.coalesce("n_obs", F.lit(0).cast("bigint")).alias("n"),
        )
    )


# SQL twin _GAPFILL_SQL lives in plans/sql_relational.py


_REGISTRY = {
    "q1_pricing_summary": (q1_pricing_summary, _Q1_SQL),
    "q7_volume_shipping": (q7_volume_shipping, _Q7_SQL),
    "q8_market_share": (q8_market_share, _Q8_SQL),
    "q9_product_profit": (q9_product_profit, _Q9_SQL),
    "q13_customer_distribution": (q13_customer_distribution, _Q13_SQL),
    "q15_top_supplier": (q15_top_supplier, _Q15_SQL),
    "q17_small_quantity": (q17_small_quantity, _Q17_SQL),
    "q16_parts_supplier": (q16_parts_supplier, _Q16_SQL),
    "q19_disjunctive_revenue": (q19_disjunctive_revenue, _Q19_SQL),
    "q21_waiting_suppliers": (q21_waiting_suppliers, _Q21_SQL),
    "q22_dormant_customers": (q22_dormant_customers, _Q22_SQL),
    "q_events_gapfill": (q_events_gapfill, _GAPFILL_SQL),
    "q_integrity_audit": (q_integrity_audit, _INTEGRITY_SQL),
    "q_price_ntile": (q_price_ntile, _PRICE_NTILE_SQL),
    "q_events_interpolate": (q_events_interpolate, _INTERPOLATE_SQL),
    "q_events_out_of_order": (q_events_out_of_order, _OUT_OF_ORDER_SQL),
    "q_events_percent_rank": (q_events_percent_rank, _PERCENT_RANK_SQL),
    "q_events_pit_state": (q_events_pit_state, _PIT_STATE_SQL),
    "q_grouping_sets": (q_grouping_sets, _GROUPING_SETS_SQL),
    "q_lineitem_unpivot": (q_lineitem_unpivot, _UNPIVOT_SQL),
    "q_user_state_scd2": (q_user_state_scd2, _USER_SCD2_SQL),
    "q10_returned_items": (q10_returned_items, _Q10_SQL),
    "q_event_transitions": (q_event_transitions, _TRANSITIONS_SQL),
    "zorder_layout_census": (zorder_layout_census, _zorder_sql()),
    "q_event_funnel": (q_event_funnel, _FUNNEL_SQL),
    "q_retention_cohorts": (q_retention_cohorts, _RETENTION_SQL),
    "q_top_customers": (q_top_customers, _TOP_CUST_SQL),
    "q_nation_revenue": (q_nation_revenue, _NATION_REV_SQL),
    "q_customers_without_orders": (q_customers_without_orders, _ANTI_SQL),
    "q_urgent_shipped_orders": (q_urgent_shipped_orders, _SEMI_SQL),
    "q_rank_customers_window": (q_rank_customers_window, _RANK_SQL),
    "q_rollup_order_counts": (q_rollup_order_counts, _ROLLUP_SQL),
    "q_events_hourly": (q_events_hourly, _EVENTS_HOURLY_SQL),
    "q_event_sessions": (q_event_sessions, _SESSIONS_SQL),
    "q_min_cost_supplier": (q_min_cost_supplier, _MIN_COST_SQL),
    "q_events_json": (q_events_json, _EVENTS_JSON_SQL),
    "q4_order_priority": (q4_order_priority, _Q4_SQL),
    "q6_forecast_revenue": (q6_forecast_revenue, _Q6_SQL),
    "q18_large_orders": (q18_large_orders, _Q18_SQL),
    "q20_promo_excess_suppliers": (q20_promo_excess_suppliers, _Q20_SQL),
    "q_events_rolling_window": (q_events_rolling_window, _ROLLING_SQL),
    "q_events_variant": (q_events_variant, _VARIANT_SQL),
    "hll_distinct_census": (hll_distinct_census, _HLL_SQL),
}
