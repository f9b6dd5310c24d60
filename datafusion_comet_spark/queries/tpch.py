"""TPC-H-shaped golden queries, adapted to the driver's reduced star schema.

The reference's primary correctness corpus is TPC-H q1-q22 golden
results (reference: spark/src/test/resources/tpch-query-results/*.sql.out,
run by test/scala/org/apache/spark/sql/CometTPCHQuerySuite.scala).  The
driver's tables lack partsupp and several columns (l_commitdate,
l_receiptdate, o_shippriority, c_phone, p_container, ...), so each
query here keeps the *operator shape* of its TPC-H counterpart —
scan→filter→join tree→aggregate→sort/limit — re-targeted at the
available columns.  Exercised operators per SURVEY.md §2.1: NativeScan
(#1), Projection (#7), Filter (#8), Sort (#9), Limit (#10),
HashAggregate (#11), HashJoin/SortMergeJoin (#15/#16), semi/anti joins,
BroadcastExchange (#24), TakeOrderedAndProject (#23).

Money arithmetic runs in DECIMAL on both the Spark and the DuckDB
side: the source columns are 2-dp money stored as double, and summing
them as doubles is order-dependent in the last bits, which makes a
rounded result non-deterministic exactly at rounding boundaries.  The
reference solves the same problem by forcing Decimal128 everywhere
(reference: spark/src/main/scala/org/apache/comet/rules/CometExecRule.scala:180-182);
we do the idiomatic equivalent with explicit decimal casts, then cast
the exact result back to double for a stable cross-engine hash.

A final sort over a result whose keys range over a fixed domain runs
in one task (``_shared._sort_one_task``), not through a
RangePartitioning exchange; a sort over rows that grow with the data
(q15's supplier join) keeps ``orderBy``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register

# Shared money/decimal helpers live in the registration-free _shared
# module so TPC-DS batch files can import them WITHOUT importing this
# module (importing tpch registers all 24 TPC-H queries as a side
# effect, which round 6 proved corrupts the driver's sample-prefix
# rotation — see queries/_shared.py docstring).
from ._shared import (  # noqa: F401  (re-exported)
    SQL_CHARGE,
    SQL_REV,
    _dec,
    _drev,
    _money,
    _sort_one_task,
    _stats_join_back,
    _sum_rev_money,
    _t,
    _ts,
)


# --------------------------------------------------------------------------
# Q1 — pricing summary report: scan → filter → wide hash aggregate → sort
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                           AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                                                           AS sum_base_price,
       CAST(round(sum({SQL_REV}), 2) AS DOUBLE)            AS sum_disc_price,
       CAST(round(sum({SQL_CHARGE}), 2) AS DOUBLE)         AS sum_charge,
       round(avg(l_quantity), 4)                           AS avg_qty,
       round(CAST(avg(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4)
                                                           AS avg_price,
       round(CAST(avg(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE), 6)
                                                           AS avg_disc,
       count(*)                                            AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    tags=("tpch", "aggregate", "scan", "filter", "sort"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: filtered grouped sums/averages over lineitem.

    Money arithmetic runs as a SCALED-INTEGER kernel: the 2-dp inputs
    become exact cent longs (round(x*100)), the per-row revenue/charge
    products are pure 64-bit multiplies, and only the accumulator is
    decimal — sum(decimal(20,0)) — so per-row math stays in
    whole-stage-codegen long registers while group totals stay exact
    at any scale (per-row charge ≤ 1e11 × 6e9 rows at SF1000 ≈ 6e20
    needs the 128-bit accumulator; a long accumulator would overflow
    and, under ANSI mode, raise).  This is the idiomatic analogue of
    the reference's fixed-point Decimal128 aggregate kernels
    (native/spark-expr/src/agg_funcs/sum_decimal.rs, forced by
    rules/CometExecRule.scala:180-182) and is ~40% faster than the
    naive decimal-expression spelling of the same exact values
    (1.59s → 0.95s at sf0.1/local[32]).  Results are bit-identical:
    every emitted value is derived from exact integer/decimal
    quantities and rounded once, so the DuckDB oracle (which stays in
    DECIMAL form) hashes the same."""
    li = _t(spark, sf_dir, "lineitem")
    cents = lambda col: F.round(F.col(col) * 100).cast("long")
    pc, dc, tc = cents("l_extendedprice"), cents("l_discount"), cents("l_tax")
    rev = pc * (100 - dc)  # cents × 1e2
    chg = pc * (100 - dc) * (100 + tc)  # cents × 1e4
    dec = lambda e: e.cast("decimal(20,0)")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= _ts("2001-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round((F.sum(dec(pc)) / 100).cast("decimal(38,6)"), 2)
            .cast("double")
            .alias("sum_base_price"),
            F.round((F.sum(dec(rev)) / 10000).cast("decimal(38,6)"), 2)
            .cast("double")
            .alias("sum_disc_price"),
            F.round((F.sum(dec(chg)) / 1000000).cast("decimal(38,8)"), 2)
            .cast("double")
            .alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round((F.sum(dec(pc)) / n / 100).cast("double"), 4).alias(
                "avg_price"
            ),
            F.round((F.sum(dec(dc)) / n / 100).cast("double"), 6).alias(
                "avg_disc"
            ),
            n.alias("count_order"),
        )
        .transform(_sort_one_task, "l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Q3 — shipping priority: 3-way join → aggregate → top-k
# --------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle=f"""
SELECT l_orderkey,
       CAST(round(sum({SQL_REV}), 2) AS DOUBLE) AS revenue,
       o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-06-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
    tags=("tpch", "join", "aggregate", "topk"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: customer⋈orders⋈lineitem, grouped revenue, top-10.

    Plan intent at scale: selective dimension filter first, then two
    shuffle joins on the fact keys; TakeOrderedAndProject serves the
    limit (SURVEY.md §2.1 #23).
    """
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < _ts("1998-06-15 00:00:00")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > _ts("1998-06-15 00:00:00")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_sum_rev_money().alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q4 — order priority checking: EXISTS semi-join with inequality condition
# --------------------------------------------------------------------------
@register(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
  AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("tpch", "semi-join", "aggregate"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (adapted: l_shipdate > o_orderdate replaces the
    commit/receipt-date predicate): left-semi join then count."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-07-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-10-01 00:00:00"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .transform(_sort_one_task, "o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q5 — local supplier volume: 6-way join with broadcast dims
# --------------------------------------------------------------------------
@register(
    "q5_local_supplier",
    oracle=f"""
SELECT n_name,
       CAST(round(sum({SQL_REV}), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
    tags=("tpch", "join", "broadcast", "aggregate"),
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: six-table join; supplier/nation/region broadcast
    (fixed-cardinality dims — SURVEY.md §2.1 #24)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1998-01-01 00:00:00"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_sum_rev_money().alias("revenue"))
        .transform(_sort_one_task, "revenue", "n_name", ascending=[False, True])
    )


# --------------------------------------------------------------------------
# Q6 — forecast revenue change: scan-dominant filter + global aggregate
# --------------------------------------------------------------------------
@register(
    "q6_forecast_revenue",
    oracle="""
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)
         AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    tags=("tpch", "filter", "aggregate", "pushdown"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan+filter+global-agg; all predicates push to parquet."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        _money(F.sum(_dec("l_extendedprice") * _dec("l_discount", 4, 2))).alias(
            "revenue"
        )
    )


# --------------------------------------------------------------------------
# Q7 — volume shipping between two nations: dual-path nation join
# --------------------------------------------------------------------------
@register(
    "q7_volume_shipping",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(round(sum(volume), 2) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation,
         n2.n_name AS cust_nation,
         EXTRACT(year FROM l_shipdate) AS l_year,
         {SQL_REV} AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
    tags=("tpch", "join", "aggregate", "datetime"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: nation-pair trade volume by ship year (year() —
    datetime expression family, SURVEY.md §2.2)."""
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        supp.join(li, supp.s_suppkey == li.l_suppkey)
        .join(orders, orders.o_orderkey == li.l_orderkey)
        .join(cust, cust.c_custkey == orders.o_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            _drev().alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_money(F.sum("volume")).alias("revenue"))
        .transform(_sort_one_task, "supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Q8 — market share: conditional aggregation over a join tree
# --------------------------------------------------------------------------
@register(
    "q8_market_share",
    oracle=f"""
SELECT o_year,
       round(CAST(sum(CASE WHEN nation = 'NATION_5' THEN volume
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         {SQL_REV} AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
) all_nations
GROUP BY o_year
ORDER BY o_year
""",
    tags=("tpch", "join", "aggregate", "conditional"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: eight-table join, CASE WHEN inside SUM (conditional
    expressions, SURVEY.md §2.2 predicates/conditionals)."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        part.join(li, part.p_partkey == li.l_partkey)
        .join(supp, supp.s_suppkey == li.l_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == region.r_regionkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            _drev().alias("volume"),
            F.col("nation"),
        )
    )
    zero = F.expr("CAST(0 AS DECIMAL(18,2))")
    return (
        joined.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("nation") == "NATION_5", F.col("volume")).otherwise(
                        zero
                    )
                ).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
        .transform(_sort_one_task, "o_year")
    )


# --------------------------------------------------------------------------
# Q9 — product type profit (adapted: retailprice-based cost surrogate)
# --------------------------------------------------------------------------
@register(
    "q9_product_profit",
    oracle=f"""
SELECT nation, o_year, CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         EXTRACT(year FROM o_orderdate) AS o_year,
         {SQL_REV}
           - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(0.5 AS DECIMAL(2,1))
             * CAST(l_quantity AS DECIMAL(4,0)) AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%widget%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
    tags=("tpch", "join", "aggregate", "like"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted: no partsupp; cost = 0.5*p_retailprice*qty):
    LIKE filter + five-table join + grouped profit."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    half = F.expr("CAST(0.5 AS DECIMAL(2,1))")
    amount = _drev() - _dec("p_retailprice") * half * F.col("l_quantity").cast(
        "decimal(4,0)"
    )
    return (
        part.join(li, part.p_partkey == li.l_partkey)
        .join(supp, supp.s_suppkey == li.l_suppkey)
        .join(orders, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(_money(F.sum("amount")).alias("sum_profit"))
        .transform(_sort_one_task, "nation", "o_year", ascending=[True, False])
    )


# --------------------------------------------------------------------------
# Q10 — returned item reporting: join + aggregate + top-k
# --------------------------------------------------------------------------
@register(
    "q10_returned_items",
    oracle=f"""
SELECT c_custkey, c_name,
       CAST(round(sum({SQL_REV}), 2) AS DOUBLE) AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    tags=("tpch", "join", "aggregate", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: revenue lost to returns, top-20 customers."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-07-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-10-01 00:00:00"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_sum_rev_money().alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q12 — late shipments by priority (adapted: no shipmode/receiptdate)
# --------------------------------------------------------------------------
@register(
    "q12_late_shipments",
    oracle="""
SELECT o_orderpriority,
       CAST(sum(CASE WHEN l_shipdate >= o_orderdate + INTERVAL 60 DAY
                     THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
       count(*) AS line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("tpch", "join", "conditional", "datetime"),
)
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (adapted): interval arithmetic + conditional count."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1998-01-01 00:00:00"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = F.when(
        F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        1,
    ).otherwise(0)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(late).cast("long").alias("late_count"),
            F.count(F.lit(1)).alias("line_count"),
        )
        .transform(_sort_one_task, "o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q13 — customer order-count distribution: outer join + double aggregate
# --------------------------------------------------------------------------
@register(
    "q13_customer_distribution",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    tags=("tpch", "outer-join", "aggregate"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: left-outer join with a join-side predicate, then a
    second aggregate over the first's result."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .transform(_sort_one_task, "custdist", "c_count", ascending=False)
    )


# --------------------------------------------------------------------------
# Q14 — promotion effect: conditional aggregation ratio
# --------------------------------------------------------------------------
@register(
    "q14_promo_revenue",
    oracle=f"""
SELECT round(
         100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN {SQL_REV}
                               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(sum({SQL_REV}) AS DOUBLE), 4) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
""",
    tags=("tpch", "join", "conditional", "aggregate"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share in a month."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-09-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-10-01 00:00:00"))
    )
    part = _t(spark, sf_dir, "part")
    zero = F.expr("CAST(0 AS DECIMAL(18,2))")
    promo = F.when(F.col("p_type") == "PROMO", _drev()).otherwise(zero)
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        F.round(
            100.0 * F.sum(promo).cast("double") / F.sum(_drev()).cast("double"), 4
        ).alias("promo_revenue")
    )


# --------------------------------------------------------------------------
# Q15 — top supplier: aggregate + max-subquery
# --------------------------------------------------------------------------
@register(
    "q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(round(sum({SQL_REV}), 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
    tags=("tpch", "join", "aggregate", "subquery"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: revenue view + scalar max subquery (reference handles
    ScalarSubquery JVM-side, serde/CometScalarSubquery.scala:28);
    equality on exact decimal-derived revenue is hash-stable.

    Plan note: the SQL (and oracle) spell the revenue view twice —
    once joined, once under max() — and executed literally that is
    TWO lineitem aggregations (branch pruning defeats reuse).  The
    engine's form re-aggregates the per-supplier AGGREGATE to the
    1-row max and broadcasts it back (the q11 pattern): ReuseExchange
    runs the fact aggregation once, ties survive via the equality
    filter (identical to rank()==1 semantics), and no window — not
    even a WindowGroupLimit-protected one — funnels rows through a
    single reducer.  (Round 3 replaced the earlier rank() spelling;
    bench no longer logs WindowExec single-partition warnings.)"""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-04-01 00:00:00"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _sum_rev_money().alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    top = (
        revenue.join(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .drop("max_revenue")
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.join(F.broadcast(top), supp.s_suppkey == top.supplier_no)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue: per-group average threshold join
# --------------------------------------------------------------------------
@register(
    "q17_small_quantity",
    oracle="""
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))) / 7.0, 2) AS DOUBLE)
         AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN (
  SELECT l_partkey AS agg_partkey, 0.5 * avg(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey
) part_agg ON agg_partkey = l_partkey
WHERE p_brand = 'Brand#3' AND l_quantity < avg_qty
""",
    tags=("tpch", "join", "aggregate", "subquery"),
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: per-part average threshold.  The oracle's literal
    spelling aggregates EVERY part's lineitems though only Brand#3
    parts survive the join; here the brand parts semi-join prunes the
    fact FIRST (per-part stats stay complete — pruning is
    part-granular), then the per-part average is computed as a
    PARTIAL-AGGREGATING groupBy joined back to the rows, with the
    part-bounded stats side behind _stats_join_back's size gate.

    Round 10 replaced the earlier Window.partitionBy(l_partkey) avg:
    an unbounded-frame window over raw FACT rows serializes each key
    on one task — un-splittable by AQE, the one skew shape AQE cannot
    rescue (SCALE.md, "Skewed keys under windows").  The agg+join-back
    form is skew-safe twice over (map-side combine absorbs the hot key;
    the join-back is broadcast small / AQE-skew-splittable large) and
    measured FASTER even on uniform data: min-of-5 at generator sf1
    1.151s -> 1.015s uniform, 1.284s -> 0.890s at Zipf(1.2) partkeys.
    The avg threshold stays double: quantities are integers, so the
    comparison never sits on an fp boundary."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    branded = li.join(
        part.select("p_partkey"),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    stats = branded.groupBy("l_partkey").agg(
        (0.5 * F.avg("l_quantity")).alias("avg_qty")
    )
    return (
        _stats_join_back(branded, stats, "l_partkey", sf_dir, "part")
        .filter(F.col("l_quantity") < F.col("avg_qty"))
        .agg(
            (F.round(F.sum(_dec("l_extendedprice")) / 7.0, 2))
            .cast("double")
            .alias("avg_yearly")
        )
    )


# --------------------------------------------------------------------------
# Q18 — large volume customers: having + in-subquery + top-k
# --------------------------------------------------------------------------
@register(
    "q18_large_volume",
    oracle="""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(sum(l_quantity), 2) AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 250
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
""",
    tags=("tpch", "semi-join", "aggregate", "having", "topk"),
)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: IN-subquery over a HAVING aggregate → left-semi join.
    Quantity sums are integer-valued doubles — exact, no decimal cast
    needed."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("s"))
        .filter(F.col("s") > 250)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(cust, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q19 — discounted revenue: disjunctive multi-predicate join
# --------------------------------------------------------------------------
@register(
    "q19_discounted_revenue",
    oracle=f"""
SELECT CAST(round(sum({SQL_REV}), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 21)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 40)
""",
    tags=("tpch", "join", "predicate"),
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR of conjunctive range predicates across both join sides."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & (q >= 1)
            & (q <= 21)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & (q >= 10)
            & (q <= 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & (q >= 20)
            & (q <= 40)
        )
    )
    return j.filter(cond).agg(_sum_rev_money().alias("revenue"))


# --------------------------------------------------------------------------
# Q21 — last-to-ship suppliers (adapted): EXISTS + NOT EXISTS self-joins
# --------------------------------------------------------------------------
@register(
    "q21_waiting_supplier",
    oracle="""
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders    ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
  AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > l1.l_shipdate
      )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 25
""",
    tags=("tpch", "semi-join", "anti-join", "aggregate", "topk"),
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (adapted to shipdate): for 'F' orders, suppliers whose
    line shipped last among multi-supplier orders — left-semi plus
    left-anti self-joins (SURVEY.md §2.1 join types)."""
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l1 = li.alias("l1")
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"),
        F.col("l_suppkey").alias("l2_suppkey"),
    )
    l3 = li.select(
        F.col("l_orderkey").alias("l3_orderkey"),
        F.col("l_suppkey").alias("l3_suppkey"),
        F.col("l_shipdate").alias("l3_shipdate"),
    )
    base = (
        l1.join(orders, F.col("l1.l_orderkey") == orders.o_orderkey)
        .join(
            l2,
            (F.col("l2_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l2_suppkey") != F.col("l1.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l3_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l3_suppkey") != F.col("l1.l_suppkey"))
            & (F.col("l3_shipdate") > F.col("l1.l_shipdate")),
            "left_anti",
        )
    )
    return (
        base.join(supp, F.col("l1.l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Q22 — global sales opportunity (adapted): scalar subquery + anti join
# --------------------------------------------------------------------------
@register(
    "q22_sales_opportunity",
    oracle="""
SELECT c_mktsegment, count(*) AS numcust,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    tags=("tpch", "anti-join", "subquery", "aggregate"),
)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted: mktsegment replaces phone prefix; the anti
    join excludes customers with URGENT orders — every synthetic
    customer has some order, so the original no-orders form is vacuous
    at every scale): rich customers without urgent orders — scalar avg
    subquery + left-anti join.  The avg threshold stays double:
    acctbal values are 2-dp, an exact tie with the irrational-ish
    average is implausible, and both engines compare against their own
    aggregate consistently."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _money(F.sum(_dec("c_acctbal"))).alias("totacctbal"),
        )
        .transform(_sort_one_task, "c_mktsegment")
    )


# --------------------------------------------------------------------------
# Q2 — minimum-cost supplier (adapted): correlated-min subquery + 4-way join
# --------------------------------------------------------------------------
@register(
    "q2_min_cost_supplier",
    oracle="""
SELECT s_acctbal, s_name, n_name, p_partkey, p_type
FROM part
JOIN lineitem ON l_partkey = p_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
JOIN region   ON r_regionkey = n_regionkey
WHERE p_size = 15 AND r_name = 'ASIA'
  AND l_extendedprice = (
    SELECT min(l2.l_extendedprice)
    FROM lineitem l2
    JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
    JOIN nation n2   ON n2.n_nationkey = s2.s_nationkey
    JOIN region r2   ON r2.r_regionkey = n2.n_regionkey
    WHERE l2.l_partkey = p_partkey AND r2.r_name = 'ASIA'
  )
GROUP BY s_acctbal, s_name, n_name, p_partkey, p_type
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
    tags=("tpch", "join", "subquery", "topk"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (adapted: lineitem plays partsupp, l_extendedprice plays
    ps_supplycost): per-part minimum-price supplier within a region —
    a correlated MIN subquery decorrelated into an aggregate + equi-join
    (Catalyst does the same rewrite for the SQL form).  The min is a
    *selection* over stored doubles (no arithmetic), so the double
    equality join is exact on both engines."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    # supplier→nation→region restricted to the region (shared by both
    # the main tree and the min subquery; computed once, reused).
    regional_supp = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    # Single-pass: the SQL (and oracle) spell the min as a separate
    # aggregate of the regional lineitems joined back — a second full
    # lineitem pass.  The window form computes the per-part min over
    # the SAME part+region-restricted frame the main tree uses
    # (partkey determines part, so restricting to p_size=15 parts
    # changes nothing about each part's min): one lineitem scan, one
    # window exchange on l_partkey.
    from pyspark.sql import Window as _W

    joined = li.join(part, li.l_partkey == part.p_partkey).join(
        regional_supp, li.l_suppkey == F.col("s_suppkey")
    )
    w = _W.partitionBy("p_partkey")
    return (
        joined.withColumn(
            "min_price", F.min("l_extendedprice").over(w)
        )
        .filter(F.col("l_extendedprice") == F.col("min_price"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type")
        .distinct()
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q11 — important stock (adapted): group agg vs global-threshold subquery
# --------------------------------------------------------------------------
@register(
    "q11_important_stock",
    oracle=f"""
SELECT l_partkey,
       CAST(round(sum({SQL_REV}), 2) AS DOUBLE) AS part_value
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE n_name = 'NATION_9'
GROUP BY l_partkey
HAVING sum({SQL_REV}) > (
  SELECT sum({SQL_REV}) * 0.001
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_9'
)
ORDER BY part_value DESC, l_partkey
""",
    tags=("tpch", "aggregate", "subquery", "having"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (adapted: revenue plays ps_supplycost*ps_availqty):
    per-part value within one nation vs a scalar fraction-of-total
    threshold — grouped agg + broadcast scalar subquery.  Decimal sums
    keep the threshold comparison exact on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_9")

    national = li.join(
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select("s_suppkey"),
        li.l_suppkey == F.col("s_suppkey"),
        "left_semi",
    )
    per_part = national.groupBy("l_partkey").agg(
        F.sum(_drev()).alias("value_exact")
    )
    # Threshold as a re-aggregation of the per-part AGGREGATE, joined
    # back via a broadcast of the 1-row total.  The per-part
    # aggregate's shuffle exchange is identical in both branches, so
    # ReuseExchange runs the fact semi-join + partial agg exactly once
    # (no second fact pass), and — unlike the earlier unpartitioned-
    # window spelling — no task ever sees more than its own partition
    # of per-part rows: the only global object is the broadcast 1-row
    # threshold.  Scales flat at 100x the part count.
    total = per_part.agg(F.sum("value_exact").alias("grand_total"))
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("value_exact")
            > F.col("grand_total") * F.lit("0.001").cast("decimal(6,3)")
        )
        .select(
            "l_partkey", _money(F.col("value_exact")).alias("part_value")
        )
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


# --------------------------------------------------------------------------
# Q16 — parts/supplier relationship (adapted): NOT IN + count-distinct
# --------------------------------------------------------------------------
@register(
    "q16_parts_supplier",
    oracle="""
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
  )
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
    tags=("tpch", "anti-join", "distinct", "aggregate"),
)
def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted: lineitem plays partsupp; negative-balance
    suppliers play the complaint exclusion): NOT IN → null-aware anti
    join (reference: null-aware HashJoin, operator.proto:360-369 /
    planner.rs:1818-1827), distinct-supplier counts per part group."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    )
    bad_supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


# --------------------------------------------------------------------------
# Q20 — potential part promotion (adapted): nested semi-joins over a
# HAVING aggregate
# --------------------------------------------------------------------------
@register(
    "q20_part_promotion",
    oracle="""
SELECT n_name, s_name, s_acctbal
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    WHERE l_partkey IN (
      SELECT p_partkey FROM part WHERE p_name LIKE '%red%'
    )
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_suppkey, l_partkey
    HAVING sum(l_quantity) > 40
  )
ORDER BY n_name, s_name
""",
    tags=("tpch", "semi-join", "having", "like"),
)
def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (adapted: shipped quantity plays availqty; threshold
    40 and no single-nation cut so the result is non-empty at every
    test scale): suppliers who moved >40 units of any red part in
    1997, with their nation — two nested left-semi joins over a HAVING
    aggregate.  Quantity sums are integer-valued doubles, exact on
    both engines."""
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    li = _t(spark, sf_dir, "lineitem")
    green = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    heavy_suppliers = (
        li.filter(
            (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
        )
        .join(green, li.l_partkey == green.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 40)
        .select("l_suppkey")
    )
    return (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(heavy_suppliers, supp.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("n_name", "s_name", "s_acctbal")
        .orderBy("n_name", "s_name")
    )


# --------------------------------------------------------------------------
# Q21 scale rewrite — aggregate formulation of the semi/anti self-joins
# --------------------------------------------------------------------------
@register(
    "q21_scale_rewrite",
    oracle="""
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders    ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
  AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > l1.l_shipdate
      )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 25
""",
    tags=("tpch", "aggregate", "rewrite", "topk"),
)
def q21_scale_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 with the two lineitem self-joins replaced by per-order
    aggregation — the rewrite a 100 TB plan wants.

    The semi/anti formulation (``q21_waiting_supplier``) shuffles the
    full fact table three times (l1, l2, l3 sides).  Equivalent
    per-line predicate: a line qualifies iff its order has >=2 distinct
    suppliers AND no OTHER supplier in the order shipped strictly
    later.  Both facts derive from one supplier-level aggregate per
    order: with per-(order, supplier) max shipdates sorted descending,
    the "other-supplier max" for a line of supplier s is the top entry
    if it belongs to a different supplier (or is tied across >=2
    suppliers), else the second entry.  Supplier count per order is
    TPC-H-bounded (~7), so the collected list is O(1) per order.

    Shuffle economics vs the self-join plan: one partial-agg shuffle of
    (orderkey, suppkey, max) pairs + one join keyed on orderkey,
    instead of three full-width fact shuffles.  Reference context: the
    reference accelerates the three-join plan as-is
    (docs/source/contributor-guide/benchmark-results/tpc-h.md); a
    logical rewrite is out of its scope — here it is ~2x fewer
    shuffled bytes.

    MEASURED (round 3, min-of-5 at sf0.1/local[32]): this rewrite runs
    1.46x SLOWER than the literal form — the per-order collect_list/
    array_sort work costs more than the three narrow (orderkey,
    suppkey, shipdate) self-join shuffles save at this fact width.
    The literal form is therefore the bench headline; this one stays
    registered as the fewer-shuffled-bytes alternative for wide facts
    or shuffle-bound clusters, where the trade can invert.  The lesson
    is recorded in SCALE.md ("q21: measured rewrite trade")."""
    supp = _t(spark, sf_dir, "supplier")
    orders_f = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    # Supplier-level max shipdate per order (partial agg shrinks the
    # shuffle to one row per (order, supplier) pair).
    persup = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("smax")
    )
    # Per-order descending (smax, suppkey) list; suppliers-per-order is
    # bounded so collect_list is O(1) memory per key.
    perord = persup.groupBy("l_orderkey").agg(
        F.reverse(
            F.array_sort(F.collect_list(F.struct("smax", "l_suppkey")))
        ).alias("tops"),
        F.count(F.lit(1)).alias("n_supp"),
    )
    top1 = F.col("tops")[0]
    top2 = F.element_at("tops", 2)
    # max shipdate among suppliers OTHER than this line's supplier
    other_max = F.when(
        top1["l_suppkey"] != F.col("l_suppkey"), top1["smax"]
    ).otherwise(top2["smax"])
    qualified = (
        li.join(orders_f, li.l_orderkey == orders_f.o_orderkey)
        .join(perord.filter(F.col("n_supp") >= 2), "l_orderkey")
        .filter(F.col("l_shipdate") >= other_max)
        .select("l_suppkey")
    )
    return (
        qualified.join(supp, qualified.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(25)
    )


# --------------------------------------------------------------------------
# TPC-H extended q1 — the reference's extra benchmark query
# --------------------------------------------------------------------------
@register(
    "tpch_extended_q1",
    oracle="""
SELECT CAST(sum(o_custkey) AS BIGINT) AS sum_custkey
FROM orders
WHERE o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH'
GROUP BY o_orderkey
ORDER BY sum_custkey
""",
    tags=("tpch", "extended", "aggregate"),
)
def tpch_extended_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's TPCH-EXTENDED q1, ported literally
    (reference: spark/src/test/resources/tpch-extended/q1.sql, run by
    CometTPCHQueriesList.scala:69 and the TPCH query benchmark):
    sum(o_custkey) grouped by the TABLE KEY under an OR predicate.
    Degenerate by design — each group is one order, so the "sum" is
    the order's custkey — which is exactly what makes it a benchmark
    kernel: a grouped aggregate whose group count EQUALS the row
    count, the worst case for hash-aggregate memory (no map-side
    reduction; every input row creates a group).  At 100 TB this is
    the shape that decides spill behavior: partial aggregation is
    pure overhead (AQE/codegen fall back to streaming the groups
    through the exchange), and the predicate's OR of two priorities
    prunes at the scan.  A deterministic ORDER BY is added for the
    driver hash (the reference compares unsorted with sort=true
    canonicalization)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            | (F.col("o_orderpriority") == "2-HIGH")
        )
        .groupBy("o_orderkey")
        .agg(F.sum("o_custkey").cast("bigint").alias("sum_custkey"))
        .select("sum_custkey")
        .orderBy("sum_custkey")
    )
