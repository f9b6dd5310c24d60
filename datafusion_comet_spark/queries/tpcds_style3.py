"""TPC-DS-shaped golden queries, batch 3 (round 3) — the remaining
signature compositions from the reference's TPC-DS surface
(reference: spark/src/test/resources/tpcds-query-results/*.sql.out run
by CometTPCDSQuerySuite; literal parity is impossible on the driver's
TPC-H-ish star schema, so each query reproduces the distinctive PLAN
PATTERN re-targeted at the available tables — same policy as batches
1-2, see tpcds_style.py).

Shapes in this batch:

* q64  — repeat purchase chained across two years per (customer, item),
         with dimension chains; literal SQL joins two year-restricted
         fact subqueries, here ONE fact pass with conditional year
         aggregation.
* q29  — buy → return → re-buy triple quantity stats per
         (customer, item) across two periods; literal SQL is a
         3-way fact self-join, here ONE conditional aggregate.
* q23  — frequent items ∩ best customers: two independently derived
         filter sets applied to the fact; literal SQL re-scans the
         fact for each CTE, here each set is one aggregate and the
         fact is scanned once for the final answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register
from ._shared import SQL_REV, _dim_hint, _drev, _t, _ts


@register(
    "tpcds_repeat_purchase_chain",
    oracle=f"""
WITH per_pair AS (
  SELECT o_custkey, l_partkey,
         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
                       THEN l_quantity ELSE 0 END) AS BIGINT) AS qty_y1,
         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
                       THEN l_quantity ELSE 0 END) AS BIGINT) AS qty_y2
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY o_custkey, l_partkey
  HAVING qty_y1 > 0 AND qty_y2 > 0
)
SELECT p_brand,
       CAST(count(*) AS BIGINT)     AS n_repeat_pairs,
       CAST(sum(qty_y1) AS BIGINT)  AS qty_year1,
       CAST(sum(qty_y2) AS BIGINT)  AS qty_year2
FROM per_pair JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
""",
    tags=("tpcds", "repeat-purchase", "conditional", "join"),
)
def tpcds_repeat_purchase_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS q64 shape: the same (customer, item) purchased in year 1
    AND again in year 2, rolled up by brand.

    Scale: the literal q64 joins two year-restricted copies of the
    fact (two scans, two shuffles, then a pair join).  Here both
    years' quantities come from ONE lineitem⋈orders pass with
    conditional sums per (customer, part); the two-year predicate
    pushes to the orders scan, the pair filter is a HAVING on the
    aggregate, and the brand dimension broadcasts onto the
    (already tiny) qualifying pairs.  One keyed join of the two facts
    + one aggregation exchange — the literal pays that twice (once
    per year copy) plus the pair self-join."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
            & (F.col("o_orderdate") < _ts("1998-01-01 00:00:00"))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    y1 = F.col("o_orderdate") < _ts("1997-01-01 00:00:00")
    per_pair = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey", "l_partkey")
        .agg(
            F.sum(F.when(y1, F.col("l_quantity")).otherwise(0))
            .cast("long")
            .alias("qty_y1"),
            F.sum(F.when(~y1, F.col("l_quantity")).otherwise(0))
            .cast("long")
            .alias("qty_y2"),
        )
        .filter((F.col("qty_y1") > 0) & (F.col("qty_y2") > 0))
    )
    return (
        per_pair.join(part, per_pair.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_repeat_pairs"),
            F.sum("qty_y1").cast("long").alias("qty_year1"),
            F.sum("qty_y2").cast("long").alias("qty_year2"),
        )
        .orderBy("p_brand")
    )


@register(
    "tpcds_buy_return_rebuy",
    oracle="""
WITH flows AS (
  SELECT o_custkey, l_partkey,
         CAST(sum(CASE WHEN o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
                        AND l_returnflag <> 'R'
                       THEN l_quantity ELSE 0 END) AS BIGINT) AS qty_kept,
         CAST(sum(CASE WHEN o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
                        AND l_returnflag = 'R'
                       THEN l_quantity ELSE 0 END) AS BIGINT) AS qty_returned,
         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                       THEN l_quantity ELSE 0 END) AS BIGINT) AS qty_rebuy
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY o_custkey, l_partkey
  HAVING qty_kept > 0 AND qty_returned > 0 AND qty_rebuy > 0
)
SELECT CAST(count(*) AS BIGINT)            AS n_flows,
       CAST(sum(qty_kept) AS BIGINT)       AS total_kept,
       CAST(sum(qty_returned) AS BIGINT)   AS total_returned,
       CAST(sum(qty_rebuy) AS BIGINT)      AS total_rebuy,
       CAST(min(o_custkey) AS BIGINT)      AS min_cust,
       CAST(max(o_custkey) AS BIGINT)      AS max_cust
FROM flows
""",
    tags=("tpcds", "returns", "conditional", "funnel"),
)
def tpcds_buy_return_rebuy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q29 shape: items a customer bought, returned, and then
    bought AGAIN in a later period — quantity accounting across the
    three flows.

    Scale: the literal q29 is a THREE-way fact self-join
    (store_sales ⋈ store_returns ⋈ later store_sales).  The driver
    schema folds returns into lineitem.l_returnflag, so all three
    flows are conditional sums in ONE fact pass per (customer, item);
    the triple-positive gate is a HAVING on that aggregate.  One fact
    shuffle instead of three + two pair joins."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag"
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
            & (F.col("o_orderdate") < _ts("1998-01-01 00:00:00"))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    p1 = F.col("o_orderdate") < _ts("1997-01-01 00:00:00")
    ret = F.col("l_returnflag") == "R"
    flows = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey", "l_partkey")
        .agg(
            F.sum(F.when(p1 & ~ret, F.col("l_quantity")).otherwise(0))
            .cast("long")
            .alias("qty_kept"),
            F.sum(F.when(p1 & ret, F.col("l_quantity")).otherwise(0))
            .cast("long")
            .alias("qty_returned"),
            F.sum(F.when(~p1, F.col("l_quantity")).otherwise(0))
            .cast("long")
            .alias("qty_rebuy"),
        )
        .filter(
            (F.col("qty_kept") > 0)
            & (F.col("qty_returned") > 0)
            & (F.col("qty_rebuy") > 0)
        )
    )
    return flows.agg(
        F.count(F.lit(1)).cast("long").alias("n_flows"),
        F.sum("qty_kept").cast("long").alias("total_kept"),
        F.sum("qty_returned").cast("long").alias("total_returned"),
        F.sum("qty_rebuy").cast("long").alias("total_rebuy"),
        F.min("o_custkey").cast("long").alias("min_cust"),
        F.max("o_custkey").cast("long").alias("max_cust"),
    )


@register(
    "tpcds_frequent_best_combo",
    oracle=f"""
WITH freq_parts AS (
  SELECT l_partkey FROM lineitem
  GROUP BY l_partkey HAVING count(DISTINCT l_orderkey) >= 4
),
cust_spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS spend_cents
  FROM orders GROUP BY o_custkey
),
totals AS (
  SELECT CAST(sum(spend_cents) AS BIGINT) AS total_cents,
         CAST(count(*) AS BIGINT) AS n_cust
  FROM cust_spend
),
best_customers AS (
  -- spend > 1.5 * avg spelled as integer-cents cross-multiplication
  -- (spend*2*n > total*3): exact in both engines — a double-valued
  -- avg would let half-cent-boundary customers flip membership.
  -- Both sides widened to int128/DECIMAL(38,0) before multiplying:
  -- spend_cents*2*n_cust can exceed int64 at large SF (per-customer
  -- cents ~1e9 x 2 x n_cust ~1e10), where BIGINT would raise here
  -- and wrap silently in Spark
  SELECT o_custkey FROM cust_spend, totals
  WHERE CAST(spend_cents AS HUGEINT) * 2 * n_cust
        > CAST(total_cents AS HUGEINT) * 3
)
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(round(sum({SQL_REV}), 2) AS DOUBLE) AS revenue,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_partkey IN (SELECT l_partkey FROM freq_parts)
  AND o_custkey IN (SELECT o_custkey FROM best_customers)
""",
    tags=("tpcds", "semi-join", "derived-sets", "subquery"),
)
def tpcds_frequent_best_combo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q23 shape: revenue from BEST customers buying FREQUENT
    items — two independently derived filter sets applied to the fact.

    Scale: the literal q23 materializes both CTEs by re-scanning the
    fact per reference.  Here: frequent parts = one distinct-order
    aggregate over lineitem; best customers = per-customer spend
    aggregate, its 1.5x-average threshold a re-aggregation of that
    aggregate's OUTPUT (|customers| rows) broadcast back as a 1-row
    scalar; both sets then semi-join (broadcast) onto one final fact
    pass.  Honest plan note: unlike q11, the threshold branch's
    exchange does NOT dedupe under AQE here (stage canonicalization is
    column-pruning-sensitive), so the orders scan + partial spend agg
    runs twice — twice over the SMALLER fact's two pruned columns,
    still strictly cheaper than the literal CTE re-materialization,
    and the lineitem fact is scanned exactly twice (freq_parts key
    columns + final revenue columns) with the heavy revenue pass
    happening once.  Every derived set is dimension-sized by
    construction (HAVING >= 4 distinct orders; 1.5x-average spend
    cut), so the broadcasts hold."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    freq_parts = (
        li.groupBy("l_partkey")
        .agg(F.countDistinct("l_orderkey").alias("n_ord"))
        .filter(F.col("n_ord") >= 4)
        .select("l_partkey")
    )
    cust_spend = orders.groupBy("o_custkey").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("spend_cents")
    )
    # 1.5x-average threshold as integer-cents cross-multiplication
    # (spend*2*n > total*3): exact and engine-identical — avg() would
    # round at decimal/double scale and flip boundary customers.
    # Both sides widened to DECIMAL(38,0) (HUGEINT in the oracle)
    # before multiplying: spend_cents*2*n_cust can exceed int64 at
    # large SF, where non-ANSI Spark wraps silently and DuckDB raises
    totals = cust_spend.agg(
        F.sum("spend_cents").cast("bigint").alias("total_cents"),
        F.count(F.lit(1)).alias("n_cust"),
    )
    best_customers = (
        cust_spend.join(F.broadcast(totals))
        .filter(
            F.col("spend_cents").cast("decimal(38,0)") * 2 * F.col("n_cust")
            > F.col("total_cents").cast("decimal(38,0)") * 3
        )
        .select("o_custkey")
    )
    joined = (
        li.select("l_orderkey", "l_partkey", "l_extendedprice", "l_discount")
        .join(
            _dim_hint(freq_parts.withColumnRenamed("l_partkey", "fp_key"), sf_dir, "part"),
            F.col("l_partkey") == F.col("fp_key"),
            "left_semi",
        )
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            _dim_hint(
                best_customers.withColumnRenamed("o_custkey", "bc_key"),
                sf_dir,
                "customer",
            ),
            F.col("o_custkey") == F.col("bc_key"),
            "left_semi",
        )
    )
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.round(F.sum(_drev()), 2).cast("double").alias("revenue"),
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        F.countDistinct("l_partkey").cast("long").alias("n_parts"),
    )
