"""TPC-DS-shaped golden queries, batch 6 (round 5) — sixteen more
signature plan patterns from the reference's 103-query TPC-DS surface
(reference: spark/src/test/resources/tpcds-query-results/*.sql.out run
by CometTPCDSQuerySuite; literal parity is impossible on the driver's
TPC-H-ish star schema, so each query reproduces the distinctive PLAN
PATTERN re-targeted at the available tables — same policy as batches
1-5, see tpcds_style.py).  This batch covers previously-unported
query numbers: 1, 4, 6, 7, 8, 13, 17, 19, 24, 25, 26, 27, 40, 42,
50, 52, 55, 69, 70, 81, 83, 86, 96 — bringing the number-coverage of
the reference's v1_4 suite to ~90/103.

Shapes (TPC-DS query number → pattern):

* q1/q81 — "above-average returner" per state: the literal SQL's
           correlated 1.2x-state-average subquery over a returns CTE,
           decorrelated into a window sum/count with an exact
           cross-multiplied threshold.
* q4/q74 — cross-channel growth comparison: per-customer year-over-
           year growth in one channel must exceed growth in another;
           four conditional sums in ONE pass, ratio comparison as
           exact decimal cross-multiplication (no division).
* q6     — items priced above 1.2x their category average (window
           decorrelation on the DIMENSION), then customer counts per
           state with HAVING.
* q7/q26/q27 — demographic-sliced average report: four averages per
           item category, emitted as exact integer cents (DIV).
* q8     — derived-set ∩ literal-list semi filter: revenue by nation
           restricted to nations that BOTH appear in a literal list
           AND have enough high-balance customers.
* q13    — disjunctive-band guarded averages: averages under an OR
           of (segment × balance-band × quantity-band) conjunctions.
* q17    — kept-vs-returned quantity statistics from exact integer
           moments (n, Σq, Σq²) — variance as data, never as an
           engine accumulator artifact.
* q19    — brand revenue where the BUYER's nation differs from the
           SELLER's nation (two independent dimension paths from one
           fact row).
* q24    — same-nation (customer=supplier) pair revenue above 5% of
           the nation total: window share threshold, exact.
* q25/q40 — before/after pivot date × kept/returned revenue matrix
           per supplier nation (4 conditional sums, one pass).
* q42/q52/q55 — brand-year top-k revenue report:
           TakeOrderedAndProject over one star aggregate.
* q50    — return-lag histogram: days between order date and ship
           date of returned lines, CASE-ladder buckets per nation.
* q69    — channel-exclusive customers: bought in the period but
           NEVER through the urgent channel; EXISTS + NOT-EXISTS
           collapsed to one per-customer conditional aggregate
           (oracle keeps the EXISTS spelling — differential proof).
* q70/q86 — rollup restricted to window-ranked top states: rank
           nations inside regions first, ROLLUP over survivors only.
* q83    — INTERSECT chain of per-channel date sets driving a
           returns semi-join, share-of-total per brand.
* q96    — count-only star probe: single filtered COUNT through a
           time-band + attribute predicates (events table carries
           real hour-of-day variation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import register
from ._shared import SQL_REV, _drev, _t


# --------------------------------------------------------------------------
# q1/q81 — above-average returner per state (decorrelated window)
# --------------------------------------------------------------------------
@register(
    "tpcds_returner_nation_outlier",
    oracle=f"""
WITH ret AS (
  SELECT o_custkey,
         sum({SQL_REV}) AS ret_rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
  GROUP BY o_custkey
), j AS (
  SELECT c_custkey, c_nationkey, ret_rev,
         sum(ret_rev) OVER (PARTITION BY c_nationkey) AS nat_sum,
         count(*)     OVER (PARTITION BY c_nationkey) AS nat_n
  FROM ret JOIN customer ON o_custkey = c_custkey
)
SELECT c_custkey,
       CAST(c_nationkey AS INT) AS c_nationkey,
       CAST(round(ret_rev, 2) AS DOUBLE) AS ret_rev
FROM j
WHERE ret_rev * nat_n * 10 > nat_sum * 12
ORDER BY c_custkey
""",
    tags=("tpcds", "window", "decorrelation", "returns"),
)
def tpcds_returner_nation_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q1/q81 shape: customers whose returned revenue exceeds
    1.2x the average returned revenue of their nation.  The literal
    SQL re-scans the returns CTE inside a correlated scalar subquery
    (per-row aggregate over the same CTE); here the per-nation
    average decorrelates into ONE window over the customer-level
    aggregate — the returns fact is scanned once, shuffled once by
    customer, once by nation.  The 1.2x test is exact decimal
    cross-multiplication (rev*n*10 > sum*12): no division, no
    floating-point threshold — boundary customers cannot flip.  At
    100 TB the correlated spelling is quadratic scan work; this is
    two keyed exchanges."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    ret = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(_drev()).alias("ret_rev"))
    )
    j = ret.join(cust, ret.o_custkey == cust.c_custkey)
    w = Window.partitionBy("c_nationkey")
    j = j.withColumn("nat_sum", F.sum("ret_rev").over(w)).withColumn(
        "nat_n", F.count(F.lit(1)).over(w)
    )
    return (
        j.filter(
            F.col("ret_rev") * F.col("nat_n") * 10
            > F.col("nat_sum") * 12
        )
        .select(
            "c_custkey",
            F.col("c_nationkey").cast("int").alias("c_nationkey"),
            F.round("ret_rev", 2).cast("double").alias("ret_rev"),
        )
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# q4/q74 — cross-channel growth comparison
# --------------------------------------------------------------------------
@register(
    "tpcds_channel_growth_compare",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         sum(CASE WHEN year(o_orderdate) = 1997
                   AND o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END)
             AS h97,
         sum(CASE WHEN year(o_orderdate) = 1998
                   AND o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END)
             AS h98,
         sum(CASE WHEN year(o_orderdate) = 1997
                   AND o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END)
             AS l97,
         sum(CASE WHEN year(o_orderdate) = 1998
                   AND o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END)
             AS l98
  FROM orders
  WHERE year(o_orderdate) IN (1997, 1998)
  GROUP BY o_custkey
)
SELECT o_custkey AS custkey,
       CAST(round(h97, 2) AS DOUBLE) AS high_1997,
       CAST(round(h98, 2) AS DOUBLE) AS high_1998,
       CAST(round(l97, 2) AS DOUBLE) AS low_1997,
       CAST(round(l98, 2) AS DOUBLE) AS low_1998
FROM per_cust
WHERE h97 > 0 AND l97 > 0
  AND h98 * l97 > l98 * h97
ORDER BY custkey
""",
    tags=("tpcds", "aggregate", "conditional", "growth"),
)
def tpcds_channel_growth_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q4/q74 shape: customers whose year-over-year spend
    growth in the premium channel beats their growth in the economy
    channel.  The literal SQL builds a year_total CTE and self-joins
    it FOUR times (channel x year); here all four totals come out of
    ONE conditional aggregate — one fact scan, one shuffle by
    customer, zero self-joins.  The growth comparison
    (h98/h97 > l98/l97) is spelled as exact decimal
    cross-multiplication h98*l97 > l98*h97 (valid because both
    denominators are filtered positive) — the literal's
    division-based compare re-introduces doubles at the boundary.
    At 100 TB the self-join spelling shuffles the aggregate four
    times and joins through three exchanges; this is one pass."""
    orders = _t(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    yr = F.year("o_orderdate")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    lo = F.col("o_orderpriority").isin("4-NOT SPECIFIED", "5-LOW")
    per_cust = (
        orders.filter(yr.isin(1997, 1998))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when((yr == 1997) & hi, dec).otherwise(zero)).alias("h97"),
            F.sum(F.when((yr == 1998) & hi, dec).otherwise(zero)).alias("h98"),
            F.sum(F.when((yr == 1997) & lo, dec).otherwise(zero)).alias("l97"),
            F.sum(F.when((yr == 1998) & lo, dec).otherwise(zero)).alias("l98"),
        )
    )
    return (
        per_cust.filter(
            (F.col("h97") > 0)
            & (F.col("l97") > 0)
            & (F.col("h98") * F.col("l97") > F.col("l98") * F.col("h97"))
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.round("h97", 2).cast("double").alias("high_1997"),
            F.round("h98", 2).cast("double").alias("high_1998"),
            F.round("l97", 2).cast("double").alias("low_1997"),
            F.round("l98", 2).cast("double").alias("low_1998"),
        )
        .orderBy("custkey")
    )


# --------------------------------------------------------------------------
# q6 — customers buying above-category-average-priced items, per state
# --------------------------------------------------------------------------
@register(
    "tpcds_pricey_item_buyers_per_nation",
    oracle="""
WITH priced AS (
  SELECT p_partkey,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
         sum(CAST(round(p_retailprice * 100) AS BIGINT))
             OVER (PARTITION BY split_part(p_type, ' ', 1)) AS cat_sum,
         count(*) OVER (PARTITION BY split_part(p_type, ' ', 1)) AS cat_n
  FROM part
), pricey AS (
  SELECT p_partkey FROM priced
  WHERE price_c * cat_n > cat_sum
)
SELECT CAST(c_nationkey AS INT) AS c_nationkey,
       CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_buyers
FROM lineitem
JOIN pricey   ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE year(o_orderdate) = 1997
GROUP BY c_nationkey
HAVING count(DISTINCT c_custkey) >= 3
ORDER BY c_nationkey
""",
    tags=("tpcds", "window", "decorrelation", "distinct"),
)
def tpcds_pricey_item_buyers_per_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS q6 shape: per-state count of customers who bought items
    priced above their category's average price.  The literal SQL's
    correlated subquery (1.2x the avg price of the item's category)
    runs per item; here it decorrelates into a window over the
    DIMENSION table — the part table is tiny relative to the fact, so
    the window costs one dimension-sized exchange and the fact is
    touched once.  The category is the p_type first word (the fine
    type has ~1 part per value at small SF — a degenerate window) and
    the margin is "strictly above average" rather than the literal's
    1.2x: the driver's synthetic prices are uniform within ±5% (±1%
    at sf0.001), so ANY fixed multiplicative margin is either always
    empty or scale-dependent; the >avg spelling keeps the
    decorrelation shape live at every scale.  Threshold exact via
    integer-cents cross-multiplication (price·n > sum, no division).
    The pricey-part set then semi-joins the fact as a broadcast
    (dimension-sized), and the distinct-customer count is the only
    fact shuffle.  HAVING >= 3 mirrors the literal's
    `having count(*) >= 10` at the driver's scale."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    w = Window.partitionBy(F.split(F.col("p_type"), " ").getItem(0))
    priced = part.withColumn(
        "price_c", F.round(F.col("p_retailprice") * 100).cast("long")
    ).withColumn("cat_sum", F.sum("price_c").over(w)).withColumn(
        "cat_n", F.count(F.lit(1)).over(w)
    )
    pricey = priced.filter(
        F.col("price_c") * F.col("cat_n") > F.col("cat_sum")
    ).select("p_partkey")
    return (
        li.join(pricey, li.l_partkey == pricey.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.year("o_orderdate") == 1997)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").cast("int").alias("c_nationkey"))
        .agg(F.count_distinct("c_custkey").alias("n_buyers"))
        .filter(F.col("n_buyers") >= 3)
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# q7/q26/q27 — demographic-sliced average report (exact cents)
# --------------------------------------------------------------------------
@register(
    "tpcds_segment_item_averages",
    oracle="""
SELECT p_type,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(l_quantity AS BIGINT)) * 100 // count(*) AS BIGINT)
           AS avg_qty_c,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) // count(*)
            AS BIGINT) AS avg_price_c,
       CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) * 100 // count(*)
            AS BIGINT) AS avg_disc_bp
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND year(o_orderdate) = 1997
GROUP BY p_type
ORDER BY p_type
""",
    tags=("tpcds", "aggregate", "average"),
)
def tpcds_segment_item_averages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q7/q26/q27 shape: the demographic-sliced item report —
    four averages per item category for one customer segment and
    year.  All averages are emitted as exact integer cents /
    basis-points via integer-sum DIV count (the tpcds_rollup_averages
    convention: floor division has no rounding mode, so the halfway
    quotients that flip between Spark HALF_UP and DuckDB rounding
    cannot occur).  Plan: fact scanned once, part/customer broadcast,
    one hash-aggregate exchange on p_type.  The literal SQL spells
    this as avg() x4 over a 4-way star join — same plan here, exact
    output."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.year("o_orderdate") == 1997)
        )
    )
    return (
        joined.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.expr(
                "CAST(sum(CAST(l_quantity AS BIGINT)) * 100"
                " DIV count(*) AS BIGINT)"
            ).alias("avg_qty_c"),
            F.expr(
                "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))"
                " DIV count(*) AS BIGINT)"
            ).alias("avg_price_c"),
            F.expr(
                "CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) * 100"
                " DIV count(*) AS BIGINT)"
            ).alias("avg_disc_bp"),
        )
        .orderBy("p_type")
    )


# --------------------------------------------------------------------------
# q8 — derived-set ∩ literal-list semi filter
# --------------------------------------------------------------------------
@register(
    "tpcds_nation_set_revenue",
    oracle=f"""
WITH rich AS (
  SELECT c_nationkey
  FROM customer
  WHERE c_acctbal > 5000
  GROUP BY c_nationkey
  HAVING count(*) >= 20
), wanted AS (
  SELECT c_nationkey AS nk FROM rich
  INTERSECT
  SELECT * FROM (VALUES (0),(2),(4),(6),(8),(10),(12),(14),(16),(18)) v(nk)
)
SELECT CAST(s_nationkey AS INT) AS s_nationkey,
       CAST(round(sum({SQL_REV}), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN wanted   ON s_nationkey = nk
GROUP BY s_nationkey
ORDER BY s_nationkey
""",
    tags=("tpcds", "setops", "semi-join"),
)
def tpcds_nation_set_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q8 shape: revenue restricted to a filter set built as
    the INTERSECTION of a literal value list and a derived set (the
    literal's zip-prefix list ∩ zips of preferred-customer counties;
    here even-numbered nations ∩ nations with >= 20 high-balance
    customers).  Both sets are dimension-sized: the intersection is
    computed entirely off the fact path and broadcast into the fact
    scan as a semi-join — the fact shuffles only for the final
    aggregate.  The literal SQL's substr()-based correlated IN
    becomes a first-class set operation."""
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rich = (
        cust.filter(F.col("c_acctbal") > 5000)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 20)
        .select(F.col("c_nationkey").cast("int").alias("nk"))
    )
    literal = spark.createDataFrame(
        [(i,) for i in range(0, 20, 2)], "nk int"
    )
    wanted = rich.intersect(literal)
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(wanted), supp.s_nationkey == wanted.nk, "semi")
        .groupBy(F.col("s_nationkey").cast("int").alias("s_nationkey"))
        .agg(F.round(F.sum(_drev()), 2).cast("double").alias("revenue"))
        .orderBy("s_nationkey")
    )


# --------------------------------------------------------------------------
# q13 — disjunctive-band guarded averages
# --------------------------------------------------------------------------
@register(
    "tpcds_or_band_averages",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(l_quantity AS BIGINT)) * 100 // count(*) AS BIGINT)
           AS avg_qty_c,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) // count(*)
            AS BIGINT) AS avg_price_c,
       CAST(round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                  / 10000.0, 2) AS DOUBLE) AS sum_rev
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE (c_mktsegment = 'BUILDING'
       AND c_acctbal BETWEEN 0 AND 5000
       AND l_quantity BETWEEN 1 AND 15)
   OR (c_mktsegment = 'MACHINERY'
       AND c_acctbal BETWEEN 2000 AND 8000
       AND l_quantity BETWEEN 10 AND 30)
   OR (c_mktsegment = 'AUTOMOBILE'
       AND c_acctbal BETWEEN 5000 AND 10000
       AND l_quantity BETWEEN 20 AND 50)
""",
    tags=("tpcds", "aggregate", "disjunction", "average"),
)
def tpcds_or_band_averages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q13 shape: global averages under a 3-arm OR of
    (segment x balance-band x quantity-band) conjunctions.  The OR
    spans columns from BOTH join sides, so no single-table pushdown
    can satisfy it — the optimizer can only push the per-table
    residuals (Catalyst derives `c_mktsegment IN (...)` on the
    customer side); the full disjunction evaluates post-join in one
    codegen stage.  Averages are exact integer cents DIV count; the
    revenue sum is the scaled-integer kernel (price_c x (100-disc_c)
    in long registers) emitted once as a double.  One fact pass,
    customer broadcast, single-row result."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    arm1 = (
        (F.col("c_mktsegment") == "BUILDING")
        & F.col("c_acctbal").between(0, 5000)
        & F.col("l_quantity").between(1, 15)
    )
    arm2 = (
        (F.col("c_mktsegment") == "MACHINERY")
        & F.col("c_acctbal").between(2000, 8000)
        & F.col("l_quantity").between(10, 30)
    )
    arm3 = (
        (F.col("c_mktsegment") == "AUTOMOBILE")
        & F.col("c_acctbal").between(5000, 10000)
        & F.col("l_quantity").between(20, 50)
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(arm1 | arm2 | arm3)
    )
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.expr(
            "CAST(sum(CAST(l_quantity AS BIGINT)) * 100"
            " DIV count(*) AS BIGINT)"
        ).alias("avg_qty_c"),
        F.expr(
            "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))"
            " DIV count(*) AS BIGINT)"
        ).alias("avg_price_c"),
        F.expr(
            "CAST(round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)"
            " * (100 - CAST(round(l_discount * 100) AS BIGINT)))"
            " / 10000.0, 2) AS DOUBLE)"
        ).alias("sum_rev"),
    )


# --------------------------------------------------------------------------
# q17 — kept-vs-returned quantity statistics from exact moments
# --------------------------------------------------------------------------
@register(
    "tpcds_quantity_moment_stats",
    oracle="""
WITH m AS (
  SELECT p_brand,
         CAST(count(CASE WHEN l_returnflag <> 'R' THEN 1 END) AS BIGINT)
             AS n_kept,
         CAST(sum(CASE WHEN l_returnflag <> 'R'
                       THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
              AS BIGINT) AS s1_kept,
         CAST(sum(CASE WHEN l_returnflag <> 'R'
                       THEN CAST(l_quantity AS BIGINT)
                            * CAST(l_quantity AS BIGINT) ELSE 0 END)
              AS BIGINT) AS s2_kept,
         CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT)
             AS n_ret,
         CAST(sum(CASE WHEN l_returnflag = 'R'
                       THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
              AS BIGINT) AS s1_ret
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
)
SELECT p_brand, n_kept, s1_kept, s2_kept, n_ret, s1_ret,
       CAST(s1_kept * 100 // n_kept AS BIGINT) AS mean_kept_c,
       CAST((n_kept * s2_kept - s1_kept * s1_kept) * 10000
            // (n_kept * (n_kept - 1)) AS BIGINT) AS var_kept_e4
FROM m
WHERE n_kept > 1
ORDER BY p_brand
""",
    tags=("tpcds", "aggregate", "statistics", "moments"),
)
def tpcds_quantity_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q17 shape: mean/variance of sold vs returned quantities
    per brand.  The literal SQL uses avg() and stddev_samp() over
    three fact self-joins; here BOTH statistics derive from exact
    integer moments (n, Σq, Σq²) accumulated in ONE conditional pass
    — variance is (n·Σq² − (Σq)²)/(n(n−1)) computed in integer
    arithmetic and emitted as a 1e-4-scaled integer via floor
    division (no engine accumulator, no rounding mode, no float
    summation-order divergence; the same exactness argument as
    tpcds_demand_variability/q39).  Moments merge associatively, so
    the two-phase hash aggregate is exact at any parallelism — the
    property that makes this safe on 1000 executors."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    kept = F.col("l_returnflag") != "R"
    q = F.col("l_quantity").cast("long")
    m = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.when(kept, 1)).cast("long").alias("n_kept"),
            F.sum(F.when(kept, q).otherwise(0)).cast("long").alias("s1_kept"),
            F.sum(F.when(kept, q * q).otherwise(0))
            .cast("long")
            .alias("s2_kept"),
            F.count(F.when(~kept, 1)).cast("long").alias("n_ret"),
            F.sum(F.when(~kept, q).otherwise(0)).cast("long").alias("s1_ret"),
        )
    )
    return (
        m.filter(F.col("n_kept") > 1)
        .select(
            "p_brand",
            "n_kept",
            "s1_kept",
            "s2_kept",
            "n_ret",
            "s1_ret",
            F.expr("CAST(s1_kept * 100 DIV n_kept AS BIGINT)").alias(
                "mean_kept_c"
            ),
            F.expr(
                "CAST((n_kept * s2_kept - s1_kept * s1_kept) * 10000"
                " DIV (n_kept * (n_kept - 1)) AS BIGINT)"
            ).alias("var_kept_e4"),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# q19 — buyer-nation ≠ seller-nation brand revenue
# --------------------------------------------------------------------------
@register(
    "tpcds_cross_border_brand_revenue",
    oracle=f"""
SELECT p_brand,
       CAST(round(sum({SQL_REV}), 2) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE year(o_orderdate) = 1997
  AND c_nationkey <> s_nationkey
GROUP BY p_brand
ORDER BY p_brand
""",
    tags=("tpcds", "join", "star"),
)
def tpcds_cross_border_brand_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS q19 shape: brand revenue where the buyer's geography
    differs from the seller's (the literal compares store zip vs
    customer zip inside the join).  Two independent dimension paths
    hang off one fact row — supplier via l_suppkey, customer via
    l_orderkey→o_custkey — and the inequality predicate can only
    evaluate after BOTH are attached, so it lands post-join in the
    same codegen stage.  All four dimensions broadcast; the fact is
    scanned once and shuffles only for the brand aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.year("o_orderdate") == 1997)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
    )
    return (
        joined.groupBy("p_brand")
        .agg(
            F.round(F.sum(_drev()), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# q24 — same-nation pair revenue above a share threshold
# --------------------------------------------------------------------------
@register(
    "tpcds_domestic_brand_share",
    oracle=f"""
WITH pair AS (
  SELECT c_nationkey AS nk, p_brand,
         sum({SQL_REV}) AS rev
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_nationkey = s_nationkey
  GROUP BY c_nationkey, p_brand
)
SELECT CAST(nk AS INT) AS nk, p_brand,
       CAST(round(rev, 2) AS DOUBLE) AS revenue
FROM (
  SELECT nk, p_brand, rev,
         sum(rev) OVER (PARTITION BY nk) AS nat_total
  FROM pair
) t
WHERE rev * 20 > nat_total
ORDER BY nk, p_brand
""",
    tags=("tpcds", "window", "share", "join"),
)
def tpcds_domestic_brand_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q24 shape: revenue concentrated in matched-geography
    pairs (the literal pairs customers and stores in the same zip)
    above a 5%-of-total threshold the literal computes as a scalar
    subquery.  Here the equality c_nationkey = s_nationkey is a
    post-join filter over two broadcast dimension paths, the pair
    aggregate is the only fact shuffle, and the 5% threshold
    decorrelates into a window sum per nation over the ALREADY
    AGGREGATED pairs (dimension-cardinality rows — the window is
    nearly free).  Exact via rev*20 > total: no division."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    pair = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("c_nationkey").alias("nk"), F.col("p_brand"))
        .agg(F.sum(_drev()).alias("rev"))
    )
    w = Window.partitionBy("nk")
    return (
        pair.withColumn("nat_total", F.sum("rev").over(w))
        .filter(F.col("rev") * 20 > F.col("nat_total"))
        .select(
            F.col("nk").cast("int").alias("nk"),
            "p_brand",
            F.round("rev", 2).cast("double").alias("revenue"),
        )
        .orderBy("nk", "p_brand")
    )


# --------------------------------------------------------------------------
# q25/q40 — before/after pivot × kept/returned revenue matrix
# --------------------------------------------------------------------------
@register(
    "tpcds_pivot_return_matrix",
    oracle=f"""
SELECT CAST(s_nationkey AS INT) AS s_nationkey,
       CAST(round(sum(CASE WHEN l_shipdate <  TIMESTAMP '1998-01-01'
                            AND l_returnflag <> 'R'
                           THEN {SQL_REV} ELSE 0 END), 2) AS DOUBLE)
           AS kept_before,
       CAST(round(sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
                            AND l_returnflag <> 'R'
                           THEN {SQL_REV} ELSE 0 END), 2) AS DOUBLE)
           AS kept_after,
       CAST(round(sum(CASE WHEN l_shipdate <  TIMESTAMP '1998-01-01'
                            AND l_returnflag = 'R'
                           THEN {SQL_REV} ELSE 0 END), 2) AS DOUBLE)
           AS returned_before,
       CAST(round(sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
                            AND l_returnflag = 'R'
                           THEN {SQL_REV} ELSE 0 END), 2) AS DOUBLE)
           AS returned_after
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
ORDER BY s_nationkey
""",
    tags=("tpcds", "aggregate", "conditional", "returns"),
)
def tpcds_pivot_return_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q25/q40 shape: the before/after-pivot-date x
    kept/returned revenue matrix per state (q40 reports catalog sales
    before vs after a price-change date, split by returned or not).
    The literal spells it as joins against two date-dim slices and a
    returns outer join — three fact-sized inputs; here the full 2x2
    matrix falls out of ONE conditional aggregate over one fact scan
    (supplier broadcast).  Decimal-exact sums, rounded once at the
    boundary."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    pivot = F.lit("1998-01-01").cast("timestamp")
    kept = F.col("l_returnflag") != "R"
    before = F.col("l_shipdate") < pivot
    zero = F.lit(0).cast("decimal(18,2)")
    rev = _drev()

    def cell(cond):
        return F.round(
            F.sum(F.when(cond, rev).otherwise(zero)), 2
        ).cast("double")

    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(F.col("s_nationkey").cast("int").alias("s_nationkey"))
        .agg(
            cell(before & kept).alias("kept_before"),
            cell(~before & kept).alias("kept_after"),
            cell(before & ~kept).alias("returned_before"),
            cell(~before & ~kept).alias("returned_after"),
        )
        .orderBy("s_nationkey")
    )


# --------------------------------------------------------------------------
# q42/q52/q55 — brand-year top-k report
# --------------------------------------------------------------------------
@register(
    "tpcds_brand_year_topk",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS INT) AS yr,
       p_brand,
       CAST(round(sum({SQL_REV}), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN part   ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
WHERE month(o_orderdate) = 12
GROUP BY year(o_orderdate), p_brand
ORDER BY revenue DESC, yr, p_brand
LIMIT 10
""",
    tags=("tpcds", "topk", "star"),
)
def tpcds_brand_year_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q42/q52/q55 shape: the brand-by-year December revenue
    report, top 10 by revenue.  The interesting physical property is
    the tail: ORDER BY + LIMIT over an aggregate must become
    TakeOrderedAndProject (per-partition top-10 heaps merged on the
    driver — O(k) memory), NEVER a global sort.  Deterministic under
    revenue ties via the (yr, brand) tiebreak.  Dimensions broadcast,
    month filter pushed to the fact scan."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.month("o_orderdate") == 12)
        .groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.col("p_brand"),
        )
        .agg(F.round(F.sum(_drev()), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "yr", "p_brand")
        .limit(10)
    )


# --------------------------------------------------------------------------
# q50 — return-lag histogram (join-derived lag)
# --------------------------------------------------------------------------
@register(
    "tpcds_return_lag_histogram",
    oracle="""
SELECT CAST(s_nationkey AS INT) AS s_nationkey,
       CAST(sum(CASE WHEN lag_d <= 30 THEN 1 ELSE 0 END) AS BIGINT)
           AS d30,
       CAST(sum(CASE WHEN lag_d BETWEEN 31 AND 60 THEN 1 ELSE 0 END)
            AS BIGINT) AS d60,
       CAST(sum(CASE WHEN lag_d BETWEEN 61 AND 90 THEN 1 ELSE 0 END)
            AS BIGINT) AS d90,
       CAST(sum(CASE WHEN lag_d BETWEEN 91 AND 120 THEN 1 ELSE 0 END)
            AS BIGINT) AS d120,
       CAST(sum(CASE WHEN lag_d > 120 THEN 1 ELSE 0 END) AS BIGINT)
           AS d_over
FROM (
  SELECT s_nationkey,
         date_diff('day', CAST(o_orderdate AS DATE),
                   CAST(l_shipdate AS DATE)) AS lag_d
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE l_returnflag = 'R'
) t
GROUP BY s_nationkey
ORDER BY s_nationkey
""",
    tags=("tpcds", "histogram", "temporal", "returns"),
)
def tpcds_return_lag_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q50 shape: the sold→returned lag histogram — the lag is
    JOIN-DERIVED (sale date lives on one fact, return date on the
    other; here order date vs ship date of returned lines), unlike
    q99/q62's single-table delay buckets.  The CASE ladder evaluates
    in the join's codegen stage; one aggregate exchange of
    |nations| x 5 counters.  The returned-only filter pushes to the
    lineitem scan before the join."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    lag = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    joined = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .withColumn("lag_d", lag)
    )

    def bucket(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    d = F.col("lag_d")
    return (
        joined.groupBy(F.col("s_nationkey").cast("int").alias("s_nationkey"))
        .agg(
            bucket(d <= 30).alias("d30"),
            bucket(d.between(31, 60)).alias("d60"),
            bucket(d.between(61, 90)).alias("d90"),
            bucket(d.between(91, 120)).alias("d120"),
            bucket(d > 120).alias("d_over"),
        )
        .orderBy("s_nationkey")
    )


# --------------------------------------------------------------------------
# q69 — channel-exclusive customers (EXISTS + NOT EXISTS collapsed)
# --------------------------------------------------------------------------
@register(
    "tpcds_channel_exclusive_customers",
    oracle="""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers
FROM customer c
WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND year(o.o_orderdate) = 1997
      )
  AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND year(o.o_orderdate) = 1997
          AND o.o_orderpriority = '1-URGENT'
      )
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    tags=("tpcds", "exists", "decorrelation", "semi-join"),
)
def tpcds_channel_exclusive_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS q69 shape: customers active in the period who NEVER
    used one specific channel — the literal SQL is an EXISTS on one
    channel's fact plus NOT EXISTS on two others.  Both correlated
    subqueries probe the SAME fact slice, so they collapse into ONE
    per-customer conditional aggregate (any order? max(urgent flag))
    followed by a flag filter — one fact scan instead of the
    literal's three, and the oracle KEEPS the EXISTS/NOT-EXISTS
    spelling so the rewrite is proved differentially (the
    tpcds_multi_supplier_clean/q16 methodology, extended from
    per-order to per-customer grain)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    flags = (
        orders.filter(F.year("o_orderdate") == 1997)
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("used_urgent")
        )
        .filter(F.col("used_urgent") == 0)
        .select("o_custkey")
    )
    return (
        cust.join(flags, cust.c_custkey == flags.o_custkey, "semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# q70/q86 — rollup restricted to window-ranked top states
# --------------------------------------------------------------------------
@register(
    "tpcds_top_nations_rollup",
    oracle=f"""
WITH nat_rev AS (
  SELECT n_regionkey, s_nationkey,
         sum({SQL_REV}) AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY n_regionkey, s_nationkey
), top_nations AS (
  SELECT n_regionkey, s_nationkey, rev
  FROM (
    SELECT n_regionkey, s_nationkey, rev,
           row_number() OVER (PARTITION BY n_regionkey
                              ORDER BY rev DESC, s_nationkey) AS rk
    FROM nat_rev
  ) t
  WHERE rk <= 3
)
SELECT CAST(n_regionkey AS INT) AS regionkey,
       CAST(s_nationkey AS INT) AS nationkey,
       CAST(grouping(n_regionkey) + 2 * grouping(s_nationkey) AS INT)
           AS lvl,
       CAST(round(sum(rev), 2) AS DOUBLE) AS revenue
FROM top_nations
GROUP BY ROLLUP (n_regionkey, s_nationkey)
ORDER BY lvl, regionkey NULLS FIRST, nationkey NULLS FIRST
""",
    tags=("tpcds", "rollup", "window", "topk"),
)
def tpcds_top_nations_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q70/q86 shape: a hierarchy rollup computed ONLY over
    each region's top-k states — the literal restricts the rollup
    with an IN subquery whose body is a rank window over a second
    scan of the same fact.  Here the fact aggregates ONCE to
    (region, nation) grain; the rank window and the ROLLUP both run
    over that dimension-sized aggregate (the window costs a
    |nations|-row exchange, the rollup a 3-way Expand of the
    survivors).  row_number with an explicit nationkey tiebreak keeps
    the top-3 deterministic under revenue ties."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    nat_rev = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy("n_regionkey", "s_nationkey")
        .agg(F.sum(_drev()).alias("rev"))
    )
    w = Window.partitionBy("n_regionkey").orderBy(
        F.col("rev").desc(), F.col("s_nationkey")
    )
    top = (
        nat_rev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .drop("rk")
    )
    return (
        top.rollup("n_regionkey", "s_nationkey")
        .agg(
            (
                F.grouping("n_regionkey") + F.lit(2) * F.grouping("s_nationkey")
            ).cast("int").alias("lvl"),
            F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
        )
        .select(
            F.col("n_regionkey").cast("int").alias("regionkey"),
            F.col("s_nationkey").cast("int").alias("nationkey"),
            "lvl",
            "revenue",
        )
        .orderBy(
            "lvl",
            F.col("regionkey").asc_nulls_first(),
            F.col("nationkey").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# q83 — INTERSECT chain of date sets driving a returns semi-join
# --------------------------------------------------------------------------
@register(
    "tpcds_date_intersect_returns",
    oracle="""
WITH d1 AS (
  SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
  WHERE o_orderpriority = '1-URGENT'
), d2 AS (
  SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
  WHERE o_orderpriority = '2-HIGH'
), d3 AS (
  SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
  WHERE o_orderpriority = '3-MEDIUM'
), dates AS (
  SELECT d FROM d1 INTERSECT SELECT d FROM d2 INTERSECT SELECT d FROM d3
), ret AS (
  SELECT p_brand,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ret_qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE l_returnflag = 'R'
    AND CAST(l_shipdate AS DATE) IN (SELECT d FROM dates)
  GROUP BY p_brand
)
SELECT p_brand, ret_qty,
       CAST(ret_qty * 10000 // (SELECT sum(ret_qty) FROM ret) AS BIGINT)
           AS share_bp
FROM ret
ORDER BY p_brand
""",
    tags=("tpcds", "setops", "semi-join", "returns"),
)
def tpcds_date_intersect_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q83 shape: return quantities restricted to a date set
    built as an INTERSECT chain (the literal intersects three
    week-sequence date subqueries), with each brand's share of the
    restricted total.  The literal's INTERSECT legs each scan
    date_dim — a true dimension — but the only date source here is
    `orders`, so a leg-per-priority spelling would pay THREE pruned
    fact passes.  The chain therefore collapses to one scan: group
    dates by day, count distinct priorities, keep days hitting all
    3 — set-intersection as a count-distinct aggregate (the
    INTERSECT operator itself stays pinned by
    tpcds_customer_cohort_setops / tpcds_half_year_balance /
    tpcds_cross_channel_rollup, where the legs are genuinely small).
    The oracle keeps the literal INTERSECT chain, differentially
    proving the collapse.  The dimension-sized result broadcasts into
    the returns scan as a semi-join.  The share denominator is a
    scalar re-aggregate
    of the ALREADY AGGREGATED brand rows (dimension-sized — not a
    second fact pass), broadcast back and emitted as exact
    basis-points via floor division."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")

    dates = (
        orders.filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM")
        )
        .select(
            F.col("o_orderdate").cast("date").alias("d"), "o_orderpriority"
        )
        .groupBy("d")
        .agg(F.count_distinct("o_orderpriority").alias("np"))
        .filter(F.col("np") == 3)
        .select("d")
    )
    ret = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            F.broadcast(dates),
            li.l_shipdate.cast("date") == dates.d,
            "semi",
        )
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("ret_qty"))
    )
    total = ret.agg(F.sum("ret_qty").alias("total_qty"))
    return (
        ret.join(F.broadcast(total))
        .select(
            "p_brand",
            F.col("ret_qty").cast("long").alias("ret_qty"),
            F.expr(
                "CAST(ret_qty * 10000 DIV total_qty AS BIGINT)"
            ).alias("share_bp"),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# q96 — count-only star probe through a time band
# --------------------------------------------------------------------------
@register(
    "tpcds_hour_band_count",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_events
FROM events
WHERE hour(ts) BETWEEN 15 AND 17
  AND event_type = 'purchase'
  AND value > 0
""",
    tags=("tpcds", "count", "temporal"),
)
def tpcds_hour_band_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q96 shape: the count-only star probe — COUNT(*) through
    a time-band + attribute predicates (the literal counts store
    sales at 8pm for a household-demographic slice; the events table
    is the only driver table with real hour-of-day variation).  The
    physical point: a count-only query must reduce to scan→partial
    count→single-row exchange — no join, no row materialization
    beyond the predicate columns, ReadSchema pruned to (ts,
    event_type, value)."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(
        F.hour("ts").between(15, 17)
        & (F.col("event_type") == "purchase")
        & (F.col("value") > 0)
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
