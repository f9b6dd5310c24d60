"""TPC-DS-shaped golden queries, batch 7 (round 5) — the LAST eight
plan patterns from the reference's 103-query TPC-DS surface
(reference: spark/src/test/resources/tpcds-query-results/*.sql.out run
by CometTPCDSQuerySuite; literal SQL under
benchmarks/tpc/queries/tpcds/).  Same policy as batches 1-6: literal
parity is impossible on the driver's TPC-H-ish star schema, so each
query reproduces the distinctive PLAN PATTERN re-targeted at the
available tables.  This batch covers the remaining unported numbers
3, 15, 43, 53, 63, 71, 91, 94, 95 — with it, every one of the
reference's v1_4 query numbers has a shape port in the registry.

Shapes (TPC-DS query number → pattern):

* q3     — manufacturer-filtered brand/year report ordered by the
           GROUP KEY first, then the measure (a per-year interleaved
           report, not a global top-k — contrast tpcds_brand_year_topk
           / q42 where the measure leads the ordering).
* q15    — disjunction spanning a dimension substring (zip prefix ~
           phone prefix), a dimension attribute, and a FACT measure —
           no single side can satisfy the OR, so it evaluates
           post-join; grouped by the substring itself.
* q43    — the store × weekday 7-column conditional-sum matrix with
           the literal's `else null` (a day with no sales reports
           NULL, not 0).
* q53/q63 — quarterly revenue vs the manufacturer's own average:
           window avg over the bounded inner aggregate, the 10%
           deviation test spelled as widened-integer
           cross-multiplication (HUGEINT/DECIMAL(38,0) — no division,
           overflow-safe at any scale).
* q71    — three channel scans UNION ALL'd into one shape, joined to
           a time-of-day dimension, restricted to meal-time bands,
           ordered by revenue.
* q91    — returns-loss report through a deep dimension chain
           (supplier + customer → nation → region) with an OR of
           demographic conjunctions; grouped partly by columns the
           report doesn't sort on.
* q94    — multi-supplier unreturned orders: correlated EXISTS
           (another line, different supplier) + NOT EXISTS (any
           returned line) against the UNRESTRICTED fact, collapsed to
           one per-order aggregate; oracle keeps the EXISTS spelling
           (differential proof of the decorrelation).
* q95    — the q94 skeleton where BOTH membership tests are positive
           IN-subqueries against a self-join CTE (orders with lines
           from ≥2 suppliers, reused twice); the Spark side replaces
           the quadratic self-join with one count-distinct aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import register
from ._shared import SQL_REV, _dim_hint, _drev, _money, _t


# --------------------------------------------------------------------------
# q3 — manufacturer-filtered brand/year report, group-key-led ordering
# --------------------------------------------------------------------------
@register(
    "tpcds_mfgr_brand_december",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS INT) AS yr,
       p_brand,
       CAST(round(sum({SQL_REV}), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN part   ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_brand LIKE 'Brand#3%'
  AND month(o_orderdate) = 12
GROUP BY year(o_orderdate), p_brand
ORDER BY yr, revenue DESC, p_brand
LIMIT 100
""",
    tags=("tpcds", "star", "report"),
)
def tpcds_mfgr_brand_december(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q3 shape: the December brand/year revenue report for one
    manufacturer (TPC-H encodes the manufacturer as the brand prefix:
    Brand#MN ⇒ Manufacturer#M, so `Brand#3%` IS the i_manufact_id
    filter).  Differs from tpcds_brand_year_topk (q42/q52/q55) in
    both the dimension filter (manufacturer, pushed into the part
    scan and carried by the broadcast) and the ordering: the literal
    orders by d_year FIRST, then sum desc, then brand — a per-year
    interleaved report whose LIMIT is still TakeOrderedAndProject,
    just over a composite (key, measure desc, key) ordering rather
    than a pure measure top-k.  The brand tiebreak keeps the cut
    deterministic under revenue ties."""
    li = _t(spark, sf_dir, "lineitem")
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand").startswith("Brand#3"))
        .select("p_partkey", "p_brand")
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.month("o_orderdate") == 12)
        .groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.col("p_brand"),
        )
        .agg(_money(F.sum(_drev())).alias("revenue"))
        .orderBy("yr", F.col("revenue").desc(), "p_brand")
        .limit(100)
    )


# --------------------------------------------------------------------------
# q15 — cross-side disjunction grouped by a dimension substring
# --------------------------------------------------------------------------
@register(
    "tpcds_name_suffix_disjunct_revenue",
    oracle="""
SELECT substr(c_name, length(c_name) - 1, 2) AS zip2,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
WHERE quarter(o_orderdate) = 2
  AND year(o_orderdate) = 1997
  AND (substr(c_name, length(c_name) - 1, 2)
           IN ('11', '13', '15', '17', '19')
       OR c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
       OR o_totalprice > 300000)
GROUP BY substr(c_name, length(c_name) - 1, 2)
ORDER BY zip2
""",
    tags=("tpcds", "disjunction", "string", "aggregate"),
)
def tpcds_name_suffix_disjunct_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS q15 shape: revenue by zip (here the customer name's
    trailing two digits — the only mid-cardinality string-derived
    bucket the driver's customer table carries) where the zip prefix
    is in a literal list OR the segment/state is in a list OR the
    individual sale is large.  The OR's third arm references the FACT
    measure, so neither side of the join can satisfy the predicate
    alone — Catalyst pushes only the date residual to the orders scan
    and the full disjunction evaluates post-join in one codegen stage
    (same cross-side-OR class as tpcds_or_band_averages/q13, but
    grouped BY the substring one arm tests).  Customer broadcasts;
    the only fact shuffle is the bucket aggregate."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    zip2 = F.substring("c_name", -2, 2)
    return (
        orders.filter(
            (F.quarter("o_orderdate") == 2) & (F.year("o_orderdate") == 1997)
        )
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(
            zip2.isin("11", "13", "15", "17", "19")
            | F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
            | (F.col("o_totalprice") > 300000)
        )
        .groupBy(zip2.alias("zip2"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            _money(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).alias(
                "revenue"
            ),
        )
        .orderBy("zip2")
    )


# --------------------------------------------------------------------------
# q43 — store × weekday conditional-sum matrix (else NULL)
# --------------------------------------------------------------------------
@register(
    "tpcds_supplier_weekday_matrix",
    oracle=f"""
SELECT s_name,
       CAST(round(sum(CASE WHEN dayofweek(l_shipdate) + 1 = 1
                           THEN {SQL_REV} END), 2) AS DOUBLE) AS sun_rev,
       CAST(round(sum(CASE WHEN dayofweek(l_shipdate) + 1 = 2
                           THEN {SQL_REV} END), 2) AS DOUBLE) AS mon_rev,
       CAST(round(sum(CASE WHEN dayofweek(l_shipdate) + 1 = 3
                           THEN {SQL_REV} END), 2) AS DOUBLE) AS tue_rev,
       CAST(round(sum(CASE WHEN dayofweek(l_shipdate) + 1 = 4
                           THEN {SQL_REV} END), 2) AS DOUBLE) AS wed_rev,
       CAST(round(sum(CASE WHEN dayofweek(l_shipdate) + 1 = 5
                           THEN {SQL_REV} END), 2) AS DOUBLE) AS thu_rev,
       CAST(round(sum(CASE WHEN dayofweek(l_shipdate) + 1 = 6
                           THEN {SQL_REV} END), 2) AS DOUBLE) AS fri_rev,
       CAST(round(sum(CASE WHEN dayofweek(l_shipdate) + 1 = 7
                           THEN {SQL_REV} END), 2) AS DOUBLE) AS sat_rev
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
WHERE year(l_shipdate) = 1997
  AND s_nationkey < 10
GROUP BY s_name
ORDER BY s_name
LIMIT 100
""",
    tags=("tpcds", "pivot", "conditional", "temporal"),
)
def tpcds_supplier_weekday_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q43 shape: the store × weekday revenue matrix — seven
    conditional sums per store for one year and one timezone band
    (s_gmt_offset → a nationkey band here).  The literal's CASE arms
    have NO else: a store with no Sunday sales reports NULL, not 0 —
    preserved here by omitting .otherwise() so the decimal sum over
    an all-NULL arm stays NULL.  Unlike tpcds_weekday_pivot_ratio
    (q59) there is no month-over-month self-comparison — this is the
    plain one-pass pivot: fact scanned once with the year filter
    pushed down, supplier broadcast, one |store|-sized exchange.
    Spark's dayofweek() is 1=Sunday; DuckDB's is 0=Sunday, hence the
    oracle's +1 shim (the q59 convention)."""
    li = _t(spark, sf_dir, "lineitem")
    supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") < 10)
        .select("s_suppkey", "s_name")
    )
    dow = F.dayofweek("l_shipdate")
    rev = _drev()

    def day(n):
        return _money(F.sum(F.when(dow == n, rev)))

    return (
        li.filter(F.year("l_shipdate") == 1997)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(
            day(1).alias("sun_rev"),
            day(2).alias("mon_rev"),
            day(3).alias("tue_rev"),
            day(4).alias("wed_rev"),
            day(5).alias("thu_rev"),
            day(6).alias("fri_rev"),
            day(7).alias("sat_rev"),
        )
        .orderBy("s_name")
        .limit(100)
    )


# --------------------------------------------------------------------------
# q53/q63 — monthly revenue vs the manufacturer's own average
# --------------------------------------------------------------------------
@register(
    "tpcds_mfgr_month_deviation",
    oracle="""
WITH q AS (
  SELECT substr(p_brand, 1, 7) AS p_mfgr,
         CAST(month(l_shipdate) AS INT) AS mo,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS rev_c
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE year(l_shipdate) = 1997
    AND ((p_type LIKE 'SMALL%' AND p_size < 25)
      OR (p_type LIKE 'LARGE%' AND p_size >= 25))
  GROUP BY substr(p_brand, 1, 7), month(l_shipdate)
), w AS (
  SELECT p_mfgr, mo, rev_c,
         sum(rev_c) OVER (PARTITION BY p_mfgr) AS tot_c,
         count(*)   OVER (PARTITION BY p_mfgr) AS n_mo
  FROM q
)
SELECT p_mfgr, mo, rev_c,
       CAST(tot_c // n_mo AS BIGINT) AS avg_c
FROM w
WHERE tot_c > 0
  AND 10 * abs(CAST(rev_c AS HUGEINT) * n_mo - tot_c)
      > CAST(tot_c AS HUGEINT)
ORDER BY p_mfgr, mo
""",
    tags=("tpcds", "window", "deviation", "disjunction"),
)
def tpcds_mfgr_month_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q53/q63 shape: months where a manufacturer's revenue
    deviates more than 10% from its own average across the year — the
    literal computes avg(sum(...)) over (partition by manufacturer/
    manager) directly over the grouped aggregate (q53 quarterly, q63
    monthly — monthly here for the richer deviation surface), with an
    OR-of-AND item predicate (category × class × brand in the
    literal; type-prefix × size-band arms on the driver's part table)
    feeding the scan.  The manufacturer is the TPC-H brand prefix
    (Brand#MN ⇒ Manufacturer#M).  The window runs over the BOUNDED
    inner aggregate (|mfgr| × 12 rows — nearly free), never the
    fact.  The 10% test |s − avg| > avg/10 is spelled division-free
    as 10·|s·n − total| > total on widened integers (DECIMAL(38,0) /
    HUGEINT): at 100 TB the cents sums reach ~1e18 and an int64
    product would wrap silently in Spark while DuckDB raises — the
    exact divergence class ADVICE r4 flagged on
    tpcds_frequent_best_combo.  The average is emitted as exact floor
    division, never a rounded double."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    arm1 = F.col("p_type").startswith("SMALL") & (F.col("p_size") < 25)
    arm2 = F.col("p_type").startswith("LARGE") & (F.col("p_size") >= 25)
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    q = (
        li.filter(F.year("l_shipdate") == 1997)
        .join(
            part.filter(arm1 | arm2).withColumn(
                "p_mfgr", F.substring("p_brand", 1, 7)
            ),
            li.l_partkey == part.p_partkey,
        )
        .groupBy("p_mfgr", F.month("l_shipdate").cast("int").alias("mo"))
        .agg(F.sum(cents).cast("long").alias("rev_c"))
    )
    w = Window.partitionBy("p_mfgr")
    wide = F.col("rev_c").cast("decimal(38,0)")
    tot_wide = F.col("tot_c").cast("decimal(38,0)")
    return (
        q.withColumn("tot_c", F.sum("rev_c").over(w))
        .withColumn("n_mo", F.count(F.lit(1)).over(w))
        .filter(
            (F.col("tot_c") > 0)
            & (10 * F.abs(wide * F.col("n_mo") - tot_wide) > tot_wide)
        )
        .select(
            "p_mfgr",
            "mo",
            "rev_c",
            F.expr("CAST(tot_c DIV n_mo AS BIGINT)").alias("avg_c"),
        )
        .orderBy("p_mfgr", "mo")
    )


# --------------------------------------------------------------------------
# q71 — three-channel UNION ALL joined to a time-of-day dimension
# --------------------------------------------------------------------------
@register(
    "tpcds_meal_time_channel_revenue",
    oracle="""
WITH tmp AS (
  SELECT value AS ext_value, hour(ts) AS hr, 'click' AS channel
  FROM events WHERE event_type = 'click' AND month(ts) = 1
  UNION ALL
  SELECT value AS ext_value, hour(ts) AS hr, 'view' AS channel
  FROM events WHERE event_type = 'view' AND month(ts) = 1
  UNION ALL
  SELECT value AS ext_value, hour(ts) AS hr, 'purchase' AS channel
  FROM events WHERE event_type = 'purchase' AND month(ts) = 1
), time_dim AS (
  SELECT * FROM (VALUES
    (6,'breakfast'),(7,'breakfast'),(8,'breakfast'),(9,'breakfast'),
    (18,'dinner'),(19,'dinner'),(20,'dinner'),(21,'dinner')
  ) v(hr, meal_time)
)
SELECT meal_time,
       CAST(t.hr AS INT) AS hr,
       channel,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(ext_value AS DECIMAL(18,6))) AS DOUBLE), 4)
           AS total_value
FROM tmp t JOIN time_dim d ON t.hr = d.hr
GROUP BY meal_time, t.hr, channel
ORDER BY total_value DESC, hr, channel
""",
    tags=("tpcds", "union", "temporal", "dimension"),
)
def tpcds_meal_time_channel_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS q71 shape: three channel fact scans (web/catalog/store →
    the three event types) projected into one common shape, UNION
    ALL'd, then joined to a time-of-day dimension and restricted to
    the breakfast/dinner meal bands.  The time dimension is an 8-row
    literal table — broadcast, it acts as BOTH the filter and the
    label source (joining it IS the meal-time restriction, like the
    literal's t_meal_time predicate).  Each union leg pushes its own
    event_type + month predicate into the shared scan; the union is
    consumed by one aggregate exchange.  Values sum as DECIMAL(18,6)
    (the temporal-module convention for the events double column —
    exact, summation-order-free) and emit once as a rounded double;
    ordering leads with the measure per the literal, made
    deterministic by the (hr, channel) tiebreak."""
    ev = _t(spark, sf_dir, "events")

    def leg(etype: str) -> DataFrame:
        return (
            ev.filter((F.col("event_type") == etype) & (F.month("ts") == 1))
            .select(
                F.col("value").alias("ext_value"),
                F.hour("ts").alias("hr"),
                F.lit(etype).alias("channel"),
            )
        )

    tmp = leg("click").unionAll(leg("view")).unionAll(leg("purchase"))
    time_dim = spark.createDataFrame(
        [(h, "breakfast") for h in range(6, 10)]
        + [(h, "dinner") for h in range(18, 22)],
        "hr int, meal_time string",
    )
    return (
        tmp.join(F.broadcast(time_dim), "hr")
        .groupBy("meal_time", F.col("hr").cast("int").alias("hr"), "channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(
                F.sum(F.col("ext_value").cast("decimal(18,6)")).cast("double"),
                4,
            ).alias("total_value"),
        )
        .orderBy(F.col("total_value").desc(), "hr", "channel")
    )


# --------------------------------------------------------------------------
# q91 — returns loss through a deep dimension chain with OR arms
# --------------------------------------------------------------------------
@register(
    "tpcds_returns_demographic_loss",
    oracle=f"""
SELECT s_name,
       c_mktsegment,
       CAST(round(sum({SQL_REV}), 2) AS DOUBLE) AS returns_loss
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND n_regionkey = 2
  AND ((c_mktsegment = 'BUILDING'  AND c_acctbal < 1000)
    OR (c_mktsegment = 'MACHINERY' AND c_acctbal > 7000))
GROUP BY s_name, c_mktsegment
ORDER BY returns_loss DESC, s_name, c_mktsegment
""",
    tags=("tpcds", "returns", "star", "disjunction"),
)
def tpcds_returns_demographic_loss(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS q91 shape: the call-center returns-loss report — a
    returns fact joined through a DEEP dimension chain (call center +
    customer → demographics → household → address; here supplier +
    customer → nation → region membership) with an OR of demographic
    conjunctions.  The demographic arms and region filter reduce the
    customer dimension BEFORE it broadcasts, the returned-only filter
    pushes to the fact scan, and the grouping includes a demographic
    column the literal doesn't sort by (it orders by the measure
    alone — made deterministic here with key tiebreaks).  One fact
    pass, four broadcast dimensions, one aggregate exchange."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    cust = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
        .filter(
            ((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") < 1000))
            | (
                (F.col("c_mktsegment") == "MACHINERY")
                & (F.col("c_acctbal") > 7000)
            )
        )
        .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
        .filter(F.col("n_regionkey") == 2)
        .select("c_custkey", "c_mktsegment")
    )
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(_dim_hint(cust, sf_dir, "customer"), orders.o_custkey == cust.c_custkey)
        .groupBy("s_name", "c_mktsegment")
        .agg(_money(F.sum(_drev())).alias("returns_loss"))
        .orderBy(F.col("returns_loss").desc(), "s_name", "c_mktsegment")
    )


# --------------------------------------------------------------------------
# q94 — multi-supplier unreturned orders (EXISTS + NOT EXISTS collapsed)
# --------------------------------------------------------------------------
@register(
    "tpcds_multi_supplier_unreturned",
    oracle=f"""
SELECT CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS order_count,
       CAST(sum(CAST(l1.l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
       CAST(round(sum(CAST(l1.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l1.l_discount AS DECIMAL(4,2)))), 2)
            AS DOUBLE) AS total_rev
FROM lineitem l1
JOIN orders   ON l1.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l1.l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
  AND l1.l_shipdate <  TIMESTAMP '1997-05-01 00:00:00'
  AND o_orderpriority = '1-URGENT'
  AND c_nationkey < 10
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_returnflag = 'R')
""",
    tags=("tpcds", "exists", "decorrelation", "distinct"),
)
def tpcds_multi_supplier_unreturned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS q94 shape: orders shipped in a 60-day band from MORE
    THAN ONE warehouse (correlated EXISTS: another line of the same
    order with a different warehouse/supplier) and NEVER returned
    (NOT EXISTS against the returns fact) — with count(DISTINCT
    order) + line-level sums in one single-row result.  Both
    correlated probes run against the UNRESTRICTED fact (the literal's
    ws2/wr1 have no date filter), so they collapse into ONE
    per-order aggregate over the full fact — n_supp = count
    distinct supplier, any_ret = max(returned flag) — computed with
    map-side partial aggregation and joined (semi) to the filtered
    lines; `EXISTS another supplier` ⟺ n_supp ≥ 2 because if two
    distinct suppliers exist on the order, every line has a
    counterpart with a different one.  The oracle KEEPS the literal's
    EXISTS/NOT-EXISTS spelling, differentially proving the rewrite
    (the q16/q69 methodology).  At 100 TB the correlated spelling
    re-scans the fact per row; this is one keyed exchange."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    flags = (
        li.groupBy("l_orderkey")
        .agg(
            F.count_distinct("l_suppkey").alias("n_supp"),
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("any_ret"),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("any_ret") == 0))
        .select(F.col("l_orderkey").alias("ok"))
    )
    lines = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-05-01").cast("timestamp"))
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") < 10)
    )
    return lines.join(
        flags, lines.l_orderkey == flags.ok, "semi"
    ).agg(
        F.count_distinct("l_orderkey").alias("order_count"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("total_qty"),
        _money(F.sum(_drev())).alias("total_rev"),
    )


# --------------------------------------------------------------------------
# q95 — both membership tests as positive INs against a reused CTE
# --------------------------------------------------------------------------
@register(
    "tpcds_multi_supplier_returned",
    oracle=f"""
WITH multi AS (
  SELECT DISTINCT l1.l_orderkey AS ok
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey <> l2.l_suppkey
)
SELECT CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS order_count,
       CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
       CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2)
            AS DOUBLE) AS total_rev
FROM lineitem l
JOIN orders   ON l.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l.l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-08-01 00:00:00'
  AND o_orderpriority = '2-HIGH'
  AND c_nationkey = 10
  AND l.l_orderkey IN (SELECT ok FROM multi)
  AND l.l_orderkey IN (SELECT lr.l_orderkey
                       FROM lineitem lr JOIN multi ON lr.l_orderkey = multi.ok
                       WHERE lr.l_returnflag = 'R')
""",
    tags=("tpcds", "setops", "semi-join", "returns"),
)
def tpcds_multi_supplier_returned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS q95 shape: the q94 skeleton with BOTH tests positive —
    orders from ≥2 warehouses that WERE returned — and both spelled
    as IN-subqueries against a ws_wh CTE that the literal builds as a
    quadratic fact self-join (web_sales × web_sales on order number)
    and references TWICE.  Here BOTH tests collapse into ONE per-order
    flag aggregate — exactly q94's shape with the returns flag flipped
    positive: n_supp = count_distinct(suppkey) ≥ 2 covers the first
    IN, max(returnflag='R') = 1 covers the second, and because
    returned∧multi ⊆ multi one semi-join applies both.  That is one
    fact scan + one keyed exchange for the membership set (the
    literal's self-join would explode on skewed order numbers at
    100 TB, and the earlier 3-scan spelling — multi, returned-distinct,
    then semi — paid a full extra fact pass for nothing).  The oracle
    keeps BOTH INs and the literal self-join CTE, so the subsumption
    and the aggregate rewrite are proved differentially in one go."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    ret_multi = (
        li.groupBy("l_orderkey")
        .agg(
            F.count_distinct("l_suppkey").alias("n_supp"),
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("any_ret"),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("any_ret") == 1))
        .select(F.col("l_orderkey").alias("rk"))
    )
    lines = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-08-01").cast("timestamp"))
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("o_orderpriority") == "2-HIGH")
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") == 10)
    )
    return lines.join(
        ret_multi, lines.l_orderkey == ret_multi.rk, "semi"
    ).agg(
        F.count_distinct("l_orderkey").alias("order_count"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("total_qty"),
        _money(F.sum(_drev())).alias("total_rev"),
    )
