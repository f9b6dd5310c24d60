"""TPC-DS-shaped golden queries, batch 5 (round 5) — five more
machinery combinations from the reference's TPC-DS surface
(reference: spark/src/test/resources/tpcds-query-results/*.sql.out;
same re-targeting policy as batches 1-4, see tpcds_style.py).

Shapes in this batch:

* q14  — cross-channel INTERSECT item set as a broadcast filter, a
         scalar average-revenue subquery as the HAVING threshold, and
         a ROLLUP over the filtered sales: three machineries the
         literal composes in one statement.
* q18 / q22 — AVERAGES inside ROLLUP groups: only re-aggregatable as
         sum/count mergeable states (an avg-of-avgs would be wrong at
         every non-leaf grouping level).
* q45  — disjunction of a local dimension predicate and an IN
         subquery — the OR prevents both semi-join pushdown and
         simple predicate pushdown; spelled as an existence-flag
         join.
* q54  — temporal follow-on: revenue in the 3 months AFTER each
         customer's first qualifying purchase, bucketed into a
         histogram (sequential dependency: min-agg, offset window
         join back onto the fact, then re-aggregate).
* q84  — dimension-chain row lookup: no aggregate at all, a 4-table
         join chain projecting attributes with ORDER + LIMIT
         (TakeOrderedAndProject over broadcast joins).
* q72  — week-offset equality join (the benchmark's slowest query;
         the reference pins it with a dedicated extended golden
         file) with LEFT-join null-partitioned promo counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register
from ._shared import SPARK_SQL_REV, SQL_REV, _dim_hint, _sort_one_task, _spread_scan, _t


# --------------------------------------------------------------------------
# q14 — INTERSECT filter set + scalar HAVING threshold + ROLLUP
# --------------------------------------------------------------------------
@register(
    "tpcds_cross_channel_rollup",
    oracle=f"""
WITH common_parts AS (
  SELECT l.l_partkey FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'O'
  INTERSECT
  SELECT l.l_partkey FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
),
threshold AS (
  SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS HUGEINT) AS sum_cents,
         CAST(count(*) AS HUGEINT) AS n_all
  FROM lineitem
)
SELECT p_brand,
       CAST(year(l.l_shipdate) AS INT) AS yr,
       CAST(grouping(p_brand) + 2 * grouping(year(l.l_shipdate)) AS INT)
           AS lvl,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(round(sum({SQL_REV}), 2) AS DOUBLE) AS revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_partkey IN (SELECT l_partkey FROM common_parts)
  -- price > avg as exact integer cross-multiplication (HUGEINT-widened)
  AND CAST(round(l.l_extendedprice * 100) AS HUGEINT)
      * (SELECT n_all FROM threshold)
      > (SELECT sum_cents FROM threshold)
GROUP BY ROLLUP (p_brand, year(l.l_shipdate))
ORDER BY lvl, p_brand NULLS FIRST, yr NULLS FIRST
""",
    tags=("tpcds", "intersect", "rollup", "subquery", "bench"),
)
def tpcds_cross_channel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q14 shape: items sold in EVERY channel (INTERSECT of
    per-channel item sets) feed a ROLLUP report, and only rows above
    a scalar average-price subquery count.  Three machineries in one
    plan: the INTERSECT reduces to distinct key sets before a
    broadcast-able semi-join filter; the scalar threshold is a 1-row
    aggregate broadcast into the scan predicate; the rollup Expands
    the filtered slice once.  At 100 TB: the channel key set and the
    1-row threshold are dimension-sized, and the fact is scanned once
    for the report, once (2-column-pruned) for the key set — the
    per-channel INTERSECT legs are collapsed into one
    count-distinct-channel pass — and once (1-column-pruned) for the
    threshold; no exchange carries more than |parts| rows except the
    final rollup's.

    grouping() flags disambiguate rollup levels (NULL brand in data
    vs NULL from Expand), mirroring tpcds_rollup_rank_hierarchy."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")

    # items sold in BOTH channels: the literal's INTERSECT of two
    # per-channel DISTINCT sets would scan the (pruned) fact once per
    # channel; grouping by item builds the same set in ONE pass (oracle
    # keeps the INTERSECT spelling, proving the collapse differentially
    # — same move as tpcds_date_intersect_returns).  Channel presence
    # is summed max(status == ch) booleans, NOT count_distinct: with a
    # known 2-value channel domain the distinct aggregate's extra
    # (partkey, status)-keyed level and second exchange buy nothing —
    # max() partial-aggregates map-side in one level (guide §2.3;
    # measured min-of-8 interleaved at sf0.1: 0.39 -> 0.31 s, identical
    # 19 998-key set).
    common = (
        li.select("l_orderkey", "l_partkey")
        .join(
            orders.filter("o_orderstatus IN ('O', 'F')"),
            F.expr("l_orderkey = o_orderkey"),
        )
        .groupBy("l_partkey")
        .agg(
            F.expr(
                "max(CAST(o_orderstatus = 'O' AS INT))"
                " + max(CAST(o_orderstatus = 'F' AS INT)) AS nch"
            )
        )
        .filter("nch = 2")
        .select("l_partkey")
    )
    # price > avg as exact integer cross-multiplication on cents,
    # widened to DECIMAL(38,0)/HUGEINT: a double avg differs in the
    # last ulp between engines' accumulation orders and can flip
    # boundary rows
    threshold = li.selectExpr(
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DECIMAL(38,0))"
        " AS sum_cents",
        "CAST(count(1) AS DECIMAL(38,0)) AS n_all",
    )
    # Report pass: the per-row decimal(38,0) cross-multiplication, the
    # three broadcast probes and the rollup Expand all run in the scan
    # stage — rebalance it where the parquet layout starves scan
    # parallelism (footer-gated no-op at 100 TB; measured min-of-8
    # interleaved at sf0.1: 1.77 -> 1.50 s)
    report_li = _spread_scan(li, sf_dir, "lineitem")
    filtered = (
        report_li.join(_dim_hint(common.withColumnRenamed("l_partkey", "cp"), sf_dir, "part"),
                F.col("l_partkey") == F.col("cp"), "left_semi")
        .crossJoin(F.broadcast(threshold))
        .filter(
            "CAST(round(l_extendedprice * 100) AS DECIMAL(38,0)) * n_all"
            " > sum_cents"
        )
        .join(part, F.col("l_partkey") == part.p_partkey)
        .withColumn("yr", F.expr("CAST(year(l_shipdate) AS INT)"))
    )
    return (
        filtered.rollup("p_brand", "yr")
        .agg(
            F.expr("CAST(grouping(p_brand) + 2 * grouping(yr) AS INT) AS lvl"),
            F.expr("CAST(count(1) AS BIGINT) AS n_lines"),
            F.expr(f"CAST(round(sum({SPARK_SQL_REV}), 2) AS DOUBLE) AS revenue"),
        )
        # ascending sorts put the rollup's NULL (total) keys first
        .transform(_sort_one_task, "lvl", "p_brand", "yr")
    )


# --------------------------------------------------------------------------
# q18/q22 — averages inside rollup groups
# --------------------------------------------------------------------------
@register(
    "tpcds_rollup_averages",
    oracle="""
SELECT n_name,
       CAST(year(o_orderdate) AS INT) AS yr,
       CAST(grouping(n_name) + 2 * grouping(year(o_orderdate)) AS INT)
           AS lvl,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // count(*)
            AS BIGINT) AS avg_price_cents,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) // count(*)
            AS BIGINT) AS avg_acctbal_cents
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
GROUP BY ROLLUP (n_name, year(o_orderdate))
ORDER BY lvl, n_name NULLS FIRST, yr NULLS FIRST
""",
    tags=("tpcds", "rollup", "aggregate", "average"),
)
def tpcds_rollup_averages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q18/q22 shape: AVERAGES at every rollup level.  The
    sharp semantics: a non-leaf level's average must be derived from
    merged sum/count states — averaging the leaf averages would
    weight every (nation, year) equally regardless of row count.
    Spelling avg as sum(exact cents) DIV count(*) makes that
    derivation explicit AND fully exact: integer sums commute and
    floor division has no rounding mode at all — even
    round(double, 4) was measured to flip one row's last digit
    between Spark's BigDecimal HALF_UP and DuckDB's rounding at a
    half-way quotient, so the averages are emitted as integer cents.
    (Negative dividends — c_acctbal can be negative — are safe too:
    Spark DIV and DuckDB // both truncate toward zero, verified
    -7 DIV 2 = -7 // 2 = -3.)
    Plan: one Expand (3 grouping sets) over the joined slice, one
    hash aggregate — dimension joins broadcast."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .withColumn("yr", F.year("o_orderdate").cast("int"))
    )
    return (
        joined.rollup("n_name", "yr")
        .agg(
            (
                F.grouping("n_name") + F.lit(2) * F.grouping("yr")
            ).cast("int").alias("lvl"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
                " DIV count(*) AS BIGINT)"
            ).alias("avg_price_cents"),
            F.expr(
                "CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))"
                " DIV count(*) AS BIGINT)"
            ).alias("avg_acctbal_cents"),
        )
        .select("n_name", "yr", "lvl", "n_orders",
                "avg_price_cents", "avg_acctbal_cents")
        .orderBy(
            "lvl",
            F.col("n_name").asc_nulls_first(),
            F.col("yr").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# q45 — OR of a local predicate and an IN subquery
# --------------------------------------------------------------------------
@register(
    "tpcds_disjunct_subquery",
    oracle="""
WITH frequent_parts AS (
  SELECT l_partkey FROM lineitem
  GROUP BY l_partkey HAVING count(DISTINCT l_orderkey) >= 8
)
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
WHERE n.n_name IN ('FRANCE', 'GERMANY', 'CANADA')
   OR l.l_partkey IN (SELECT l_partkey FROM frequent_parts)
GROUP BY n.n_name
ORDER BY n.n_name
""",
    tags=("tpcds", "subquery", "disjunction", "existence-join"),
)
def tpcds_disjunct_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q45 shape: rows kept when a LOCAL dimension predicate
    OR an IN-subquery membership holds.  The OR defeats both plain
    predicate pushdown and semi-join rewriting — the engine needs an
    EXISTENCE JOIN (a left join that only contributes a boolean).
    Spark-first spelling: left-join the distinct subquery keys with a
    marker column and filter on `local_pred OR marker IS NOT NULL` —
    semantically exactly Catalyst's ExistenceJoin, but explicit, so
    the plan is a broadcast left join (the frequent-parts set is
    aggregate-derived and dimension-sized) with NO fact duplication:
    a row matching both arms appears once, which a UNION spelling
    would have to re-deduplicate at full fact width.  At 100 TB the
    alternative — union of two fact scans + distinct — shuffles the
    fact twice; this is one scan, one broadcast, one aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    freq = (
        li.groupBy("l_partkey")
        .agg(F.countDistinct("l_orderkey").alias("n_ord"))
        .filter(F.col("n_ord") >= 8)
        .select(F.col("l_partkey").alias("fp"), F.lit(1).alias("fp_marker"))
    )
    joined = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(_dim_hint(freq, sf_dir, "part"), li.l_partkey == freq.fp, "left")
        .filter(
            F.col("n_name").isin("FRANCE", "GERMANY", "CANADA")
            | F.col("fp_marker").isNotNull()
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias(
                "total_qty"
            ),
        )
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# q54 — revenue in the months after the first qualifying purchase
# --------------------------------------------------------------------------
@register(
    "tpcds_followon_revenue_histogram",
    oracle="""
WITH first_buy AS (
  SELECT o_custkey, min(o_orderdate) AS first_dt
  FROM orders
  WHERE o_orderpriority = '1-URGENT'
  GROUP BY o_custkey
),
followon AS (
  SELECT o.o_custkey,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS rev_cents
  FROM orders o
  JOIN first_buy f ON o.o_custkey = f.o_custkey
  WHERE o.o_orderdate >  f.first_dt
    AND o.o_orderdate <= f.first_dt + INTERVAL 90 DAY
  GROUP BY o.o_custkey
)
SELECT CAST(floor(rev_cents / 5000000) AS BIGINT) AS bucket_50k,
       CAST(count(*) AS BIGINT) AS n_customers
FROM followon
GROUP BY 1
ORDER BY 1
""",
    tags=("tpcds", "temporal", "self-join", "histogram"),
)
def tpcds_followon_revenue_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS q54 shape: revenue each customer generates in the 90
    days AFTER their first qualifying purchase, bucketed into a
    $50k histogram.  Sequential dependency the optimizer can't
    reorder: (1) per-customer min-date aggregate over the qualifying
    slice, (2) join back onto the full fact with a RANGE predicate
    relative to that per-customer date, (3) re-aggregate per
    customer, (4) histogram.  At 100 TB: the first-buy table is
    customer-grained (dimension-sized), so step 2 is a broadcast or
    co-partitioned join keyed on custkey — never an all-pairs range
    join — and the histogram input is |customers| rows.  Revenue in
    exact cents; the bucket edge divides integers, so bucket
    membership cannot flip between engines."""
    orders = _t(spark, sf_dir, "orders")
    first_buy = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.min("o_orderdate").alias("first_dt"))
        .withColumnRenamed("o_custkey", "fb_custkey")
    )
    followon = (
        orders.join(
            first_buy, orders.o_custkey == first_buy.fb_custkey
        )
        .filter(
            (F.col("o_orderdate") > F.col("first_dt"))
            & (
                F.col("o_orderdate")
                <= F.col("first_dt") + F.expr("INTERVAL 90 DAYS")
            )
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).cast("long").alias("rev_cents")
        )
    )
    return (
        followon.groupBy(
            F.floor(F.col("rev_cents") / 5000000)
            .cast("long")
            .alias("bucket_50k")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("bucket_50k")
    )


# --------------------------------------------------------------------------
# q84 — dimension-chain row lookup, no aggregation
# --------------------------------------------------------------------------
@register(
    "tpcds_dimension_chain_lookup",
    oracle="""
SELECT c.c_custkey,
       c.c_name,
       c.c_mktsegment,
       n.n_name,
       r.r_name,
       CAST(round(c.c_acctbal, 2) AS DOUBLE) AS acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE c.c_acctbal BETWEEN 9000 AND 9999
  AND r.r_name = 'EUROPE'
ORDER BY c.c_acctbal DESC, c.c_custkey
LIMIT 20
""",
    tags=("tpcds", "join-chain", "lookup", "topk"),
)
def tpcds_dimension_chain_lookup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS q84 shape: a pure dimension-chain ROW LOOKUP — no
    aggregate anywhere, just a 3-table join chain projecting
    attributes for a banded slice, top-20 by balance.  Exercises the
    retrieval path the aggregate-heavy suite never touches:
    TakeOrderedAndProject directly over broadcast joins (the limit
    pushes into the shuffle-free plan; no global sort materializes).
    At 100 TB customer is the large side; the band predicate pushes
    into its scan and region/nation broadcast."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_acctbal").between(9000, 9999)
    )
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            "n_name",
            "r_name",
            F.round(F.col("c_acctbal"), 2).cast("double").alias("acctbal"),
        )
        .orderBy(F.col("acctbal").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q72 — week-offset equality join with promo/no-promo null partition
# --------------------------------------------------------------------------
@register(
    "tpcds_week_offset_join",
    oracle="""
WITH ord AS (
  SELECT o_orderkey,
         (year(o_orderdate) - 1995) * 53 + weekofyear(o_orderdate)
             AS ord_wk
  FROM orders
),
promo AS (
  SELECT p_partkey AS promo_key FROM part WHERE p_retailprice > 1500
)
SELECT p.p_brand,
       CAST(count(*) FILTER (WHERE pr.promo_key IS NULL) AS BIGINT)
           AS no_promo,
       CAST(count(*) FILTER (WHERE pr.promo_key IS NOT NULL) AS BIGINT)
           AS promo,
       CAST(count(*) AS BIGINT) AS total_cnt
FROM lineitem l
JOIN ord o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
LEFT JOIN promo pr ON l.l_partkey = pr.promo_key
WHERE (year(l.l_shipdate) - 1995) * 53 + weekofyear(l.l_shipdate)
      = o.ord_wk + 2
GROUP BY p.p_brand
ORDER BY p.p_brand
""",
    tags=("tpcds", "offset-join", "left-join", "temporal"),
)
def tpcds_week_offset_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q72 shape (the benchmark's slowest query; the reference
    pins it with a dedicated golden file,
    spark/src/test/resources/tpcds-query-results/extended/q72.sql.out):
    an EQUALITY join on a dimension-derived week sequence with a
    constant OFFSET (inventory week = sales week + N), plus a LEFT
    join whose null-ness partitions the counts (promo vs no_promo).
    Port: lines shipped exactly two week-slots after their order's
    week, promo proxied by a part price band.

    The week sequence ((year-1995)*53 + weekofyear) is computed with
    the same functions on both engines, so equality is engine-stable
    even at ISO year boundaries where weekofyear(Jan 1) is 52/53.
    Scale shape: the offset lands INSIDE the join predicate as an
    equality on derived keys — Spark keys the l_orderkey shuffle for
    the fact-to-orders join and evaluates the week filter post-join
    (q72's literal plan does the same; the known q72 trap, a
    broadcast nested-loop over the date dimension, cannot arise here
    because the week arithmetic stays a scalar projection, not a
    second join).  Promo set and part dim broadcast; counts are exact
    ints."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")

    def wk_seq(col: str):
        return (F.year(col) - 1995) * 53 + F.weekofyear(col)

    ord_wk = orders.select(
        "o_orderkey", wk_seq("o_orderdate").alias("ord_wk")
    )
    promo = part.filter(F.col("p_retailprice") > 1500).select(
        F.col("p_partkey").alias("promo_key")
    )
    joined = (
        li.join(ord_wk, li.l_orderkey == ord_wk.o_orderkey)
        .filter(wk_seq("l_shipdate") == F.col("ord_wk") + 2)
        .join(
            part.select("p_partkey", "p_brand"),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(promo, li.l_partkey == promo.promo_key, "left")
    )
    return (
        joined.groupBy("p_brand")
        .agg(
            F.count(F.when(F.col("promo_key").isNull(), 1))
            .cast("long")
            .alias("no_promo"),
            F.count(F.when(F.col("promo_key").isNotNull(), 1))
            .cast("long")
            .alias("promo"),
            F.count(F.lit(1)).cast("long").alias("total_cnt"),
        )
        .orderBy("p_brand")
    )
