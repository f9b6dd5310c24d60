"""Window-function coverage (SURVEY.md §2.4).

The reference's Window operator supports only COUNT/MIN/MAX/SUM +
lag/lead with ROWS frames, everything else falling back to Spark
(reference: spark/sql/comet/CometWindowExec.scala:41-247,
docs/.../expressions.md:219-232).  The rebuild exposes Spark's full
native window set — ranking, distribution, offset, and frame-bounded
aggregates — a strict superset.

Every query partitions and orders with a unique tiebreak column so the
cross-engine hash is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from . import register
from ._shared import _t


@register(
    "window_ranking",
    oracle="""
SELECT * FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         row_number()  OVER w AS rn,
         rank()        OVER w AS rnk,
         dense_rank()  OVER w AS drnk
  FROM customer
  WINDOW w AS (PARTITION BY c_mktsegment
               ORDER BY c_acctbal DESC, c_custkey)
) t
WHERE rn <= 5
ORDER BY c_mktsegment, rn
""",
    tags=("window", "ranking"),
)
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank — top-5 per segment.  These fall
    back in the reference (expressions.md:232); native here."""
    cust = _t(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        cust.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 5)
        .orderBy("c_mktsegment", "rn")
    )


@register(
    "window_running_sum",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  2) AS DOUBLE) AS running_total,
       count(*) OVER (PARTITION BY o_custkey) AS n_orders
FROM orders
WHERE o_custkey < 100
ORDER BY o_custkey, o_orderkey
""",
    tags=("window", "frame"),
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running SUM over a ROWS frame — the frame shape the reference
    does support natively (operator.proto:393-450); decimal-exact."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wp = W.partitionBy("o_custkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w), 2)
        .cast("double")
        .alias("running_total"),
        F.count(F.lit(1)).over(wp).alias("n_orders"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "window_lag_lead",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice,
       lag(o_totalprice)     OVER w AS prev_price,
       lead(o_totalprice)    OVER w AS next_price,
       lag(o_totalprice, 2, -1.0) OVER w AS prev2_price
FROM orders
WHERE o_custkey < 50
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
""",
    tags=("window", "offset"),
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead incl. offset + default (reference:
    CometWindowExec.scala:155-166)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.lag("o_totalprice", 2, -1.0).over(w).alias("prev2_price"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "window_moving_avg",
    oracle="""
SELECT l_suppkey, l_orderkey, l_linenumber,
       round(avg(l_quantity)
             OVER (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
         AS qty_ma3,
       round(min(l_quantity)
             OVER (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 2)
         AS qty_min3
FROM lineitem
WHERE l_suppkey < 10
ORDER BY l_suppkey, l_orderkey, l_linenumber
""",
    tags=("window", "frame"),
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded ROWS frames with literal offsets (reference:
    CometWindowExec.scala:178-240)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 10)
    order = [F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber")]
    w3 = W.partitionBy("l_suppkey").orderBy(*order).rowsBetween(-2, 0)
    wc = W.partitionBy("l_suppkey").orderBy(*order).rowsBetween(-1, 1)
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.avg("l_quantity").over(w3), 6).alias("qty_ma3"),
        F.round(F.min("l_quantity").over(wc), 2).alias("qty_min3"),
    ).orderBy("l_suppkey", "l_orderkey", "l_linenumber")


@register(
    "window_distribution",
    oracle="""
SELECT s_suppkey, s_acctbal,
       ntile(4)       OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist()    OVER w, 6) AS cume
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
ORDER BY s_suppkey
""",
    tags=("window", "distribution"),
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist (all fall back in the
    reference — native Spark superset), partitioned by nation so the
    window parallelizes across keys.  The GLOBAL (unpartitioned)
    spelling of these functions is covered by
    ``window_distribution_global``, which computes identical values
    without funnelling the table through one reducer."""
    supp = _t(spark, sf_dir, "supplier")
    w = W.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return supp.select(
        "s_suppkey",
        "s_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    ).orderBy("s_suppkey")


@register(
    "window_distribution_global",
    oracle="""
SELECT s_suppkey, s_acctbal,
       ntile(4)       OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist()    OVER w, 6) AS cume
FROM supplier
WINDOW w AS (ORDER BY s_acctbal, s_suppkey)
ORDER BY s_suppkey
""",
    tags=("window", "distribution", "scale-rewrite"),
)
def window_distribution_global(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GLOBAL ntile / percent_rank / cume_dist — without the
    unpartitioned WindowExec the naive spelling plans (one reducer
    holding the whole table).

    Because the window's ORDER BY (s_acctbal, s_suppkey) is a unique
    key, rank == row_number, so every distribution function is a pure
    formula of (global row number rn, total count n):

        percent_rank = (rn - 1) / (n - 1)
        cume_dist    = rn / n
        ntile(k)     = first (n % k) tiles get ceil(n/k) rows,
                       the rest floor(n/k)  (Spark NTile semantics,
                       matched by DuckDB)

    rn itself uses the distributed zipWithIndex idiom (see
    global_index_assignment): range-partition on the order key, local
    row_number per physical partition, |partitions|-row offset rollup
    broadcast back.  One range exchange of the data; the only global
    objects are the tiny offsets and the 1-row total."""
    supp = (
        _t(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_acctbal")
        .repartitionByRange(8, "s_acctbal", "s_suppkey")
        .withColumn("pid", F.spark_partition_id())
    )
    wloc = W.partitionBy("pid").orderBy("s_acctbal", "s_suppkey")
    local = supp.withColumn("local_rn", F.row_number().over(wloc))
    counts = local.groupBy("pid").agg(F.max("local_rn").alias("cnt"))
    woff = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "pid",
        F.coalesce(F.sum("cnt").over(woff), F.lit(0)).alias("offset"),
        F.sum("cnt").over(
            W.orderBy(F.lit(1)).rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).alias("n"),
    )
    rn = F.col("offset") + F.col("local_rn")
    n = F.col("n")
    k = F.lit(4)
    big = F.floor(n / k) + 1  # rows per tile in the first n%k tiles
    small = F.floor(n / k)
    cut = (n % k) * big  # rows covered by the big tiles
    quartile = (
        F.when(rn <= cut, F.floor((rn - 1) / big))
        .otherwise((n % k) + F.floor((rn - cut - 1) / small))
        + 1
    )
    return (
        local.join(F.broadcast(offsets), "pid")
        .select(
            "s_suppkey",
            "s_acctbal",
            quartile.cast("int").alias("quartile"),
            F.round(
                (rn - 1).cast("double") / (n - 1).cast("double"), 6
            ).alias("pct_rank"),
            F.round(rn.cast("double") / n.cast("double"), 6).alias("cume"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "window_first_last_nth",
    oracle="""
SELECT o_custkey, o_orderkey,
       first_value(o_orderkey) OVER w AS first_key,
       last_value(o_orderkey)
         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS last_key,
       nth_value(o_orderkey, 2) OVER w AS second_key
FROM orders
WHERE o_custkey < 50
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
""",
    tags=("window", "offset"),
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value (full frame) / nth_value."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(wfull).alias("last_key"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "window_range_frame",
    oracle="""
SELECT p_type, p_partkey, p_retailprice,
       count(*) OVER (PARTITION BY p_type
                      ORDER BY p_retailprice
                      RANGE BETWEEN 100.0 PRECEDING AND 100.0 FOLLOWING)
         AS n_similar
FROM part
WHERE p_partkey < 200
ORDER BY p_type, p_partkey
""",
    tags=("window", "frame"),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame with numeric offsets (falls back in the reference —
    only UNBOUNDED/CURRENT RANGE bounds are native there,
    CometWindowExec.scala:178-240)."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    w = W.partitionBy("p_type").orderBy("p_retailprice").rangeBetween(-100, 100)
    return part.select(
        "p_type",
        "p_partkey",
        "p_retailprice",
        F.count(F.lit(1)).over(w).alias("n_similar"),
    ).orderBy("p_type", "p_partkey")


@register(
    "window_topk_per_group",
    oracle="""
WITH rev AS (
  SELECT l_suppkey, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
  FROM lineitem GROUP BY l_suppkey
), ranked AS (
  SELECT n.n_name, s.s_name, r.revenue,
         rank() OVER (PARTITION BY n.n_name
                      ORDER BY r.revenue DESC, s.s_suppkey) AS rnk
  FROM rev r
  JOIN supplier s ON s.s_suppkey = r.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
)
SELECT n_name, s_name, revenue, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 3
ORDER BY n_name, rnk, s_name
""",
    tags=("window", "topk"),
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: the rank-then-filter idiom (top 3 suppliers by
    lineitem revenue within each nation).  The heavy aggregate runs
    FIRST on the fact table (one keyed shuffle producing |suppliers|
    rows); the supplier/nation dimensions broadcast onto that small
    result; the window then partitions by nation over dimension-sized
    data.  At 100 TB only the first aggregate sees the fact table —
    the ranking never shuffles fact-scale rows, and Spark pushes the
    rank()<=3 predicate into the window via WindowGroupLimit (a
    per-partition top-k before the final sort, the same shape as the
    reference's TakeOrderedAndProject, reference:
    spark/sql/comet/CometTakeOrderedAndProjectExec.scala:38-80)."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    rev = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)"))
            ),
            2,
        ).cast("double").alias("revenue")
    )
    joined = rev.join(supp, supp.s_suppkey == rev.l_suppkey).join(
        F.broadcast(nat), F.col("n_nationkey") == F.col("s_nationkey")
    )
    w = W.partitionBy("n_name").orderBy(F.col("revenue").desc(), "s_suppkey")
    return (
        joined.select(
            "n_name", "s_name", "revenue", F.rank().over(w).cast("int").alias("rnk")
        )
        .filter(F.col("rnk") <= 3)
        .orderBy("n_name", "rnk", "s_name")
    )


@register(
    "window_interval_range_frame",
    oracle="""
SELECT user_id, ts, value,
       CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
       round(sum(value) OVER w, 4) AS sum_last_hour
FROM events
WHERE user_id < 40
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
ORDER BY user_id, ts, value
""",
    tags=("window", "frame", "interval", "temporal"),
)
def window_interval_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame: per-user trailing-hour rollup — the
    sliding lookback every rate-limit / rolling-feature computation
    needs.  The reference's Window supports RANGE only with
    UNBOUNDED/CURRENT bounds (reference: CometWindowExec.scala:178-240);
    Spark evaluates calendar-interval bounds natively via the ordering
    column's time type.

    Scale shape: one hash exchange on user_id + a partition-local sort
    on ts; the variable-width frame is a two-pointer scan within the
    sorted run — no self-join, no explode, no per-row search.
    (Calendar-interval frame bounds are SQL-only — the classic
    DataFrame Window.rangeBetween accepts integer offsets, which
    require a numeric ordering column.)"""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    ev.createOrReplaceTempView("dcs_wirf_events")
    return spark.sql("""
        SELECT user_id, ts, value,
               CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
               round(sum(value) OVER w, 4) AS sum_last_hour
        FROM dcs_wirf_events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                               AND CURRENT ROW)
        ORDER BY user_id, ts, value
    """)
