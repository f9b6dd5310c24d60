"""TPC-DS-shaped composite queries, batch 2.

Continues ``tpcds_style.py``: the reference's TPC-DS benchmark surface
(103 queries, reference: benchmarks/results/0.16.0/{spark,comet}-tpcds.json)
contains recurring plan shapes not yet pinned by batch 1 — net-of-returns
left joins (q93), nested aggregate-derived semi-join filters (q23),
group-size band scans (q34/q73), dual-rank return ratios (q49), sliding
moving-average deviations (q47/q57), within-class revenue ratios
(q98/q12/q20), consecutive-period share growth (q31), weekday pivots
joined across periods (q59), multi-EXISTS demographic rollups (q10/q35),
and above-group-average outlier reports (q30).  Each is reproduced on
the available star schema with a DuckDB oracle.

Scale notes are inline per query: every shape aggregates the fact table
exactly once where the literal SQL spelling would scan it twice, and
every join against a derived aggregate broadcasts the (tiny) aggregate
side rather than shuffling the fact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import register
from ._shared import (
    SPARK_SQL_REV,
    SQL_REV,
    _dec,
    _dim_hint,
    _drev,
    _money,
    _sort_one_task,
    _stats_join_back,
    _t,
    _ts,
)


# --------------------------------------------------------------------------
# q93 shape — net customer spend after returns (left join to a returns agg)
# --------------------------------------------------------------------------
@register(
    "tpcds_net_after_returns",
    oracle=f"""
WITH ret AS (
  SELECT l_orderkey, sum({SQL_REV}) AS ret_amt
  FROM lineitem WHERE l_returnflag = 'R'
  GROUP BY l_orderkey
)
SELECT c_custkey, c_name,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS gross,
       CAST(round(sum(coalesce(ret_amt, CAST(0 AS DECIMAL(18,2)))), 2)
            AS DOUBLE) AS returned,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  - sum(coalesce(ret_amt, CAST(0 AS DECIMAL(18,2)))), 2)
            AS DOUBLE) AS net
FROM orders
LEFT JOIN ret ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY net DESC, c_custkey
LIMIT 25
""",
    tags=("tpcds", "outer-join", "aggregate", "topk"),
)
def tpcds_net_after_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q93 shape: facts LEFT JOINed to a per-key returns
    aggregate, net = gross - returned, top-k customers by net.

    Scale: the returned-amount rollup shrinks lineitem to |orders with
    an R line| before the join, so the orders-side join input is an
    aggregate, not the 6×-larger line fact; both sides then share the
    o_orderkey exchange.  The final per-customer rollup is TakeOrdered
    (top-25), never a global sort."""
    li = _t(spark, sf_dir, "lineitem")
    ret = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(F.sum(_drev()).alias("ret_amt"))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        orders.join(ret, orders.o_orderkey == ret.l_orderkey, "left")
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            _money(F.sum(_dec("o_totalprice"))).alias("gross"),
            _money(F.sum(F.coalesce(F.col("ret_amt"), zero))).alias(
                "returned"
            ),
            _money(
                F.sum(_dec("o_totalprice"))
                - F.sum(F.coalesce(F.col("ret_amt"), zero))
            ).alias("net"),
        )
        .orderBy(F.col("net").desc(), "c_custkey")
        .limit(25)
    )


# --------------------------------------------------------------------------
# q23 shape — revenue from frequent items bought by best customers
# --------------------------------------------------------------------------
@register(
    "tpcds_frequent_buyer_semi",
    oracle=f"""
WITH freq_parts AS (
  SELECT l_partkey FROM lineitem
  GROUP BY l_partkey HAVING count(DISTINCT l_orderkey) >= 35
),
big_spenders AS (
  SELECT o_custkey FROM orders
  GROUP BY o_custkey
  HAVING sum(CAST(o_totalprice AS DECIMAL(18,2)))
         > CAST(3000000 AS DECIMAL(18,2))
)
SELECT CAST(round(sum({SQL_REV}), 2) AS DOUBLE) AS qualified_revenue,
       count(*) AS qualified_lines
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
  AND l.l_partkey IN (SELECT l_partkey FROM freq_parts)
  AND o.o_custkey IN (SELECT o_custkey FROM big_spenders)
""",
    tags=("tpcds", "semi-join", "aggregate", "having"),
)
def tpcds_frequent_buyer_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q23 shape: two aggregate-derived filter sets (frequently
    ordered parts, high-lifetime-value customers), applied to the fact
    as semi joins, then one scalar rollup.

    Scale: both filter sets are aggregates over their own fact pass but
    shrink to key lists (|parts|, |customers|) that broadcast — the
    period fact scan is filtered by two BroadcastHashJoin(LeftSemi)
    without any fact-sized shuffle.  The distinct-order count uses the
    (l_partkey, l_orderkey) pair exchange once; nothing else shuffles
    lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    freq_parts = (
        li.groupBy("l_partkey")
        .agg(F.count_distinct("l_orderkey").alias("n_orders"))
        .filter(F.col("n_orders") >= 35)
        .select("l_partkey")
    )
    big_spenders = (
        orders.groupBy("o_custkey")
        .agg(F.sum(_dec("o_totalprice")).alias("lifetime"))
        .filter(F.col("lifetime") > F.lit(3000000).cast("decimal(18,2)"))
        .select("o_custkey")
    )
    period = orders.filter(
        (F.col("o_orderdate") >= _ts("1998-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1999-01-01 00:00:00"))
    ).join(_dim_hint(big_spenders, sf_dir, "customer"), "o_custkey", "left_semi")
    return (
        li.join(_dim_hint(freq_parts, sf_dir, "part"), "l_partkey", "left_semi")
        .join(period, F.col("l_orderkey") == period.o_orderkey)
        .agg(
            _money(F.sum(_drev())).alias("qualified_revenue"),
            F.count(F.lit(1)).alias("qualified_lines"),
        )
    )


# --------------------------------------------------------------------------
# q34/q73 shape — order-size band report
# --------------------------------------------------------------------------
@register(
    "tpcds_party_size_band",
    oracle="""
WITH sized AS (
  SELECT l_orderkey, count(*) AS n_lines
  FROM lineitem GROUP BY l_orderkey
  HAVING count(*) BETWEEN 9 AND 13
)
SELECT c_name, c_custkey, o_orderkey, n_lines
FROM sized
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
ORDER BY n_lines DESC, o_orderkey
""",
    tags=("tpcds", "having", "join", "band"),
)
def tpcds_party_size_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q34/q73 shape: group-size HAVING band (orders with 9-13
    lines) joined back to the order and customer dimensions.

    Scale: the band aggregate is the only lineitem exchange.  Its
    survivor set is a few % of ALL orders — proportional to the fact,
    so it is NOT broadcast (at 100 TB it would be GBs); the o_orderkey
    shuffle join lets AQE downgrade to broadcast only when the band
    output actually fits.  The date filter is applied on the orders
    side BEFORE its join so partition pruning on o_orderdate engages
    on a date-partitioned layout."""
    li = _t(spark, sf_dir, "lineitem")
    sized = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .filter(F.col("n_lines").between(9, 13))
    )
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1999-01-01 00:00:00"))
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(sized, orders.o_orderkey == sized.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "n_lines")
        .orderBy(F.col("n_lines").desc(), "o_orderkey")
    )


# --------------------------------------------------------------------------
# q49 shape — worst return ratios, dual rankings
# --------------------------------------------------------------------------
@register(
    "tpcds_return_ratio_rank",
    oracle=f"""
WITH per_part AS (
  SELECT l_partkey,
         sum(CASE WHEN l_returnflag = 'R' THEN {SQL_REV}
                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS ret_amt,
         sum({SQL_REV}) AS tot_amt,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity
                       ELSE 0 END) AS BIGINT) AS ret_qty,
         CAST(sum(l_quantity) AS BIGINT) AS tot_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'
  GROUP BY l_partkey
  HAVING count(*) >= 5
),
ranked AS (
  SELECT l_partkey,
         round(CAST(ret_amt AS DOUBLE) / CAST(tot_amt AS DOUBLE), 6)
           AS amt_ratio,
         round(CAST(ret_qty AS DOUBLE) / CAST(tot_qty AS DOUBLE), 6)
           AS qty_ratio,
         rank() OVER (ORDER BY
           round(CAST(ret_amt AS DOUBLE) / CAST(tot_amt AS DOUBLE), 6) DESC)
           AS amt_rank,
         rank() OVER (ORDER BY
           round(CAST(ret_qty AS DOUBLE) / CAST(tot_qty AS DOUBLE), 6) DESC)
           AS qty_rank
  FROM per_part
)
SELECT l_partkey, amt_ratio, qty_ratio,
       CAST(amt_rank AS BIGINT) AS amt_rank,
       CAST(qty_rank AS BIGINT) AS qty_rank
FROM ranked
WHERE amt_rank <= 10 OR qty_rank <= 10
ORDER BY amt_rank, qty_rank, l_partkey
""",
    tags=("tpcds", "window", "rank", "conditional", "bench"),
)
def tpcds_return_ratio_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q49 shape: per-item return ratio by amount AND by
    quantity, ranked both ways, keep items in either top-10.

    Scale: one conditional aggregate pass over the quarter's lines
    (two ratios from the same groupBy — never two fact scans), then
    top-10-by-rank WITHOUT any global window: TakeOrdered 10th-value
    thresholds select the kept items, and one broadcast inequality
    join of the aggregate against them counts each kept item's exact
    rank() (ties included) — see inline comments.  No task sees more
    than its own partition of the aggregate, except the final sort's,
    which sees the kept items' partial counts.  Ratios are computed in
    exact decimal then divided as double on both engines (identical
    IEEE bits), so rank ties are data-determined, not
    float-noise-determined."""
    li = _t(spark, sf_dir, "lineitem").filter(
        "l_shipdate >= CAST('1998-01-01 00:00:00' AS TIMESTAMP)"
        " AND l_shipdate < CAST('1998-04-01 00:00:00' AS TIMESTAMP)"
    )
    per_part = (
        li.groupBy("l_partkey")
        .agg(
            F.expr(
                f"sum(CASE WHEN l_returnflag = 'R' THEN {SPARK_SQL_REV}"
                " ELSE CAST(0 AS DECIMAL(18,2)) END) AS ret_amt"
            ),
            F.expr(f"sum({SPARK_SQL_REV}) AS tot_amt"),
            F.expr(
                "CAST(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END)"
                " AS BIGINT) AS ret_qty"
            ),
            F.expr("CAST(sum(l_quantity) AS BIGINT) AS tot_qty"),
            F.expr("count(1) AS n_lines"),
        )
        .filter("n_lines >= 5")
    )
    # persist() the tiny aggregate output (|parts| rows, MEMORY_AND_DISK):
    # WITHOUT it, per-branch column pruning specializes each consumer's
    # aggregate subtree (amt-only / qty-only / both), ReuseExchange
    # cannot merge the now-different subtrees, and the executed plan
    # makes THREE physical fact passes (measured round 7).  With the
    # cache the fact is scanned once and every branch reads the
    # InMemoryRelation — 1.62x at sf0.1 (min-of-5), pinned by
    # tests/test_plans.py::test_return_ratio_rank_single_fact_pass.
    cand = per_part.selectExpr(
        "l_partkey",
        "round(CAST(ret_amt AS DOUBLE) / CAST(tot_amt AS DOUBLE), 6) AS amt_ratio",
        "round(CAST(ret_qty AS DOUBLE) / CAST(tot_qty AS DOUBLE), 6) AS qty_ratio",
    ).persist()
    # Scale shape: the naive spelling ranks ALL |parts| aggregate rows
    # through one unpartitioned WindowExec reducer (the OR'd rank
    # filter defeats WindowGroupLimit pruning).  Instead:
    #   1. 10th-highest value per measure via orderBy+limit(10) →
    #      TakeOrderedAndProject (per-partition 10-row heads merged on
    #      the driver — never a global sort);
    #   2. keep aggregate rows at-or-above either broadcast threshold
    #      (≥ the 10th value ⟹ at most 9 strictly greater ⟹ rank ≤ 10,
    #      so this is exactly the top-10-by-rank set, ties included);
    #   3. exact global rank of each kept row in BOTH measures — the
    #      other measure's rank may be large — as 1 + count(strictly
    #      greater) (rank() ≡ 1 + |{v : v > x}| under DESC order), from
    #      ONE broadcast inequality join of the aggregate against the
    #      kept rows: every row strictly greater in either measure
    #      matches, every kept row matches itself, so grouping by the
    #      kept key loses none and count_if() counts each measure;
    #   4. the grouped counts are partial-aggregated per map task, so
    #      the final sort's input is at most |kept| rows per task and
    #      it sorts in one task (_sort_one_task), without a range shuffle.
    th_amt = (
        cand.orderBy(F.desc("amt_ratio"))
        .limit(10)
        .agg(F.expr("min(amt_ratio) AS th_amt"))
    )
    th_qty = (
        cand.orderBy(F.desc("qty_ratio"))
        .limit(10)
        .agg(F.expr("min(qty_ratio) AS th_qty"))
    )
    kept = (
        cand.join(F.broadcast(th_amt.join(th_qty)))
        .filter("amt_ratio >= th_amt OR qty_ratio >= th_qty")
        .selectExpr("l_partkey AS k_key", "amt_ratio AS k_amt", "qty_ratio AS k_qty")
    )
    return (
        cand.join(F.broadcast(kept), F.expr("amt_ratio >= k_amt OR qty_ratio >= k_qty"))
        .groupBy("k_key", "k_amt", "k_qty")
        .agg(
            F.expr("count_if(amt_ratio > k_amt) AS amt_gt"),
            F.expr("count_if(qty_ratio > k_qty) AS qty_gt"),
        )
        .selectExpr(
            "k_key AS l_partkey",
            "k_amt AS amt_ratio",
            "k_qty AS qty_ratio",
            "amt_gt + 1 AS amt_rank",
            "qty_gt + 1 AS qty_rank",
        )
        .transform(_sort_one_task, "amt_rank", "qty_rank", "l_partkey")
    )


# --------------------------------------------------------------------------
# q47/q57 shape — sliding moving-average deviation per brand-month
# --------------------------------------------------------------------------
@register(
    "tpcds_rolling_brand_deviation",
    oracle=f"""
WITH monthly AS (
  SELECT p_brand,
         CAST(year(l_shipdate) AS INT) AS yr,
         CAST(month(l_shipdate) AS INT) AS mo,
         sum({SQL_REV}) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2, 3
),
ma AS (
  SELECT p_brand, yr, mo, rev,
         sum(rev) OVER (
           PARTITION BY p_brand ORDER BY yr, mo
           ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS wsum,
         count(*) OVER (
           PARTITION BY p_brand ORDER BY yr, mo
           ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS nwin
  FROM monthly
)
SELECT p_brand, yr, mo,
       CAST(round(rev, 2) AS DOUBLE) AS rev,
       round(CAST(wsum AS DOUBLE) / 3, 2) AS moving_avg,
       round(3 * CAST(rev AS DOUBLE) / CAST(wsum AS DOUBLE), 6) AS ratio
FROM ma
WHERE nwin = 3
  AND 3 * CAST(rev AS DOUBLE) / CAST(wsum AS DOUBLE) > 1.4
ORDER BY p_brand, yr, mo
""",
    tags=("tpcds", "window", "frame", "join", "aggregate"),
)
def tpcds_rolling_brand_deviation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS q47/q57 shape: monthly sales per brand, centered 3-month
    moving average (ROWS frame), report months spiking >40% above it.

    Scale: the fact joins the part dimension via broadcast, aggregates
    to |brand × month| (tiny) in one exchange, and the sliding frame
    runs over that aggregate — frame order (yr, mo) is unique within a
    brand so the frame contents are deterministic; the interior-month
    gate (nwin = 3) uses the SAME frame's count rather than a second
    window spec.  The decimal frame-sum average is exact; division
    happens in double on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    monthly = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            "p_brand",
            F.year("l_shipdate").cast("int").alias("yr"),
            F.month("l_shipdate").cast("int").alias("mo"),
        )
        .agg(F.sum(_drev()).alias("rev"))
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy("yr", "mo")
        .rowsBetween(-1, 1)
    )
    ma = monthly.select(
        "p_brand",
        "yr",
        "mo",
        "rev",
        F.sum("rev").over(w).alias("wsum"),
        F.count(F.lit(1)).over(w).alias("nwin"),
    )
    # The moving average is spelled sum/3, not avg(): Spark's decimal
    # avg stays exact decimal while DuckDB's avg over decimal degrades
    # to double — sum stays an exact decimal in BOTH engines, so the
    # double division below is bit-identical across them.
    ratio = (
        F.lit(3) * F.col("rev").cast("double") / F.col("wsum").cast("double")
    )
    return (
        ma.filter((F.col("nwin") == 3) & (ratio > 1.4))
        .select(
            "p_brand",
            "yr",
            "mo",
            _money(F.col("rev")).alias("rev"),
            F.round(F.col("wsum").cast("double") / 3, 2).alias("moving_avg"),
            F.round(ratio, 6).alias("ratio"),
        )
        .orderBy("p_brand", "yr", "mo")
    )


# --------------------------------------------------------------------------
# q98/q12/q20 shape — revenue share within class
# --------------------------------------------------------------------------
@register(
    "tpcds_class_revenue_ratio",
    oracle=f"""
WITH per_part AS (
  SELECT p_type, p_brand, sum({SQL_REV}) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-07-01 00:00:00'
  GROUP BY p_type, p_brand
)
SELECT p_type, p_brand,
       CAST(round(rev, 2) AS DOUBLE) AS rev,
       round(CAST(rev AS DOUBLE)
             / CAST(sum(rev) OVER (PARTITION BY p_type) AS DOUBLE), 6)
         AS class_share
FROM per_part
ORDER BY p_type, class_share DESC, p_brand
""",
    tags=("tpcds", "window", "ratio", "join"),
)
def tpcds_class_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q98/q12/q20 shape: each brand's share of its class
    (p_type) revenue via an unbounded partition window over the
    aggregate.

    Scale: fact → broadcast-join dimension → ONE groupBy exchange to
    |type × brand|; the class total is a window over that aggregate
    (free — same partitioning), never a second aggregate joined back.
    The window sums exact decimals, so shares are bit-stable."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1998-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-07-01 00:00:00"))
    )
    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_type", "p_brand"
    )
    per = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "p_brand")
        .agg(F.sum(_drev()).alias("rev"))
    )
    w = Window.partitionBy("p_type")
    share = F.round(
        F.col("rev").cast("double") / F.sum("rev").over(w).cast("double"), 6
    )
    return per.select(
        "p_type",
        "p_brand",
        _money(F.col("rev")).alias("rev"),
        share.alias("class_share"),
    ).orderBy("p_type", F.col("class_share").desc(), "p_brand")


# --------------------------------------------------------------------------
# q31 shape — quarter-over-quarter share growth, nation vs world
# --------------------------------------------------------------------------
@register(
    "tpcds_quarterly_share_growth",
    oracle=f"""
WITH nq AS (
  SELECT n_name,
         CAST(quarter(o_orderdate) AS INT) AS qtr,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1, 2
),
wq AS (SELECT qtr, sum(rev) AS wrev FROM nq GROUP BY qtr)
SELECT a.n_name, a.qtr AS qtr,
       round(CAST(b.rev AS DOUBLE) / CAST(a.rev AS DOUBLE), 6)
         AS nation_growth,
       round(CAST(wb.wrev AS DOUBLE) / CAST(wa.wrev AS DOUBLE), 6)
         AS world_growth
FROM nq a
JOIN nq b   ON a.n_name = b.n_name AND b.qtr = a.qtr + 1
JOIN wq wa  ON wa.qtr = a.qtr
JOIN wq wb  ON wb.qtr = a.qtr + 1
WHERE CAST(b.rev AS DOUBLE) / CAST(a.rev AS DOUBLE)
      > CAST(wb.wrev AS DOUBLE) / CAST(wa.wrev AS DOUBLE)
ORDER BY a.n_name, qtr
""",
    tags=("tpcds", "join", "growth", "aggregate-of-aggregate"),
)
def tpcds_quarterly_share_growth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS q31 shape: nations whose quarter-over-quarter revenue
    growth beat the world's growth in the same transition.

    Scale: ONE fact aggregate to |nation × quarter|; the oracle's four
    self-joins become two lead() windows over that aggregate — one
    partitioned by nation for the nation curve, one over the
    quarterly world rollup (aggregate-of-aggregate, ~4 rows) joined
    back by broadcast.  The orders fact is scanned and shuffled exactly
    once; executed literally, the SQL spelling re-evaluates it four
    times."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1998-01-01 00:00:00"))
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nq = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.quarter("o_orderdate").cast("int").alias("qtr"))
        .agg(F.sum(_dec("o_totalprice")).alias("rev"))
    )
    wn = Window.partitionBy("n_name").orderBy("qtr")
    nation_curve = nq.select(
        "n_name",
        "qtr",
        "rev",
        F.lead("rev", 1).over(wn).alias("next_rev"),
        F.lead("qtr", 1).over(wn).alias("next_qtr"),
    ).filter(F.col("next_qtr") == F.col("qtr") + 1)
    wq = nq.groupBy("qtr").agg(F.sum("rev").alias("wrev"))
    ww = Window.orderBy("qtr")
    world_curve = wq.select(
        "qtr",
        "wrev",
        F.lead("wrev", 1).over(ww).alias("next_wrev"),
        F.lead("qtr", 1).over(ww).alias("next_wqtr"),
    ).filter(F.col("next_wqtr") == F.col("qtr") + 1)
    ngrowth = F.col("next_rev").cast("double") / F.col("rev").cast("double")
    wgrowth = F.col("next_wrev").cast("double") / F.col("wrev").cast("double")
    return (
        nation_curve.join(F.broadcast(world_curve), "qtr")
        .filter(ngrowth > wgrowth)
        .select(
            "n_name",
            "qtr",
            F.round(ngrowth, 6).alias("nation_growth"),
            F.round(wgrowth, 6).alias("world_growth"),
        )
        .orderBy("n_name", "qtr")
    )


# --------------------------------------------------------------------------
# q59 shape — weekday revenue pivot, month joined to next month
# --------------------------------------------------------------------------
@register(
    "tpcds_weekday_pivot_ratio",
    oracle="""
WITH daily AS (
  SELECT CAST(month(o_orderdate) AS INT) AS mo,
         CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
  GROUP BY 1, 2
),
piv AS (
  SELECT mo,
         sum(CASE WHEN dow = 1 THEN rev END) AS sun,
         sum(CASE WHEN dow = 2 THEN rev END) AS mon,
         sum(CASE WHEN dow = 6 THEN rev END) AS fri,
         sum(CASE WHEN dow = 7 THEN rev END) AS sat
  FROM daily GROUP BY mo
)
SELECT a.mo AS mo,
       round(CAST(b.sun AS DOUBLE) / CAST(a.sun AS DOUBLE), 6) AS sun_ratio,
       round(CAST(b.mon AS DOUBLE) / CAST(a.mon AS DOUBLE), 6) AS mon_ratio,
       round(CAST(b.fri AS DOUBLE) / CAST(a.fri AS DOUBLE), 6) AS fri_ratio,
       round(CAST(b.sat AS DOUBLE) / CAST(a.sat AS DOUBLE), 6) AS sat_ratio
FROM piv a JOIN piv b ON b.mo = a.mo + 1
ORDER BY a.mo
""",
    tags=("tpcds", "pivot", "join", "ratio"),
)
def tpcds_weekday_pivot_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q59 shape: weekday revenue pivoted to columns per month,
    each month compared to the next month weekday-by-weekday.

    Scale: one fact aggregate to |month × weekday| (42 rows), an
    explicit-values pivot over it (Expand-free conditional sums), and
    the month-to-month comparison as lead() windows over the 6-row
    pivot — the literal self-join would re-run the fact aggregate.
    Spark's dayofweek() is 1=Sunday; DuckDB's dayofweek() is 0=Sunday,
    so the oracle shifts by +1 to the Spark numbering."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-07-01 00:00:00"))
    )
    daily = orders.groupBy(
        F.month("o_orderdate").cast("int").alias("mo"),
        F.dayofweek("o_orderdate").cast("int").alias("dow"),
    ).agg(F.sum(_dec("o_totalprice")).alias("rev"))
    piv = daily.groupBy("mo").agg(
        F.sum(F.when(F.col("dow") == 1, F.col("rev"))).alias("sun"),
        F.sum(F.when(F.col("dow") == 2, F.col("rev"))).alias("mon"),
        F.sum(F.when(F.col("dow") == 6, F.col("rev"))).alias("fri"),
        F.sum(F.when(F.col("dow") == 7, F.col("rev"))).alias("sat"),
    )
    w = Window.orderBy("mo")

    def ratio(c: str) -> Column:
        return F.round(
            F.lead(c, 1).over(w).cast("double") / F.col(c).cast("double"), 6
        )

    return (
        piv.select(
            "mo",
            F.lead("mo", 1).over(w).alias("next_mo"),
            ratio("sun").alias("sun_ratio"),
            ratio("mon").alias("mon_ratio"),
            ratio("fri").alias("fri_ratio"),
            ratio("sat").alias("sat_ratio"),
        )
        .filter(F.col("next_mo") == F.col("mo") + 1)
        .drop("next_mo")
        .orderBy("mo")
    )


# --------------------------------------------------------------------------
# q10/q35 shape — multi-EXISTS demographic rollup
# --------------------------------------------------------------------------
@register(
    "tpcds_multi_exists_demographics",
    oracle="""
SELECT n_name,
       count(*) AS n_customers,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             / count(*), 4) AS avg_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
  AND EXISTS (
    SELECT 1 FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_custkey = c_custkey AND l_returnflag = 'R')
GROUP BY n_name
ORDER BY n_name
""",
    tags=("tpcds", "exists", "semi-join", "aggregate"),
)
def tpcds_multi_exists_demographics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS q10/q35 shape: customers passing TWO existence tests on
    different fact paths (ordered in the period; ever returned an
    item), rolled up by nation.

    Scale: each EXISTS is a LeftSemi join against a key-projected fact;
    the returned-item test pre-shrinks lineitem to returned orderkeys
    before touching orders, so the orders↔lineitem join runs on the
    'R' subset only.  Customer is the smallest relation here and keeps
    both semi joins broadcast-able at 100 TB (facts stream past a
    broadcast customer-key set is wrong — the semi join direction
    matters: customers ⋉ fact keys, with the fact-key sets aggregated
    first)."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    period_buyers = orders.filter(
        (F.col("o_orderdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1998-01-01 00:00:00"))
    ).select("o_custkey")
    ret_orders = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    returners = orders.join(
        ret_orders, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    ).select(F.col("o_custkey").alias("r_custkey"))
    return (
        cust.join(
            period_buyers, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
        )
        .join(returners, F.col("c_custkey") == F.col("r_custkey"), "left_semi")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(_dec("c_acctbal")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_acctbal"),
        )
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# q30 shape — customers returning far above their nation's average
# --------------------------------------------------------------------------
@register(
    "tpcds_above_avg_returners",
    oracle=f"""
WITH per_cust AS (
  SELECT c_custkey, c_name, n_name, sum({SQL_REV}) AS ret_amt
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
  GROUP BY 1, 2, 3
),
windowed AS (
  SELECT c_custkey, c_name, n_name, ret_amt,
         sum(ret_amt) OVER (PARTITION BY n_name) AS nsum,
         count(*)     OVER (PARTITION BY n_name) AS ncnt
  FROM per_cust
)
SELECT c_custkey, c_name, n_name,
       CAST(round(ret_amt, 2) AS DOUBLE) AS ret_amt,
       round(CAST(nsum AS DOUBLE) / ncnt, 2) AS nation_avg
FROM windowed
WHERE CAST(ret_amt AS DOUBLE) * ncnt > 1.8 * CAST(nsum AS DOUBLE)
ORDER BY n_name, ret_amt DESC, c_custkey
""",
    tags=("tpcds", "window", "outlier", "join"),
)
def tpcds_above_avg_returners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q30 shape: customers whose returned revenue exceeds
    1.8× their nation's per-customer average.

    Scale: the returns fact aggregates to |returning customers| in one
    exchange (dimension joins broadcast); the nation average is a
    window over that aggregate — the SQL-subquery spelling would
    aggregate the fact a second time and join back.  DuckDB allows
    window functions in WHERE via its QUALIFY-less rewrite; Spark
    computes the window column then filters, which is the same plan."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_cust = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_drev()).alias("ret_amt"))
    )
    # Nation average spelled sum/count (exact decimal sum in both
    # engines), and the outlier test cross-multiplied so no division
    # result feeds a comparison.
    w = Window.partitionBy("n_name")
    nsum = F.sum("ret_amt").over(w)
    ncnt = F.count(F.lit(1)).over(w)
    return (
        per_cust.select(
            "c_custkey",
            "c_name",
            "n_name",
            "ret_amt",
            nsum.alias("nsum"),
            ncnt.alias("ncnt"),
        )
        .filter(
            F.col("ret_amt").cast("double") * F.col("ncnt")
            > F.lit(1.8) * F.col("nsum").cast("double")
        )
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            _money(F.col("ret_amt")).alias("ret_amt"),
            F.round(
                F.col("nsum").cast("double") / F.col("ncnt"), 2
            ).alias("nation_avg"),
        )
        .orderBy("n_name", F.col("ret_amt").desc(), "c_custkey")
    )


# --------------------------------------------------------------------------
# q90 shape — time-band activity ratio (am vs pm)
# --------------------------------------------------------------------------
@register(
    "tpcds_am_pm_ratio",
    oracle="""
SELECT CAST(sum(CASE WHEN hour(ts) BETWEEN 8 AND 11 THEN 1 ELSE 0 END)
            AS BIGINT) AS am_cnt,
       CAST(sum(CASE WHEN hour(ts) BETWEEN 19 AND 22 THEN 1 ELSE 0 END)
            AS BIGINT) AS pm_cnt,
       round(CAST(sum(CASE WHEN hour(ts) BETWEEN 8 AND 11 THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / sum(CASE WHEN hour(ts) BETWEEN 19 AND 22 THEN 1 ELSE 0 END),
             6) AS am_pm_ratio
FROM events
""",
    tags=("tpcds", "conditional", "ratio"),
)
def tpcds_am_pm_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q90 shape: activity ratio between two diurnal bands in
    one conditional-aggregate scan (the SQL spelling is two scalar
    subqueries cross-joined — two fact scans; one pass with CASE sums
    is the single-scan rewrite, same as tpcds_time_band_counts but
    producing a ratio of exact integer counts)."""
    ev = _t(spark, sf_dir, "events")
    am = F.sum(
        F.when(F.hour("ts").between(8, 11), 1).otherwise(0)
    ).cast("long")
    pm = F.sum(
        F.when(F.hour("ts").between(19, 22), 1).otherwise(0)
    ).cast("long")
    return ev.agg(
        am.alias("am_cnt"),
        pm.alias("pm_cnt"),
        F.round(am.cast("double") / pm, 6).alias("am_pm_ratio"),
    )


# --------------------------------------------------------------------------
# q92 shape — revenue from lines discounted far above the part's norm
# --------------------------------------------------------------------------
@register(
    "tpcds_above_avg_discount",
    oracle=f"""
WITH windowed AS (
  SELECT l_partkey, l_extendedprice, l_discount,
         sum(CAST(l_discount AS DECIMAL(4,2)))
           OVER (PARTITION BY l_partkey) AS dsum,
         count(*) OVER (PARTITION BY l_partkey) AS dcnt
  FROM lineitem
)
SELECT CAST(round(sum({SQL_REV}), 2) AS DOUBLE) AS excess_revenue,
       count(*) AS n_lines
FROM windowed
WHERE CAST(l_discount AS DECIMAL(4,2)) * dcnt * 10 > 12 * dsum
""",
    tags=("tpcds", "window", "outlier"),
)
def tpcds_above_avg_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q92 shape: lines whose discount exceeds 1.2x their
    part's average discount, summed.  The 1.2x test is cross-multiplied
    in exact decimal-integer arithmetic (disc*n*10 > 12*sum) so no
    division result is ever compared.

    Round 10 replaced the Window.partitionBy(l_partkey) spelling with
    a per-part groupBy joined back to the rows (stats side behind
    _stats_join_back's size gate).  The window form shuffles the ENTIRE fact on
    the part key and serializes each key on one task — un-splittable
    by AQE, the one skew shape AQE cannot rescue; Zipf(1.2) partkeys
    measured it at 2.053s vs 0.833s for this form (min-of-5, generator
    sf1-skew1.2), against a 1.230s -> 1.440s uniform-data cost.  The
    100 TB posture takes that trade: partial aggregation absorbs the
    hot key map-side, and the join-back broadcasts small / AQE-skew-
    splits large (SCALE.md, "Skewed keys under windows")."""
    li = _t(spark, sf_dir, "lineitem")
    disc = _dec("l_discount", 4, 2)
    stats = li.groupBy("l_partkey").agg(
        F.sum(disc).alias("dsum"), F.count(F.lit(1)).alias("dcnt")
    )
    return (
        _stats_join_back(li, stats, "l_partkey", sf_dir, "part")
        .filter(disc * F.col("dcnt") * 10 > F.col("dsum") * 12)
        .agg(
            _money(F.sum(_drev())).alias("excess_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# q58 shape — parts with balanced revenue across two periods
# --------------------------------------------------------------------------
@register(
    "tpcds_half_year_balance",
    oracle=f"""
WITH halves AS (
  SELECT l_partkey,
         sum(CASE WHEN l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
                  THEN {SQL_REV} ELSE CAST(0 AS DECIMAL(18,2)) END) AS h1,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-07-01 00:00:00'
                  THEN {SQL_REV} ELSE CAST(0 AS DECIMAL(18,2)) END) AS h2
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_partkey
)
SELECT l_partkey,
       CAST(round(h1, 2) AS DOUBLE) AS h1_revenue,
       CAST(round(h2, 2) AS DOUBLE) AS h2_revenue
FROM halves
WHERE h1 * 10 <= h2 * 11 AND h2 * 10 <= h1 * 11
  AND h1 > 0 AND h2 > 0
ORDER BY l_partkey
""",
    tags=("tpcds", "conditional", "balance"),
)
def tpcds_half_year_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q58 shape: parts whose revenue is balanced (within 10%)
    across two periods.  The multi-channel INTERSECT spelling becomes
    ONE conditional aggregate per part (both halves from the same
    exchange) with the +/-10% band as cross-multiplied exact-decimal
    inequalities."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
    )
    zero = F.lit(0).cast("decimal(18,2)")
    mid = _ts("1997-07-01 00:00:00")
    halves = li.groupBy("l_partkey").agg(
        F.sum(
            F.when(F.col("l_shipdate") < mid, _drev()).otherwise(zero)
        ).alias("h1"),
        F.sum(
            F.when(F.col("l_shipdate") >= mid, _drev()).otherwise(zero)
        ).alias("h2"),
    )
    return (
        halves.filter(
            (F.col("h1") * 10 <= F.col("h2") * 11)
            & (F.col("h2") * 10 <= F.col("h1") * 11)
            & (F.col("h1") > 0)
            & (F.col("h2") > 0)
        )
        .select(
            "l_partkey",
            _money(F.col("h1")).alias("h1_revenue"),
            _money(F.col("h2")).alias("h2_revenue"),
        )
        .orderBy("l_partkey")
    )


# --------------------------------------------------------------------------
# q99/q62 shape — shipping-delay buckets per priority
# --------------------------------------------------------------------------
@register(
    "tpcds_delay_buckets",
    oracle="""
SELECT o_orderpriority,
       CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS shipped_early,
       CAST(sum(CASE WHEN d BETWEEN 0 AND 30 THEN 1 ELSE 0 END) AS BIGINT)
         AS within_30,
       CAST(sum(CASE WHEN d BETWEEN 31 AND 90 THEN 1 ELSE 0 END) AS BIGINT)
         AS days_31_90,
       CAST(sum(CASE WHEN d > 90 THEN 1 ELSE 0 END) AS BIGINT)
         AS over_90
FROM (
  SELECT o_orderpriority,
         date_diff('day', o_orderdate, l_shipdate) AS d
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
) t
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("tpcds", "conditional", "datetime", "buckets"),
)
def tpcds_delay_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q99/q62 shape: order-to-ship delay histogram per
    priority as conditional sums over one join pass (the days-late
    CASE ladder).  The negative bucket is real in this corpus —
    synthetic ship dates precede their order dates — and doubles as
    the data-quality accounting column a production pipeline would
    carry.  Both engines compute the delay as whole-day timestamp
    difference on midnight-aligned values."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    d = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    joined = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        "o_orderpriority", d.alias("d")
    )
    bucket = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            bucket(F.col("d") < 0).alias("shipped_early"),
            bucket(F.col("d").between(0, 30)).alias("within_30"),
            bucket(F.col("d").between(31, 90)).alias("days_31_90"),
            bucket(F.col("d") > 90).alias("over_90"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q41 shape — OR-of-AND attribute combination dimension filter
# --------------------------------------------------------------------------
@register(
    "tpcds_attribute_combo_parts",
    oracle="""
SELECT p_brand, count(*) AS n_parts,
       CAST(round(sum(CAST(p_retailprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS shelf_value
FROM part
WHERE (p_type LIKE 'STANDARD%' AND p_size BETWEEN 1 AND 15)
   OR (p_type LIKE 'SMALL%'    AND p_size BETWEEN 20 AND 35)
   OR (p_type LIKE 'LARGE%'    AND p_size BETWEEN 40 AND 50)
GROUP BY p_brand
ORDER BY p_brand
""",
    tags=("tpcds", "predicate", "pushdown"),
)
def tpcds_attribute_combo_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q41 shape: a pure dimension scan under an OR-of-AND
    attribute predicate.  The point at scale is pushdown: the whole
    disjunction is a single scan-level filter (PushedFilters carries
    the Or(And(...),...) tree into the parquet reader), no join, one
    tiny rollup — the plan must stay scan→filter→agg with zero wide
    exchanges."""
    part = _t(spark, sf_dir, "part")
    combo = (
        (F.col("p_type").startswith("STANDARD")
         & F.col("p_size").between(1, 15))
        | (F.col("p_type").startswith("SMALL")
           & F.col("p_size").between(20, 35))
        | (F.col("p_type").startswith("LARGE")
           & F.col("p_size").between(40, 50))
    )
    return (
        part.filter(combo)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            _money(F.sum(_dec("p_retailprice"))).alias("shelf_value"),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# q66 shape — 12-month wide pivot per group
# --------------------------------------------------------------------------
@register(
    "tpcds_monthly_pivot_wide",
    oracle=f"""
SELECT n_name,
{",".join(f'''       CAST(round(sum(CASE WHEN month(l_shipdate) = {m}
                     THEN {{rev}} ELSE CAST(0 AS DECIMAL(18,2)) END), 2)
            AS DOUBLE) AS m{m:02d}'''.format(rev="{rev}") for m in range(1, 13))},
       CAST(round(sum({{rev}}), 2) AS DOUBLE) AS total
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY n_name
""".replace("{rev}", SQL_REV),
    tags=("tpcds", "pivot", "wide-aggregate"),
)
def tpcds_monthly_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q66 shape: a wide 12-column monthly pivot per supplier
    nation in ONE aggregate pass — 13 conditional decimal sums from a
    single exchange.  Explicit CASE sums rather than groupBy().pivot()
    keep the plan a plain two-phase HashAggregate (pivot would plan
    the same thing but via an extra analysis pass with value
    discovery; with a known column set, spelling it out is both
    deterministic and Expand-free)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    zero = F.lit(0).cast("decimal(18,2)")
    month_cols = [
        _money(
            F.sum(
                F.when(F.month("l_shipdate") == m, _drev()).otherwise(zero)
            )
        ).alias(f"m{m:02d}")
        for m in range(1, 13)
    ]
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(*month_cols, _money(F.sum(_drev())).alias("total"))
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# q80 shape — channel P&L: gross, returned, tax, net in one pass
# --------------------------------------------------------------------------
@register(
    "tpcds_channel_pnl",
    oracle=f"""
SELECT n_name,
       CAST(round(sum({SQL_REV}), 2) AS DOUBLE) AS gross,
       CAST(round(sum(CASE WHEN l_returnflag = 'R' THEN {SQL_REV}
                           ELSE CAST(0 AS DECIMAL(18,2)) END), 2) AS DOUBLE)
         AS returned,
       CAST(round(sum({SQL_REV} * CAST(l_tax AS DECIMAL(4,2))), 2) AS DOUBLE)
         AS tax_cost,
       CAST(round(sum({SQL_REV})
                  - sum(CASE WHEN l_returnflag = 'R' THEN {SQL_REV}
                             ELSE CAST(0 AS DECIMAL(18,2)) END)
                  - sum({SQL_REV} * CAST(l_tax AS DECIMAL(4,2))), 2)
            AS DOUBLE) AS net
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
""",
    tags=("tpcds", "conditional", "pnl"),
)
def tpcds_channel_pnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q80 shape: per-channel profit-and-loss — gross revenue,
    returned revenue, tax cost, and the derived net — as FOUR decimal
    aggregates in one fact pass (the literal q80 unions three
    channel-specific sales⟕returns subplans; with returns flagged
    in-line, the whole P&L is conditional aggregation over one
    exchange).  Net is derived from the sums, not summed per-row, so
    the three components remain individually auditable."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    zero = F.lit(0).cast("decimal(18,2)")
    ret = F.sum(
        F.when(F.col("l_returnflag") == "R", _drev()).otherwise(zero)
    )
    gross = F.sum(_drev())
    tax = F.sum(_drev() * _dec("l_tax", 4, 2))
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            _money(gross).alias("gross"),
            _money(ret).alias("returned"),
            _money(tax).alias("tax_cost"),
            _money(gross - ret - tax).alias("net"),
        )
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# q11/q74 shape — customers whose channel preference shifted YoY
# --------------------------------------------------------------------------
@register(
    "tpcds_yoy_preference_shift",
    oracle="""
WITH per_year AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) AS INT) AS yr,
         sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN CAST(o_totalprice AS DECIMAL(18,2))
                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS express,
         sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  THEN CAST(o_totalprice AS DECIMAL(18,2))
                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS standard
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1, 2
),
paired AS (
  SELECT a.o_custkey, a.express AS e1, a.standard AS s1,
         b.express AS e2, b.standard AS s2
  FROM per_year a JOIN per_year b
    ON a.o_custkey = b.o_custkey AND a.yr = 1996 AND b.yr = 1997
  WHERE a.express > 0 AND a.standard > 0
    AND b.express > 0 AND b.standard > 0
)
SELECT count(*) AS n_shifted,
       CAST(min(o_custkey) AS BIGINT) AS first_cust,
       CAST(max(o_custkey) AS BIGINT) AS last_cust
FROM paired
WHERE e2 * s1 > e1 * s2
""",
    tags=("tpcds", "yoy", "ratio", "self-join"),
)
def tpcds_yoy_preference_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q11/q74 shape: customers whose express/standard spend
    ratio GREW between two years.  The two-channel two-year matrix is
    one conditional aggregate per (customer, year); the year pairing
    is a lag window per customer (the SQL self-join re-evaluates the
    aggregate; lag reuses it), and the ratio-growth test is
    cross-multiplied (e2·s1 > e1·s2) in exact decimal — no division,
    no epsilon."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1998-01-01 00:00:00"))
    )
    zero = F.lit(0).cast("decimal(18,2)")
    express = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    per_year = orders.groupBy(
        "o_custkey", F.year("o_orderdate").cast("int").alias("yr")
    ).agg(
        F.sum(
            F.when(express, _dec("o_totalprice")).otherwise(zero)
        ).alias("express"),
        F.sum(
            F.when(~express, _dec("o_totalprice")).otherwise(zero)
        ).alias("standard"),
    )
    w = Window.partitionBy("o_custkey").orderBy("yr")
    paired = (
        per_year.select(
            "o_custkey",
            "yr",
            F.col("express").alias("e1"),
            F.col("standard").alias("s1"),
            F.lead("express", 1).over(w).alias("e2"),
            F.lead("standard", 1).over(w).alias("s2"),
            F.lead("yr", 1).over(w).alias("next_yr"),
        )
        .filter(
            (F.col("yr") == 1996)
            & (F.col("next_yr") == 1997)
            & (F.col("e1") > 0)
            & (F.col("s1") > 0)
            & (F.col("e2") > 0)
            & (F.col("s2") > 0)
        )
    )
    return paired.filter(
        F.col("e2") * F.col("s1") > F.col("e1") * F.col("s2")
    ).agg(
        F.count(F.lit(1)).alias("n_shifted"),
        F.min("o_custkey").cast("bigint").alias("first_cust"),
        F.max("o_custkey").cast("bigint").alias("last_cust"),
    )


# --------------------------------------------------------------------------
# q85 shape — conditional averages over join-side attribute bands
# --------------------------------------------------------------------------
@register(
    "tpcds_acctbal_band_priority",
    oracle="""
SELECT o_orderpriority,
       CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_negative,
       CAST(sum(CASE WHEN c_acctbal >= 0 AND c_acctbal < 5000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       CAST(sum(CASE WHEN c_acctbal >= 5000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_high,
       round(CAST(sum(CASE WHEN c_acctbal >= 5000
                           THEN CAST(o_totalprice AS DECIMAL(18,2))
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / greatest(sum(CASE WHEN c_acctbal >= 5000 THEN 1 ELSE 0 END),
                        1), 4) AS high_band_avg_order
FROM orders
JOIN customer ON o_custkey = c_custkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("tpcds", "conditional", "bands", "join"),
)
def tpcds_acctbal_band_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS q85 shape: counts and a conditional average over bands
    of a JOIN-side attribute (customer account balance), grouped by a
    fact attribute (order priority).  One broadcast join, one
    exchange; the band average is exact-decimal sum over integer
    count (guarded by greatest(n,1) on both engines so an empty band
    yields 0, not null/NaN)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    zero = F.lit(0).cast("decimal(18,2)")
    n_high = F.sum(F.when(F.col("c_acctbal") >= 5000, 1).otherwise(0))
    high_sum = F.sum(
        F.when(F.col("c_acctbal") >= 5000, _dec("o_totalprice")).otherwise(
            zero
        )
    )
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0))
            .cast("long")
            .alias("n_negative"),
            F.sum(
                F.when(
                    (F.col("c_acctbal") >= 0) & (F.col("c_acctbal") < 5000),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_low"),
            n_high.cast("long").alias("n_high"),
            F.round(
                high_sum.cast("double") / F.greatest(n_high, F.lit(1)), 4
            ).alias("high_band_avg_order"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q28 shape — distinct-count/avg bands from one scan (multi-distinct)
# --------------------------------------------------------------------------
@register(
    "tpcds_price_band_distincts",
    oracle="""
SELECT
  CAST(count(DISTINCT CASE WHEN l_quantity <= 10 THEN l_extendedprice END)
       AS BIGINT) AS d_low,
  CAST(count(DISTINCT CASE WHEN l_quantity > 10 AND l_quantity <= 30
                           THEN l_extendedprice END) AS BIGINT) AS d_mid,
  CAST(count(DISTINCT CASE WHEN l_quantity > 30 THEN l_extendedprice END)
       AS BIGINT) AS d_high,
  CAST(count(CASE WHEN l_quantity <= 10 THEN 1 END) AS BIGINT) AS n_low,
  CAST(count(CASE WHEN l_quantity > 10 AND l_quantity <= 30 THEN 1 END)
       AS BIGINT) AS n_mid,
  CAST(count(CASE WHEN l_quantity > 30 THEN 1 END) AS BIGINT) AS n_high
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
""",
    tags=("tpcds", "multi-distinct", "expand"),
)
def tpcds_price_band_distincts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q28 shape: several DISTINCT aggregates over different
    predicates of the SAME scan.  The literal q28 cross-joins six
    scalar subqueries — six fact scans; conditional distinct-counts
    collapse it to ONE scan.  Multiple count(DISTINCT expr) with
    different arguments forces Catalyst's Expand-based multi-distinct
    rewrite (each row replicated per distinct group with a gid) — the
    one aggregate plan shape nothing else in the inventory pins; at
    scale it trades a xN row blowup inside the exchange for
    single-pass semantics, which is the right trade when the scan
    (not the shuffle) is the expensive side."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
    )
    low = F.col("l_quantity") <= 10
    mid = (F.col("l_quantity") > 10) & (F.col("l_quantity") <= 30)
    high = F.col("l_quantity") > 30
    band = lambda c: F.when(c, F.col("l_extendedprice"))
    return li.agg(
        F.count_distinct(band(low)).alias("d_low"),
        F.count_distinct(band(mid)).alias("d_mid"),
        F.count_distinct(band(high)).alias("d_high"),
        F.count(F.when(low, 1)).alias("n_low"),
        F.count(F.when(mid, 1)).alias("n_mid"),
        F.count(F.when(high, 1)).alias("n_high"),
    )


# --------------------------------------------------------------------------
# q39 shape — demand-variability outliers from exact integer moments
# --------------------------------------------------------------------------
@register(
    "tpcds_demand_variability",
    oracle="""
WITH moments AS (
  SELECT l_partkey,
         CAST(year(l_shipdate) AS INT) AS yr,
         CAST(quarter(l_shipdate) AS INT) AS qtr,
         count(*) AS n,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
         CAST(sum(CAST(l_quantity AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1, 2, 3
  HAVING count(*) >= 4
)
SELECT l_partkey, qtr, CAST(n AS BIGINT) AS n,
       round(CAST(s1 AS DOUBLE) / n, 4) AS mean_qty,
       round((CAST(s2 AS DOUBLE) * n - CAST(s1 AS DOUBLE) * s1)
             / (CAST(n AS DOUBLE) * n), 4) AS pop_variance
FROM moments
WHERE (CAST(s2 AS DOUBLE) * n - CAST(s1 AS DOUBLE) * s1)
      > CAST(s1 AS DOUBLE) * s1
ORDER BY l_partkey, qtr
""",
    tags=("tpcds", "statistics", "variance", "outlier"),
)
def tpcds_demand_variability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q39 shape: items whose per-period demand variability is
    high (coefficient of variation > 1, i.e. variance > mean²).

    Determinism note: engine stddev/var aggregates accumulate doubles
    in engine-specific merge orders — their low bits differ between
    Spark and DuckDB (and between partition layouts).  The rebuild
    computes variance from EXACT integer moments (n, Σq, Σq²: 64-bit
    sums of integer quantities) and derives pop_variance =
    (n·Σq² − (Σq)²)/n², with the CV>1 predicate cross-multiplied so
    the filter compares exact products — variance as data, not as an
    accumulator artifact.  One exchange, |part×quarter| output."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
    )
    q = F.col("l_quantity").cast("long")
    moments = (
        li.groupBy(
            "l_partkey",
            F.year("l_shipdate").cast("int").alias("yr"),
            F.quarter("l_shipdate").cast("int").alias("qtr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(q).alias("s1"),
            F.sum(q * q).alias("s2"),
        )
        .filter(F.col("n") >= 4)
    )
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    return (
        moments.filter(s2 * F.col("n") - s1 * F.col("s1") > s1 * F.col("s1"))
        .select(
            "l_partkey",
            "qtr",
            F.col("n").cast("bigint").alias("n"),
            F.round(s1 / n, 4).alias("mean_qty"),
            F.round((s2 * F.col("n") - s1 * F.col("s1")) / (n * n), 4).alias(
                "pop_variance"
            ),
        )
        .orderBy("l_partkey", "qtr")
    )


# --------------------------------------------------------------------------
# q44 shape — best and worst performers from one aggregate
# --------------------------------------------------------------------------
@register(
    "tpcds_best_worst_performers",
    oracle=f"""
WITH per_supp AS (
  SELECT l_suppkey, sum({SQL_REV}) AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-07-01 00:00:00'
  GROUP BY l_suppkey
),
ranked AS (
  SELECT l_suppkey, rev,
         row_number() OVER (ORDER BY rev DESC, l_suppkey) AS rk_best,
         row_number() OVER (ORDER BY rev ASC,  l_suppkey) AS rk_worst
  FROM per_supp
)
SELECT 'BEST' AS side, CAST(rk_best AS BIGINT) AS rk, s_name,
       CAST(round(rev, 2) AS DOUBLE) AS rev
FROM ranked JOIN supplier ON l_suppkey = s_suppkey
WHERE rk_best <= 10
UNION ALL
SELECT 'WORST' AS side, CAST(rk_worst AS BIGINT) AS rk, s_name,
       CAST(round(rev, 2) AS DOUBLE) AS rev
FROM ranked JOIN supplier ON l_suppkey = s_suppkey
WHERE rk_worst <= 10
ORDER BY side, rk
""",
    tags=("tpcds", "window", "rank", "union"),
)
def tpcds_best_worst_performers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS q44 shape: the top-10 AND bottom-10 performers from the
    SAME aggregate — two row_number windows (opposite orders) computed
    in one pass over the per-supplier rollup, then both rank filters
    taken from that single windowed relation before a unionByName.
    row_number (not rank) with the key as tiebreak makes both lists
    exactly 10 deterministic rows.  Scale: one fact exchange to
    |suppliers|; both windows are unpartitioned but run over the
    aggregate (WindowGroupLimit prunes each to its top-10 before the
    name join, which broadcasts)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1998-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-07-01 00:00:00"))
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    per_supp = li.groupBy("l_suppkey").agg(F.sum(_drev()).alias("rev"))
    ranked = per_supp.select(
        "l_suppkey",
        "rev",
        F.row_number()
        .over(Window.orderBy(F.col("rev").desc(), F.col("l_suppkey")))
        .cast("long")
        .alias("rk_best"),
        F.row_number()
        .over(Window.orderBy(F.col("rev").asc(), F.col("l_suppkey")))
        .cast("long")
        .alias("rk_worst"),
    )
    named = ranked.join(
        _dim_hint(supp, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey")
    )
    best = named.filter(F.col("rk_best") <= 10).select(
        F.lit("BEST").alias("side"),
        F.col("rk_best").alias("rk"),
        "s_name",
        _money(F.col("rev")).alias("rev"),
    )
    worst = named.filter(F.col("rk_worst") <= 10).select(
        F.lit("WORST").alias("side"),
        F.col("rk_worst").alias("rk"),
        "s_name",
        _money(F.col("rev")).alias("rev"),
    )
    return best.unionByName(worst).orderBy("side", "rk")


# --------------------------------------------------------------------------
# q75 shape — YoY decline by brand, returns netted out
# --------------------------------------------------------------------------
@register(
    "tpcds_yoy_decline_net_returns",
    oracle=f"""
WITH yearly AS (
  SELECT p_brand,
         CAST(year(l_shipdate) AS INT) AS yr,
         sum(CASE WHEN l_returnflag <> 'R' THEN {SQL_REV}
                  ELSE CAST(0 AS DECIMAL(18,2)) END)
           - sum(CASE WHEN l_returnflag = 'R' THEN {SQL_REV}
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS net
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1, 2
)
SELECT a.p_brand,
       CAST(round(a.net, 2) AS DOUBLE) AS net_prev,
       CAST(round(b.net, 2) AS DOUBLE) AS net_curr,
       CAST(round(b.net - a.net, 2) AS DOUBLE) AS delta
FROM yearly a JOIN yearly b
  ON a.p_brand = b.p_brand AND a.yr = 1996 AND b.yr = 1997
WHERE b.net < a.net
ORDER BY delta, a.p_brand
""",
    tags=("tpcds", "yoy", "netting", "decline"),
)
def tpcds_yoy_decline_net_returns(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS q75 shape: brands whose RETURN-NETTED revenue declined
    year-over-year, ordered by the decline.  Composes the q80 netting
    trick (sales and returns as conditional sums of one pass — q75's
    literal spelling joins a returns table per channel) with the
    q11/q74 year pairing (lead() per brand instead of the aggregate
    self-join).  Exact decimal throughout; the decline filter and the
    sort key are decimal subtractions, so order is data-determined."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    zero = F.lit(0).cast("decimal(18,2)")
    net = F.sum(
        F.when(F.col("l_returnflag") != "R", _drev()).otherwise(zero)
    ) - F.sum(F.when(F.col("l_returnflag") == "R", _drev()).otherwise(zero))
    yearly = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", F.year("l_shipdate").cast("int").alias("yr"))
        .agg(net.alias("net"))
    )
    w = Window.partitionBy("p_brand").orderBy("yr")
    paired = yearly.select(
        "p_brand",
        "yr",
        F.col("net").alias("net_prev_dec"),
        F.lead("net", 1).over(w).alias("net_curr_dec"),
        F.lead("yr", 1).over(w).alias("next_yr"),
    ).filter(
        (F.col("yr") == 1996)
        & (F.col("next_yr") == 1997)
        & (F.col("net_curr_dec") < F.col("net_prev_dec"))
    )
    return paired.select(
        "p_brand",
        _money(F.col("net_prev_dec")).alias("net_prev"),
        _money(F.col("net_curr_dec")).alias("net_curr"),
        _money(F.col("net_curr_dec") - F.col("net_prev_dec")).alias("delta"),
    ).orderBy("delta", "p_brand")


# --------------------------------------------------------------------------
# q33/q56/q60 shape — per-item revenue unioned across channels, top-k
# --------------------------------------------------------------------------
@register(
    "tpcds_union_channel_item_topk",
    oracle=f"""
WITH leg1 AS (
  SELECT l_partkey, sum({SQL_REV}) AS rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority = '1-URGENT' GROUP BY l_partkey
),
leg2 AS (
  SELECT l_partkey, sum({SQL_REV}) AS rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority = '2-HIGH' GROUP BY l_partkey
),
leg3 AS (
  SELECT l_partkey, sum({SQL_REV}) AS rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority = '5-LOW' GROUP BY l_partkey
),
u AS (SELECT * FROM leg1 UNION ALL SELECT * FROM leg2
      UNION ALL SELECT * FROM leg3)
SELECT l_partkey, CAST(round(sum(rev), 2) AS DOUBLE) AS total_rev
FROM u GROUP BY l_partkey
ORDER BY total_rev DESC, l_partkey
LIMIT 20
""",
    tags=("tpcds", "union", "reaggregate", "topk"),
)
def tpcds_union_channel_item_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS q33/q56/q60 shape: per-item revenue computed per channel
    leg, the legs UNION ALL'd, re-aggregated per item, top-k.  In real
    q33 the legs scan DIFFERENT fact tables (store/catalog/web), so
    union-of-aggregates IS the single-pass plan; here the three legs
    are priority classes of one fact, and the honest scale note is
    that same-fact legs should instead be ONE conditional aggregate —
    this query keeps the union shape because that is the operator
    composition the reference is benchmarked on (aggregate → union →
    re-aggregate → TakeOrderedAndProject), with each leg aggregating
    BEFORE the union so the unioned relation is |parts|-sized, never
    fact-sized."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )

    def leg(prio: str) -> DataFrame:
        return (
            li.join(
                orders.filter(F.col("o_orderpriority") == prio),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("l_partkey")
            .agg(F.sum(_drev()).alias("rev"))
        )

    u = leg("1-URGENT").unionByName(leg("2-HIGH")).unionByName(leg("5-LOW"))
    return (
        u.groupBy("l_partkey")
        .agg(_money(F.sum("rev")).alias("total_rev"))
        .orderBy(F.col("total_rev").desc(), "l_partkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q46/q68 shape — orders where most lines ship from a foreign nation
# --------------------------------------------------------------------------
@register(
    "tpcds_cross_nation_orders",
    oracle=f"""
WITH lines AS (
  SELECT o.o_orderkey, o.o_custkey,
         CASE WHEN s.s_nationkey <> c.c_nationkey THEN 1 ELSE 0 END
           AS is_foreign,
         {SQL_REV} AS rev
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
),
per_order AS (
  SELECT o_orderkey, o_custkey,
         CAST(sum(is_foreign) AS BIGINT) AS n_foreign,
         count(*) AS n_lines,
         sum(CASE WHEN is_foreign = 1 THEN rev
                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS foreign_rev
  FROM lines GROUP BY o_orderkey, o_custkey
)
SELECT o_orderkey, o_custkey, n_foreign, n_lines,
       CAST(round(foreign_rev, 2) AS DOUBLE) AS foreign_rev
FROM per_order
WHERE 2 * n_foreign > n_lines
ORDER BY foreign_rev DESC, o_orderkey
LIMIT 25
""",
    tags=("tpcds", "dimension-mismatch", "majority", "topk"),
)
def tpcds_cross_nation_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q46/q68 shape: orders whose lines MOSTLY involve a
    dimension-attribute mismatch (supplier nation ≠ customer nation —
    the analogue of q46's 'bought in a different city than home').
    The mismatch flag is computed per line from two broadcast
    dimensions, rolled up per order, and the majority test is the
    cross-multiplied count comparison (2·foreign > lines).  One fact
    exchange (the per-order rollup); TakeOrderedAndProject bounds the
    output."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = _t(spark, sf_dir, "lineitem")
    zero = F.lit(0).cast("decimal(18,2)")
    is_foreign = F.when(
        F.col("s_nationkey") != F.col("c_nationkey"), 1
    ).otherwise(0)
    lines = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "o_orderkey",
            "o_custkey",
            is_foreign.alias("is_foreign"),
            _drev().alias("rev"),
        )
    )
    per_order = lines.groupBy("o_orderkey", "o_custkey").agg(
        F.sum("is_foreign").cast("long").alias("n_foreign"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.when(F.col("is_foreign") == 1, F.col("rev")).otherwise(zero)
        ).alias("foreign_rev_dec"),
    )
    return (
        per_order.filter(2 * F.col("n_foreign") > F.col("n_lines"))
        .select(
            "o_orderkey",
            "o_custkey",
            "n_foreign",
            "n_lines",
            _money(F.col("foreign_rev_dec")).alias("foreign_rev"),
        )
        .orderBy(F.col("foreign_rev").desc(), "o_orderkey")
        .limit(25)
    )


# --------------------------------------------------------------------------
# q79 shape — each customer's single best order
# --------------------------------------------------------------------------
@register(
    "tpcds_best_visit_per_customer",
    oracle=f"""
WITH per_order AS (
  SELECT o_custkey, o_orderkey, sum({SQL_REV}) AS rev
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-07-01 00:00:00'
  GROUP BY o_custkey, o_orderkey
),
best AS (
  SELECT o_custkey, o_orderkey, rev,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY rev DESC, o_orderkey) AS rn
  FROM per_order
)
SELECT c_name, o_orderkey,
       CAST(round(rev, 2) AS DOUBLE) AS best_rev
FROM best JOIN customer ON o_custkey = c_custkey
WHERE rn = 1
ORDER BY best_rev DESC, o_orderkey
LIMIT 30
""",
    tags=("tpcds", "window", "per-group-best", "topk"),
)
def tpcds_best_visit_per_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS q79 shape: each customer's single highest-revenue order
    (per-group argmax over a per-order aggregate), then a global
    top-30 of those bests.  Two-level reduction: the per-order rollup
    shares its o_custkey-compatible exchange with the per-customer
    window (WindowGroupLimit prunes to 1 row per customer before the
    broadcast name join), and only |customers| rows reach the final
    TakeOrdered."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1998-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1998-07-01 00:00:00"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    per_order = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey", "o_orderkey")
        .agg(F.sum(_drev()).alias("rev"))
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("rev").desc(), F.col("o_orderkey")
    )
    best = per_order.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return (
        best.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "o_orderkey", _money(F.col("rev")).alias("best_rev"))
        .orderBy(F.col("best_rev").desc(), "o_orderkey")
        .limit(30)
    )


# --------------------------------------------------------------------------
# q37/q82 shape — dimension band filter + fact-activity semi join
# --------------------------------------------------------------------------
@register(
    "tpcds_active_part_band",
    oracle="""
SELECT p_brand, p_type, p_size,
       CAST(round(CAST(p_retailprice AS DECIMAL(18,2)), 2) AS DOUBLE)
         AS p_retailprice
FROM part
WHERE p_retailprice BETWEEN 905 AND 960
  AND p_size IN (5, 10, 15, 20, 25, 30)
  AND p_partkey IN (
    SELECT l_partkey FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00')
ORDER BY p_brand, p_type, p_size, p_retailprice
""",
    tags=("tpcds", "semi-join", "band", "pushdown"),
)
def tpcds_active_part_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q37/q82 shape: a dimension report — parts in a price
    band and size set that saw fact activity in a window.  The band
    and the IN-set are scan-pushed dimension predicates; the activity
    test is a LeftSemi against the window's distinct partkeys.  Join
    direction matters at scale: the (filtered, small) dimension is the
    probe side and the fact is reduced to a key set BEFORE the join —
    never dimension-broadcast-into-fact followed by a distinct over
    fact-sized output."""
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_retailprice").between(905, 960)
        & F.col("p_size").isin(5, 10, 15, 20, 25, 30)
    )
    active = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _ts("1998-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1998-04-01 00:00:00"))
        )
        .select("l_partkey")
    )
    return (
        part.join(active, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .select(
            "p_brand",
            "p_type",
            "p_size",
            F.round(_dec("p_retailprice"), 2)
            .cast("double")
            .alias("p_retailprice"),
        )
        .orderBy("p_brand", "p_type", "p_size", "p_retailprice")
    )
