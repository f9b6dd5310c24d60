"""Relational operator coverage: set ops, expand (rollup/cube/grouping
sets), explode, pivot, limit/offset, outer/cross joins, local scans.

Maps to SURVEY.md §2.1 rows: Union (#20), Expand (#13 — ROLLUP/CUBE/
GROUPING SETS arrive via Catalyst's Expand), Explode (#14), Limit with
offset (#10), HashJoin types (#15), LocalTableScan (#6),
TakeOrderedAndProject (#23).  INTERSECT/EXCEPT/DISTINCT are lowered by
Catalyst to joins/aggregates exactly as the reference receives them
(SURVEY.md §2.1 "Set operations").
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import register
from ._shared import _t


# --------------------------------------------------------------------------
# UNION ALL  (operator #20)
# --------------------------------------------------------------------------
@register(
    "setop_union_all",
    oracle="""
SELECT o_orderstatus, count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total
FROM (
  SELECT o_orderstatus, o_totalprice FROM orders WHERE o_totalprice > 400000
  UNION ALL
  SELECT o_orderstatus, o_totalprice FROM orders
  WHERE o_orderpriority = '1-URGENT'
) u
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    tags=("relational", "setop"),
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two filtered projections, then aggregate."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_totalprice") > 400000).select(
        "o_orderstatus", "o_totalprice"
    )
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderstatus", "o_totalprice"
    )
    return (
        a.union(b)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "setop_union_by_name",
    oracle="""
SELECT c_mktsegment, count(*) AS n
FROM (
  SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 9000
  UNION ALL
  SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal < -900
) u
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    tags=("relational", "setop"),
)
def setop_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName across differently-ordered projections."""
    cust = _t(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_acctbal") > 9000).select("c_custkey", "c_mktsegment")
    b = cust.filter(F.col("c_acctbal") < -900).select("c_mktsegment", "c_custkey")
    return (
        a.unionByName(b)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# INTERSECT / EXCEPT / DISTINCT  (Catalyst lowers to joins/aggregates)
# --------------------------------------------------------------------------
@register(
    "setop_intersect",
    oracle="""
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000
ORDER BY c_custkey
""",
    tags=("relational", "setop"),
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) — lowered to a left-semi join + distinct."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = orders.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return a.intersect(b).orderBy("c_custkey")


@register(
    "setop_except",
    oracle="""
SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
EXCEPT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
ORDER BY c_custkey
""",
    tags=("relational", "setop"),
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — lowered to a left-anti join + distinct.
    (Predicates chosen so the difference is non-empty at every test
    scale — every synthetic customer has at least one order, so the
    subtracted side is the 'F'-status subset.)"""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return a.subtract(b).orderBy("c_custkey")


@register(
    "setop_except_all",
    oracle="""
SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
EXCEPT ALL
SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
  AND c_acctbal > 5000
ORDER BY c_nationkey
""",
    tags=("relational", "setop"),
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — multiset difference preserving multiplicity."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "MACHINERY"
    )
    a = cust.select("c_nationkey")
    b = cust.filter(F.col("c_acctbal") > 5000).select("c_nationkey")
    return a.exceptAll(b).orderBy("c_nationkey")


@register(
    "setop_intersect_all",
    oracle="""
SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
INTERSECT ALL
SELECT l_suppkey FROM lineitem WHERE l_linestatus = 'F'
ORDER BY l_suppkey
""",
    tags=("relational", "setop"),
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiset intersection."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_suppkey")
    b = li.filter(F.col("l_linestatus") == "F").select("l_suppkey")
    return a.intersectAll(b).orderBy("l_suppkey")


@register(
    "distinct_flags",
    oracle="""
SELECT DISTINCT l_returnflag, l_linestatus
FROM lineitem
ORDER BY l_returnflag, l_linestatus
""",
    tags=("relational", "distinct"),
)
def distinct_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT — lowered to a hash aggregate on all columns."""
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Expand: ROLLUP / CUBE / GROUPING SETS  (operator #13)
# --------------------------------------------------------------------------
@register(
    "expand_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
         AS gid,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus
""",
    tags=("relational", "expand"),
)
def expand_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP — Catalyst plans the reference's Expand operator
    (reference: operator.proto:346-349, operators.scala:1143-1207)."""
    li = _t(spark, sf_dir, "lineitem")
    gid = (
        F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")
    ).cast("long")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            gid.alias("gid"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


@register(
    "expand_cube",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
         AS gid,
       count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY gid, o_orderstatus, o_orderpriority
""",
    tags=("relational", "expand"),
)
def expand_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions."""
    orders = _t(spark, sf_dir, "orders")
    gid = (
        F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")
    ).cast("long")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            gid.alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total"),
        )
        .orderBy("gid", "o_orderstatus", "o_orderpriority")
    )


@register(
    "expand_grouping_sets",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
    tags=("relational", "expand", "sql"),
)
def expand_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL API (same Catalyst Expand plan)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """
    )


# --------------------------------------------------------------------------
# Explode / posexplode  (operator #14, GenerateExec)
# --------------------------------------------------------------------------
@register(
    "explode_tokens",
    oracle="""
SELECT token, count(*) AS n
FROM (
  SELECT unnest(str_split(text, ' ')) AS token
  FROM documents WHERE doc_id < 100
) t
GROUP BY token
ORDER BY n DESC, token
LIMIT 20
""",
    tags=("relational", "explode"),
)
def explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode(split(...)) — unnest an array column, count tokens.

    Reference explodes arrays via ProjectionExec + UnnestExec
    (reference: planner.rs:1625-1737)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


@register(
    "posexplode_tokens",
    oracle="""
SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS token
FROM (SELECT doc_id, str_split(text, ' ') AS toks
      FROM documents WHERE doc_id < 5) t,
     UNNEST(range(1, len(toks) + 1)) AS u(i)
ORDER BY doc_id, pos
""",
    tags=("relational", "explode"),
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode — explode with element position."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 5)
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    ).orderBy("doc_id", "pos")


# --------------------------------------------------------------------------
# Pivot
# --------------------------------------------------------------------------
@register(
    "pivot_linestatus",
    oracle="""
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F",
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O"
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("relational", "pivot"),
)
def pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (absent from the reference IR — Spark-native bonus;
    SURVEY.md §2.1 'Missing from the reference')."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Limit / Offset  (operator #10 — Limit with offset)
# --------------------------------------------------------------------------
@register(
    "limit_offset_orders",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_orderkey
LIMIT 20 OFFSET 10
""",
    tags=("relational", "limit"),
)
def limit_offset_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted LIMIT ... OFFSET — reference Limit carries both fields
    (reference: operator.proto:296-299)."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(10)
        .limit(20)
    )


# --------------------------------------------------------------------------
# Outer / cross joins  (operator #15 join types)
# --------------------------------------------------------------------------
@register(
    "join_right_outer",
    oracle="""
SELECT c_mktsegment,
       count(*) AS n_rows,
       count(o_orderkey) AS n_orders
FROM orders
RIGHT OUTER JOIN customer ON o_custkey = c_custkey AND o_totalprice > 450000
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    tags=("relational", "join"),
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join with an extra join-side predicate."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (orders.o_totalprice > 450000),
            "right_outer",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_orderkey").alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "join_full_outer",
    oracle="""
SELECT coalesce(a.k, b.k) AS nationkey,
       a.n_cust, b.n_supp
FROM (SELECT c_nationkey AS k, count(*) AS n_cust
      FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey) a
FULL OUTER JOIN
     (SELECT s_nationkey AS k, count(*) AS n_supp
      FROM supplier WHERE s_acctbal > 8000 GROUP BY s_nationkey) b
  ON a.k = b.k
ORDER BY nationkey
""",
    tags=("relational", "join"),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates with disjoint key coverage."""
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    a = (
        cust.filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("ak"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    b = (
        supp.filter(F.col("s_acctbal") > 8000)
        .groupBy(F.col("s_nationkey").alias("bk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        a.join(b, a.ak == b.bk, "full_outer")
        .select(
            F.coalesce("ak", "bk").alias("nationkey"), "n_cust", "n_supp"
        )
        .orderBy("nationkey")
    )


@register(
    "join_cross",
    oracle="""
SELECT r_name, n_name
FROM region CROSS JOIN nation
ORDER BY r_name, n_name
""",
    tags=("relational", "join"),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS join (Spark-native; the reference falls back for
    cartesian products — SURVEY.md §2.1 'Missing from the reference')."""
    region = _t(spark, sf_dir, "region").select("r_name")
    nation = _t(spark, sf_dir, "nation").select("n_name")
    return region.crossJoin(nation).orderBy("r_name", "n_name")


# --------------------------------------------------------------------------
# LocalTableScan  (operator #6)
# --------------------------------------------------------------------------
@register(
    "local_table_scan",
    oracle="""
SELECT v.r_name, count(*) AS n_nations
FROM (VALUES ('ASIA'), ('EUROPE'), ('AFRICA')) v(r_name)
JOIN region ON region.r_name = v.r_name
JOIN nation ON n_regionkey = r_regionkey
GROUP BY v.r_name
ORDER BY v.r_name
""",
    tags=("relational", "scan"),
)
def local_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-memory rows (LocalTableScan, reference:
    spark/sql/comet/CometLocalTableScanExec.scala:107) joined against
    parquet tables."""
    wanted = spark.createDataFrame(
        [("ASIA",), ("EUROPE",), ("AFRICA",)], ["r_name"]
    )
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    return (
        F.broadcast(wanted)
        .join(region, wanted.r_name == region.r_name)
        .join(nation, nation.n_regionkey == region.r_regionkey)
        .groupBy(wanted.r_name)
        .agg(F.count(F.lit(1)).alias("n_nations"))
        .orderBy(wanted.r_name)
    )


# --------------------------------------------------------------------------
# Range partitioning  (reference ShuffleWriter RangePartitioning,
#  native/proto/src/proto/partitioning.proto:29-60)
# --------------------------------------------------------------------------
@register(
    "shuffle_range_partition",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_orderkey % 97 = 0
ORDER BY o_totalprice, o_orderkey
""",
    tags=("relational", "shuffle", "range-partition"),
)
def shuffle_range_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned shuffle + partition-local sort == total order
    (the distributed-sort decomposition a 100 TB ORDER BY uses: sample
    → range boundaries → shuffle → sort within partition, no single
    merge point).  The oracle checks the total order end-to-end."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    return (
        orders.select("o_orderkey", "o_totalprice")
        .repartitionByRange(8, "o_totalprice", "o_orderkey")
        .sortWithinPartitions("o_totalprice", "o_orderkey")
        # the final orderBy is a no-op re-statement for the oracle's
        # deterministic row order; AQE sees the child already range
        # partitioned + sorted, so it costs nothing extra
        .orderBy("o_totalprice", "o_orderkey")
    )


# --------------------------------------------------------------------------
# Skew-salted join  (the manual skew-mitigation pattern; AQE's
#  skewJoin does this adaptively — session.py enables it)
# --------------------------------------------------------------------------
N_SALT = 8


@register(
    "join_skew_salted",
    oracle="""
SELECT e.event_type, count(*) AS n, round(CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events e
JOIN (SELECT DISTINCT event_type FROM events WHERE event_type <> 'view') t
  ON e.event_type = t.event_type
GROUP BY e.event_type
ORDER BY e.event_type
""",
    tags=("relational", "join", "skew", "salt"),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join on a low-cardinality (maximally skewed) key:
    the probe side appends salt = pmod(hash(row), N) to its key, the
    build side explodes ×N with every salt value, and the join key
    becomes (key, salt) — fanning each hot key across N reducers.
    Values are identical to the unsalted join, which the oracle
    checks.  (At scale, prefer AQE skew-join for sort-merge paths;
    salting is the explicit fallback when a hot key exceeds what
    split-and-replicate can handle.)"""
    ev = _t(spark, sf_dir, "events")
    dim = (
        ev.filter(F.col("event_type") != "view")
        .select("event_type")
        .distinct()
    )
    salted_probe = ev.withColumn(
        "salt", F.pmod(F.hash("event_id"), F.lit(N_SALT))
    )
    salted_build = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALT)]))
    )
    return (
        salted_probe.join(salted_build, ["event_type", "salt"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# grouping() / grouping_id()  (Expand metadata — reference Expand
#  operator.proto:346-349 backs these)
# --------------------------------------------------------------------------
@register(
    "expand_grouping_flags",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       grouping(o_orderstatus) AS g_status,
       grouping(o_orderpriority) AS g_prio,
       count(*) AS n
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority
""",
    tags=("relational", "expand", "grouping"),
)
def expand_grouping_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping() flags over ROLLUP — distinguishes 'NULL because
    aggregated away' from data NULLs in the Expand output."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("g_status", "g_prio", "o_orderstatus", "o_orderpriority")
    )


# --------------------------------------------------------------------------
# Explicit sort-merge join  (reference SortMergeJoin operator,
#  operator.proto:371-377 / planner.rs:1738-1803)
# --------------------------------------------------------------------------
@register(
    "join_sort_merge",
    oracle="""
SELECT c.c_mktsegment,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
""",
    tags=("relational", "join", "sort-merge"),
)
def join_sort_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact equi-join pinned to SortMergeJoin via the MERGE
    hint — the shape used when BOTH sides are too large to broadcast
    or hash-build (the 100 TB fact-fact case): shuffle on the key,
    sort each side, streaming merge with spill-safe memory use.
    Values identical to any other join strategy, which the oracle
    checks; its plan golden pins the SortMergeJoin."""
    cust = _t(spark, sf_dir, "customer").hint("merge")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Unpivot / melt  (inverse of pivot — Spark-native bonus, like pivot
# absent from the reference IR; Catalyst lowers it to an Expand, the
# same operator backing rollup/cube — reference: operator.proto:346-349)
# --------------------------------------------------------------------------
@register(
    "unpivot_charges",
    oracle="""
SELECT l_orderkey, l_linenumber, charge, round(amount, 2) AS amount
FROM (
  SELECT l_orderkey, l_linenumber, 'extended' AS charge, l_extendedprice AS amount
  FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
) u
WHERE l_orderkey <= 100
ORDER BY l_orderkey, l_linenumber, charge
""",
    tags=("relational", "unpivot"),
)
def unpivot_charges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot of the lineitem charge columns.  At scale the
    Expand multiplies rows ×3 BEFORE the exchange, so the filter is
    pushed below it into the scan (plan shows PushedFilters on
    l_orderkey) — row explosion never crosses the shuffle."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    return (
        li.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_extendedprice", "l_discount", "l_tax"],
            "charge",
            "amount",
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.when(F.col("charge") == "l_extendedprice", "extended")
            .when(F.col("charge") == "l_discount", "discount")
            .otherwise("tax")
            .alias("charge"),
            F.round(F.col("amount").cast("decimal(18,4)"), 2)
            .cast("double")
            .alias("amount"),
        )
        .orderBy("l_orderkey", "l_linenumber", "charge")
    )


# --------------------------------------------------------------------------
# Bucketed co-located join  (the 100 TB fact-fact pattern: both sides
# pre-bucketed on the join key, so the join needs NO exchange at all —
# the payoff the reference's native shuffle only reduces the cost of,
# bucketing removes entirely; reference shuffle:
# native/shuffle/src/shuffle_writer.rs, operator.proto:308-318)
# --------------------------------------------------------------------------
@register(
    "join_bucketed_colocated",
    oracle="""
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    tags=("relational", "join", "bucketing"),
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write both join sides as bucketed+sorted tables on the join key,
    then sort-merge join them: with equal bucket counts the join reads
    bucket i against bucket i — zero shuffle, zero sort (one file per
    bucket because the writer pre-partitions with the same hash the
    bucketing uses).  At 100 TB this is how repeatedly-joined fact
    tables are laid out so the shuffle is paid once at write time, not
    per query; the plan test asserts the join subtree has no Exchange."""
    from ..sources import scratch_dir

    n_buckets = 8
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    for name, df, key in (
        ("dcs_orders_bkt", orders, "o_custkey"),
        ("dcs_cust_bkt", cust, "c_custkey"),
    ):
        (
            df.repartition(n_buckets, key)
            .write.mode("overwrite")
            .option("path", scratch_dir(sf_dir, name))
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )
    o = spark.table("dcs_orders_bkt")
    c = spark.table("dcs_cust_bkt").hint("merge")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "generator_inline",
    oracle="""
SELECT doc_id, (u).tok AS tok, (u).len AS len
FROM (
  SELECT doc_id,
         unnest(list_transform(str_split(text, ' '),
                t -> {'tok': t, 'len': CAST(length(t) AS INT)})) AS u
  FROM documents WHERE doc_id < 5
)
ORDER BY doc_id, tok, len
""",
    tags=("relational", "explode"),
)
def generator_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inline() — explode an array<struct> into one row per struct
    with the struct fields as columns.  The reference's Explode
    operator handles explode only; posexplode/inline fall back to
    Spark (reference: docs/.../operators.md:33,
    operator.proto:351-358).  Here the struct array is built inline
    with a transform lambda, so the whole generator pipeline is a
    single codegen'd Project + Generate — no shuffle at all."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 5)
    return (
        docs.select(
            "doc_id",
            F.inline(
                F.transform(
                    F.split("text", " "),
                    lambda t: F.struct(
                        t.alias("tok"), F.length(t).alias("len")
                    ),
                )
            ),
        )
        .orderBy("doc_id", "tok", "len")
    )


@register(
    "udtf_lateral_tokenize",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT first_tok) AS BIGINT) AS n_distinct_first,
       CAST(sum(CASE WHEN first_tok IN
                ('the','a','of','and','to','in','is','on','for','with')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_first
FROM (SELECT lang, str_split(lower(text), ' ')[1] AS first_tok
      FROM documents WHERE text IS NOT NULL) t
GROUP BY lang
ORDER BY lang
""",
    tags=("relational", "udtf", "generator", "lateral"),
)
def udtf_lateral_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF in a LATERAL join (Spark 4 user-defined table
    function) — the generator shape for per-row expansion logic too
    imperative for explode/inline (custom tokenizers, parsers,
    chunkers).  The reference has no UDTF surface at all; its only
    generator is Explode (operator.proto:351-358).  The UDTF yields
    (pos, token) per document; the query keeps pos=0 and rolls up
    first-token stats per language.

    Scale: a UDTF runs row-at-a-time in a Python worker — strictly the
    slow path (SURVEY §2.5); it earns its place only when the expansion
    is genuinely imperative.  The plan is still embarrassingly
    parallel: Generate runs partition-local before the one rollup
    shuffle, and the oracle's array-index formulation is what we'd
    write instead whenever the logic fits an array lambda."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, tok string")
    class Tokenize:
        def eval(self, text: str):
            if text is None:
                return
            for i, t in enumerate(text.lower().split(" ")):
                yield i, t

    spark.udtf.register("dcs_tokenize", Tokenize)
    _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).createOrReplaceTempView("dcs_udtf_docs")
    return spark.sql("""
        SELECT d.lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT t.tok) AS BIGINT) AS n_distinct_first,
               CAST(sum(CASE WHEN t.tok IN
                        ('the','a','of','and','to','in','is','on','for','with')
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_first
        FROM dcs_udtf_docs d, LATERAL dcs_tokenize(d.text) t
        WHERE t.pos = 0
        GROUP BY d.lang
        ORDER BY d.lang
    """)


@register(
    "recursive_cte_month_spine",
    oracle="""
WITH RECURSIVE months(m) AS (
  SELECT DATE '1995-01-01'
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
  WHERE m < DATE '1996-12-01'
), agg AS (
  SELECT date_trunc('month', o_orderdate) AS om,
         count(*) AS c
  FROM orders
  GROUP BY om
)
SELECT m AS month,
       CAST(coalesce(c, 0) AS BIGINT) AS n_orders
FROM months LEFT JOIN agg ON om = m
ORDER BY m
""",
    tags=("relational", "recursive-cte", "sql"),
)
def recursive_cte_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4.0, SPARK-24497) — the reference has no
    recursion anywhere in its IR (its only iteration is our
    connected-components rebuild, which drives the loop from the
    client).  Here recursion builds a month spine engine-side, then
    joins it against per-month order counts — the gap-safe calendar
    rollup every reporting pipeline needs.

    Scale: facts are aggregated to month grain BEFORE the spine join,
    so the join is tiny×tiny.  The naive phrasing (spine LEFT JOIN raw
    orders, then GROUP BY) is a trap at scale: the spine is the
    PRESERVED side of the outer join, so the only side Spark may
    broadcast-build is the fact table — the first golden for this
    query pinned exactly that FileScan-under-BroadcastExchange cliff
    before the rewrite."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("dcs_rec_orders")
    return spark.sql("""
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1995-01-01'
          UNION ALL
          SELECT add_months(m, 1) FROM months
          WHERE m < DATE '1996-12-01'
        ), agg AS (
          SELECT trunc(o_orderdate, 'MM') AS om,
                 count(*) AS c
          FROM dcs_rec_orders
          GROUP BY om
        )
        SELECT m AS month,
               CAST(coalesce(c, 0) AS BIGINT) AS n_orders
        FROM months LEFT JOIN agg ON om = m
        ORDER BY m
    """)


@register(
    "sql_pipe_syntax",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS sum_qty
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    tags=("relational", "sql", "pipe-syntax"),
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0 ``|>`` operators) — same logical
    plan as the equivalent nested SELECT, so Catalyst optimizes both
    identically; this pins that the modern-SQL entry point users reach
    for first compiles to the same pushdown + partial-agg plan as the
    DataFrame phrasing (the oracle is the standard-SQL spelling)."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("dcs_pipe_lineitem")
    return spark.sql("""
        FROM dcs_pipe_lineitem
        |> WHERE l_shipdate <= DATE '1998-09-02'
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_rows,
                     CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2)
                          AS DOUBLE) AS sum_qty
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n_rows, sum_qty
        |> ORDER BY l_returnflag, l_linestatus
    """)


@register(
    "join_theta_nested_loop",
    oracle="""
SELECT n1.n_regionkey AS r_lo, n2.n_regionkey AS r_hi,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM nation n1
JOIN nation n2
  ON n1.n_regionkey < n2.n_regionkey
 AND n1.n_nationkey <> n2.n_nationkey
GROUP BY r_lo, r_hi
ORDER BY r_lo, r_hi
""",
    tags=("join", "theta", "nested-loop"),
)
def join_theta_nested_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure inequality (theta) join — no equi key at all.  The
    reference's IR has no nested-loop join (its join oneof is equi
    SortMergeJoin/HashJoin only, reference:
    native/proto/src/proto/operator.proto:360-386, and cartesian
    products fall back to Spark); Spark plans this as
    BroadcastNestedLoopJoin, which is exactly right IFF one side is
    dimension-sized — the broadcast side here is nation (25 rows).  At
    100 TB the rule stands: theta joins are only sane when one input
    broadcasts; otherwise manufacture an equi key (see join_range)."""
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_regionkey").alias("r_lo"), F.col("n_nationkey").alias("k1")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_regionkey").alias("r_hi"), F.col("n_nationkey").alias("k2")
    )
    return (
        n1.join(
            F.broadcast(n2),
            (F.col("r_lo") < F.col("r_hi")) & (F.col("k1") != F.col("k2")),
        )
        .groupBy("r_lo", "r_hi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("r_lo", "r_hi")
    )


@register(
    "merge_upsert",
    oracle="""
WITH updates AS (
  SELECT o_orderkey,
         o_totalprice * 2 AS new_price,
         'RESTATED' AS new_comment
  FROM orders
  WHERE o_orderkey % 100 = 0
),
merged AS (
  SELECT coalesce(u.o_orderkey, t.o_orderkey) AS o_orderkey,
         CASE WHEN u.o_orderkey IS NOT NULL THEN u.new_price
              ELSE t.o_totalprice END AS price,
         CASE WHEN u.o_orderkey IS NOT NULL THEN u.new_comment
              ELSE t.o_orderpriority END AS tag
  FROM orders t
  FULL OUTER JOIN updates u ON t.o_orderkey = u.o_orderkey
)
SELECT tag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(CAST(price AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
FROM merged
GROUP BY tag
ORDER BY tag
""",
    tags=("merge", "upsert", "full-outer-join"),
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (WHEN MATCHED UPDATE / WHEN NOT MATCHED
    INSERT) as a full-outer join + coalesce — the engine-level pattern
    table formats (Delta/Iceberg) compile MERGE down to.  The reference
    has no write-side merge at all (its writer surface is a plain
    ParquetWriter, reference: operator.proto:320-338).  At 100 TB the
    join shuffles on the merge key exactly once; with a bucketed or
    partitioned target the exchange drops to the updates side only
    (see join_bucketed_colocated), which is the copy-on-write MERGE
    cost model.

    The restatement multiplier is 2 — a power of two, so the update
    price is binary-EXACT with no float rounding anywhere before the
    boundary decimal cast.  The original round(price * 1.10, 2)
    survived the sf0.001–0.1 gates but diverged at sf1 (1.5M orders
    finally hit a double whose near-tie rounds differently in Java's
    BigDecimal path vs DuckDB's libm path) — the same class as the
    verify-recipe round(sum(double)) flake, caught by the round-9
    oracle run at sf1."""
    orders = load_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 100 == 0).select(
        F.col("o_orderkey").alias("u_key"),
        (F.col("o_totalprice") * 2).alias("new_price"),
        F.lit("RESTATED").alias("new_comment"),
    )
    matched = F.col("u_key").isNotNull()
    merged = orders.join(
        updates, orders.o_orderkey == updates.u_key, "full_outer"
    ).select(
        F.coalesce(F.col("u_key"), F.col("o_orderkey")).alias("key"),
        F.when(matched, F.col("new_price"))
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        F.when(matched, F.col("new_comment"))
        .otherwise(F.col("o_orderpriority"))
        .alias("tag"),
    )
    return (
        merged.groupBy("tag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum(F.col("price").cast("decimal(18,2)")), 2)
            .cast("double").alias("sum_price"),
        )
        .orderBy("tag")
    )


# --------------------------------------------------------------------------
# Modern SQL entry-point surfaces (Spark 3.4/4.x analyzer features).
# All compile to plans already covered by the operator inventory — these
# entries pin that the *analyzer* surfaces users actually type resolve
# identically to the canonical spelling (the oracle).  The reference has
# no SQL frontend of its own (Catalyst does all parsing/analysis,
# reference: README.md:38-41), so every analyzer feature Spark ships is
# automatically part of this engine's surface.
# --------------------------------------------------------------------------
@register(
    "sql_group_order_by_all",
    oracle="""
SELECT o_orderpriority, o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS revenue
FROM orders
GROUP BY ALL
ORDER BY ALL
""",
    tags=("relational", "sql", "group-by-all"),
)
def sql_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` / ``ORDER BY ALL`` (Spark 3.4+/4.x analyzer
    sugar, same syntax DuckDB pioneered): grouping keys are inferred as
    every non-aggregate select item; ordering covers the full select
    list left-to-right.  Resolves to the identical Aggregate + Sort
    plan as the explicit spelling — pinned by running the explicit
    form as the oracle."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("dcs_gba_orders")
    return spark.sql("""
        SELECT o_orderpriority, o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                    AS DOUBLE) AS revenue
        FROM dcs_gba_orders
        GROUP BY ALL
        ORDER BY ALL
    """)


@register(
    "sql_parameterized",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
WHERE o_orderdate >= DATE '1995-03-01'
  AND o_totalprice > 50000.0
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("relational", "sql", "parameterized"),
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (``spark.sql(query, args=...)``, Spark
    3.4+): parameter markers are bound by the analyzer as literals
    BEFORE optimization, so a bound date/number prunes and pushes down
    exactly like an inline literal (the oracle inlines them).  This is
    the injection-safe API surface a query service would expose; the
    plan must show the same PushedFilters as the literal spelling."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("dcs_param_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM dcs_param_orders
        WHERE o_orderdate >= :cutoff AND o_totalprice > :floor
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"cutoff": datetime.date(1995, 3, 1), "floor": 50000.0},
    )


@register(
    "setop_union_missing_columns",
    oracle="""
SELECT * FROM (
  SELECT n_name AS name, n_regionkey AS regionkey, NULL AS name_len
  FROM nation WHERE n_regionkey <= 1
  UNION ALL BY NAME
  SELECT r_name AS name, CAST(length(r_name) AS BIGINT) AS name_len
  FROM region
)
ORDER BY name NULLS FIRST, regionkey NULLS FIRST
""",
    tags=("relational", "setop"),
)
def setop_union_missing_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``unionByName(allowMissingColumns=True)``: schema-evolving
    concatenation — each side's missing columns are NULL-filled, the
    union resolves by name not position (DuckDB's UNION ALL BY NAME is
    the same semantics).  The everyday shape for unioning corpus
    shards whose schemas drifted across generations."""
    nation = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") <= 1)
        .select(
            F.col("n_name").alias("name"),
            F.col("n_regionkey").alias("regionkey"),
        )
    )
    region = _t(spark, sf_dir, "region").select(
        F.col("r_name").alias("name"),
        F.length("r_name").cast("bigint").alias("name_len"),
    )
    return nation.unionByName(region, allowMissingColumns=True).orderBy(
        F.col("name").asc_nulls_first(), F.col("regionkey").asc_nulls_first()
    )


@register(
    "lateral_column_alias",
    oracle="""
SELECT o_orderkey,
       CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 0.9, 2) AS DOUBLE)
         AS discounted,
       CAST(round(round(CAST(o_totalprice AS DECIMAL(18,2)) * 0.9, 2) * 0.07,
                  2) AS DOUBLE) AS tax
FROM orders
WHERE o_totalprice > 100000.0
ORDER BY o_orderkey
LIMIT 50
""",
    tags=("relational", "sql", "lateral-alias"),
)
def lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column alias (Spark 3.4+): a SELECT item referencing an
    alias defined earlier in the SAME select list.  The analyzer
    rewrites it into nested projections — no extra operator, no
    subquery — so derived-metric chains (discounted → tax) stay one
    Project.  DuckDB resolves the same syntax natively; the oracle
    spells the expansion explicitly."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("dcs_lca_orders")
    return spark.sql("""
        SELECT o_orderkey,
               CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 0.9, 2)
                    AS DOUBLE) AS discounted,
               CAST(round(discounted * 0.07, 2) AS DOUBLE) AS tax
        FROM dcs_lca_orders
        WHERE o_totalprice > 100000.0
        ORDER BY o_orderkey
        LIMIT 50
    """)


@register(
    "range_generator",
    oracle="""
SELECT CAST(range AS BIGINT) AS id,
       CAST(range * range % 97 AS BIGINT) AS sq_mod,
       CAST(sum(range) OVER (ORDER BY range ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS running
FROM range(0, 1000)
ORDER BY id
""",
    tags=("relational", "generator", "range"),
)
def range_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``spark.range`` — the parallel integer generator (Spark's Range
    leaf, the analogue of the reference's LocalTableScan for synthetic
    input, reference: spark/sql/comet/CometLocalTableScanExec.scala:107).
    Range splits its [start, end) interval across partitions without
    materializing anything, so generated benchmarks/backfills scale to
    any row count; DuckDB's table function range() is the oracle."""
    return (
        spark.range(0, 1000)
        .select(
            F.col("id"),
            (F.col("id") * F.col("id") % 97).alias("sq_mod"),
            F.sum("id")
            .over(
                Window.orderBy("id").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .alias("running"),
        )
        .orderBy("id")
    )


@register(
    "join_shuffle_hash_hint",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS volume
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate >= DATE '1996-01-01'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("relational", "join", "hint", "shuffle-hash"),
)
def join_shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE_HASH-hinted fact-fact join: both sides shuffle on the
    key but the build side hashes in memory instead of sorting — no
    sort on EITHER side.  This is the strategy behind the reference's
    single biggest tuned win (replaceSortMergeJoin=true: TPC-H 637.6 →
    521.7 s, docs/source/contributor-guide/benchmark-results/
    tpc-h.md:72-75, BASELINE.md); Spark exposes it per-join via hint
    and globally via spark.sql.join.preferSortMergeJoin=false.

    Scale note: prefer it when the build side's per-partition slice
    fits executor memory (here orders filtered by date); keep
    sort-merge for balanced giant-giant joins where neither side
    should be hash-built.  Its plan golden pins the ShuffledHashJoin —
    a silently-ignored hint would fall back to another join and the
    regression would be invisible in results."""
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= datetime.date(1996, 1, 1))
        .select("o_orderkey", "o_orderpriority")
        .hint("shuffle_hash")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double").alias("volume"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "scd2_dimension_update",
    oracle="""
WITH updates AS (
  SELECT c_custkey, 'PREMIUM' AS new_segment
  FROM customer WHERE c_acctbal > 9500
), versioned AS (
  -- closed-out prior version for every updated key
  SELECT c.c_custkey, c.c_mktsegment AS segment,
         DATE '1990-01-01' AS valid_from,
         DATE '1998-06-01' AS valid_to,
         FALSE AS is_current
  FROM customer c JOIN updates u ON c.c_custkey = u.c_custkey
  UNION ALL
  -- new open version for updated keys
  SELECT u.c_custkey, u.new_segment AS segment,
         DATE '1998-06-01' AS valid_from,
         NULL AS valid_to,
         TRUE AS is_current
  FROM updates u
  UNION ALL
  -- untouched keys keep their open version
  SELECT c.c_custkey, c.c_mktsegment AS segment,
         DATE '1990-01-01' AS valid_from,
         NULL AS valid_to,
         TRUE AS is_current
  FROM customer c LEFT JOIN updates u ON c.c_custkey = u.c_custkey
  WHERE u.c_custkey IS NULL
)
SELECT * FROM versioned
ORDER BY c_custkey, valid_from, is_current
""",
    tags=("relational", "scd2", "merge"),
)
def scd2_dimension_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: an update batch closes the
    current version (valid_to stamped, is_current=false) and opens a
    new one — the versioned-dimension pattern every warehouse load
    runs, spelled as joins + unionByName (the same lowering MERGE INTO
    compiles to; cf. `merge_upsert` for the overwrite flavor).

    Scale shape: ONE pass over the dimension.  The naive three-leg
    spelling (inner join for closed + anti join for untouched + the
    update batch for opened) scans the dimension twice; instead a
    single LEFT join classifies every dimension row once and a
    map-side struct-array explode emits its 1-2 output versions —
    matched rows fan out to (closed, opened), unmatched pass through
    as their open version.  Measured round 7 at sf0.1 (min-of-5):
    0.651 s → 0.508 s (1.28×), dimension scans 2 → 1 (pinned by
    tests/test_plans.py::test_scd2_single_dimension_pass).  The update
    batch is typically small → AQE broadcasts it; write amplification
    stays O(|updates|) when paired with
    `parquet_dynamic_partition_overwrite`."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    updates = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9500)
        .select("c_custkey", F.lit("PREMIUM").alias("new_segment"))
    )
    d0 = F.lit(datetime.date(1990, 1, 1))
    d1 = F.lit(datetime.date(1998, 6, 1))
    nulld = F.lit(None).cast("date")

    def version(seg, vf, vt, cur):
        return F.struct(
            seg.alias("segment"),
            vf.alias("valid_from"),
            vt.alias("valid_to"),
            cur.alias("is_current"),
        )

    joined = cust.join(updates, "c_custkey", "left")
    versions = F.when(
        F.col("new_segment").isNotNull(),
        F.array(
            version(F.col("c_mktsegment"), d0, d1, F.lit(False)),
            version(F.col("new_segment"), d1, nulld, F.lit(True)),
        ),
    ).otherwise(
        F.array(version(F.col("c_mktsegment"), d0, nulld, F.lit(True)))
    )
    return (
        joined.select("c_custkey", F.explode(versions).alias("v"))
        .select(
            "c_custkey",
            "v.segment",
            "v.valid_from",
            "v.valid_to",
            "v.is_current",
        )
        .orderBy("c_custkey", "valid_from", "is_current")
    )


@register(
    "sample_bernoulli_seeded",
    oracle=None,  # Bernoulli sampling uses Spark's XORShiftRandom stream —
    # engine-specific; reproducibility + statistical bounds are pytest-pinned.
    tags=("relational", "sample", "nondeterministic"),
)
def sample_bernoulli_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli TABLESAMPLE (``df.sample(fraction, seed)``):
    per-row coin flips from a partition-seeded XORShift stream — the
    built-in sampling surface (the reference has no sampling operator;
    Spark's is partition-deterministic).  Same seed + same partitioning
    → identical sample; across engines the stream differs, which is
    WHY `sample_hash_deterministic` (md5-threshold sampling) exists as
    the engine-portable alternative.  The pytest pin asserts both
    properties: run-to-run identity and binomial-bound sample size."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.sample(fraction=0.1, seed=42)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sampled_revenue"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Spark 4.0 DataFrame API additions (no SQL-string equivalent needed):
# transpose, scalar-subquery Column, lateralJoin with tvf generators.
# --------------------------------------------------------------------------
@register(
    "df_transpose",
    oracle="""
SELECT 'n_orders' AS key,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE) AS "F",
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS DOUBLE) AS "O",
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS DOUBLE) AS "P"
FROM orders
UNION ALL
SELECT 'revenue_m' AS key,
       round(CAST(sum(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END AS DECIMAL(18,2))) AS DOUBLE) / 1e6, 3),
       round(CAST(sum(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END AS DECIMAL(18,2))) AS DOUBLE) / 1e6, 3),
       round(CAST(sum(CAST(CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END AS DECIMAL(18,2))) AS DOUBLE) / 1e6, 3)
FROM orders
ORDER BY key
""",
    tags=("relational", "spark4", "transpose"),
)
def df_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose`` (Spark 4.0): flip a narrow aggregate so
    metrics become rows and group values become columns — the
    report-shaping step that previously needed a manual
    unpivot+pivot round trip.  Values coerce to the least common type
    (double here).  Scale note: transpose materializes |rows| columns,
    so it belongs strictly ABOVE a small aggregate, never on a fact
    table — same discipline as pivot/crosstab."""
    orders = _t(spark, sf_dir, "orders")
    agg = (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
                / F.lit(1e6), 3
            ).alias("revenue_m"),
        )
        .orderBy("o_orderstatus")
    )
    return agg.transpose().orderBy("key")


@register(
    "scalar_subquery_api",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_above_avg
FROM orders
WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("relational", "spark4", "subquery"),
)
def scalar_subquery_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.scalar()`` (Spark 4.0): a 1×1 DataFrame used
    directly as a scalar-subquery Column — the DataFrame spelling of
    the reference's ScalarSubquery surface (reference:
    serde/CometScalarSubquery.scala:28, expr.proto:451-454, where the
    JVM evaluates the subquery and injects the literal).  Catalyst
    plans the same Subquery + ReusedSubquery shape as the SQL form;
    the fact table is scanned once for the average and once for the
    filter, never joined."""
    orders = _t(spark, sf_dir, "orders")
    avg_price = orders.select(F.avg("o_totalprice")).scalar()
    return (
        orders.filter(F.col("o_totalprice") > avg_price)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_above_avg"))
        .orderBy("o_orderpriority")
    )


@register(
    "df_lateral_join_tvf",
    oracle="""
SELECT doc_id, tok,
       CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT doc_id, unnest(str_split(lower(text), ' ')) AS tok
  FROM documents WHERE doc_id < 5
)
GROUP BY doc_id, tok
HAVING count(*) >= 2
ORDER BY doc_id, tok
""",
    tags=("relational", "spark4", "lateral", "generator"),
)
def df_lateral_join_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.lateralJoin`` + ``spark.tvf`` (Spark 4.0): the
    DataFrame spelling of LATERAL table-function application — the
    generator receives OUTER references (`F.col(...).outer()`) from
    the left row, so per-row expansion composes without SQL strings or
    UDTF registration.  Plans the same Generate the explode queries
    pin; repeated-token rollup keeps the output non-trivial."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 5)
        .select("doc_id", "text")
    )
    toks = spark.tvf.explode(F.split(F.lower(F.col("text").outer()), " "))
    return (
        docs.lateralJoin(toks)
        .groupBy("doc_id", F.col("col").alias("tok"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .orderBy("doc_id", "tok")
    )


# --------------------------------------------------------------------------
# Z-order clustering — multi-dimensional sort-key interleaving
# --------------------------------------------------------------------------
# the low 10 bits of a and b, interleaved
_Z_FRAG = "(((a >> 0) & 1) << 0) | (((b >> 0) & 1) << 1) | (((a >> 1) & 1) << 2) | (((b >> 1) & 1) << 3) | (((a >> 2) & 1) << 4) | (((b >> 2) & 1) << 5) | (((a >> 3) & 1) << 6) | (((b >> 3) & 1) << 7) | (((a >> 4) & 1) << 8) | (((b >> 4) & 1) << 9) | (((a >> 5) & 1) << 10) | (((b >> 5) & 1) << 11) | (((a >> 6) & 1) << 12) | (((b >> 6) & 1) << 13) | (((a >> 7) & 1) << 14) | (((b >> 7) & 1) << 15) | (((a >> 8) & 1) << 16) | (((b >> 8) & 1) << 17) | (((a >> 9) & 1) << 18) | (((b >> 9) & 1) << 19)"


@register(
    "zorder_cluster_sort",
    oracle="""
WITH keyed AS (
  SELECT l_orderkey, l_partkey,
         l_orderkey % 1024 AS a, l_partkey % 1024 AS b
  FROM lineitem
), z AS (
  SELECT l_orderkey, l_partkey,
         CAST((((a >> 0) & 1) << 0) | (((b >> 0) & 1) << 1) | (((a >> 1) & 1) << 2) | (((b >> 1) & 1) << 3) | (((a >> 2) & 1) << 4) | (((b >> 2) & 1) << 5) | (((a >> 3) & 1) << 6) | (((b >> 3) & 1) << 7) | (((a >> 4) & 1) << 8) | (((b >> 4) & 1) << 9) | (((a >> 5) & 1) << 10) | (((b >> 5) & 1) << 11) | (((a >> 6) & 1) << 12) | (((b >> 6) & 1) << 13) | (((a >> 7) & 1) << 14) | (((b >> 7) & 1) << 15) | (((a >> 8) & 1) << 16) | (((b >> 8) & 1) << 17) | (((a >> 9) & 1) << 18) | (((b >> 9) & 1) << 19) AS BIGINT) AS zval
  FROM keyed
)
SELECT zval, l_orderkey, l_partkey
FROM z
ORDER BY zval, l_orderkey, l_partkey
LIMIT 100
""",
    tags=("relational", "sort", "zorder", "layout"),
)
def zorder_cluster_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key: interleave the bits of two
    dimension keys and sort by the result — the multi-dimensional
    data-layout technique lakehouse formats expose as OPTIMIZE ZORDER
    BY, built from plain bitwise expressions (the reference's bitwise
    serde surface, serde/bitwise.scala:27-143, composed 20
    shift/and/or terms deep — all inside whole-stage codegen).

    Why it matters at 100 TB: a range-partitioned write ordered by
    zval gives row groups that are simultaneously selective on BOTH
    key dimensions — min/max stats prune scans filtered on either
    column, where a lexicographic sort prunes only the leading one.
    The query pins the key computation + ordering; production pipes it
    into repartitionByRange(zval).write."""
    li = _t(spark, sf_dir, "lineitem")
    keyed = li.select(
        "l_orderkey",
        "l_partkey",
        (F.col("l_orderkey") % 1024).alias("a"),
        (F.col("l_partkey") % 1024).alias("b"),
    )
    z = keyed.select(
        F.expr(_Z_FRAG).cast("bigint").alias("zval"),
        "l_orderkey",
        "l_partkey",
    )
    return z.orderBy("zval", "l_orderkey", "l_partkey").limit(100)


@register(
    "setop_union_distinct",
    oracle="""
SELECT c_custkey FROM customer WHERE c_acctbal > 9000
UNION
SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
ORDER BY c_custkey
""",
    tags=("relational", "setop"),
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT — Catalyst lowers to Union + Deduplicate (hash
    aggregate on all columns), exactly how the reference receives it
    (only UNION ALL exists as an operator; SURVEY §2.1 'Set
    operations').  `union().distinct()` is the DataFrame spelling."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    b = orders.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return a.union(b).distinct().orderBy("c_custkey")


@register(
    "join_null_safe_eq",
    oracle="""
WITH a AS (
  SELECT c_custkey, nullif(c_nationkey % 7, 3) AS grp FROM customer
), b AS (
  SELECT nullif(n % 7, 3) AS grp, CAST(n AS BIGINT) AS tag
  FROM (SELECT unnest(generate_series(0, 6)) AS n)
)
SELECT coalesce(CAST(a.grp AS VARCHAR), 'NULL') AS grp,
       CAST(count(*) AS BIGINT) AS n_matched,
       CAST(count(DISTINCT b.tag) AS BIGINT) AS n_tags
FROM a JOIN b ON a.grp IS NOT DISTINCT FROM b.grp
GROUP BY 1
ORDER BY 1
""",
    tags=("relational", "join", "null-safe"),
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM):
    NULL keys MATCH each other instead of vanishing — the semantics
    the reference implements as EqualNullSafe
    (serde/predicates.scala; expr.proto) and Spark plans as an
    ordinary hash join on the null-safe key.  The NULL bucket is by
    construction a hot key at scale: every null-keyed row lands in
    one reducer, so treat NULL-matching joins like skewed joins
    (AQE skew split or pre-filter the null bucket and union it
    back)."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.nullif(F.col("c_nationkey") % 7, F.lit(3)).alias("grp"),
    )
    tags = spark.range(0, 7).select(
        F.nullif(F.col("id") % 7, F.lit(3)).alias("grp"),
        F.col("id").alias("tag"),
    )
    return (
        cust.join(F.broadcast(tags), cust.grp.eqNullSafe(tags.grp))
        .select(
            F.coalesce(cust.grp.cast("string"), F.lit("NULL")).alias("grp"),
            "tag",
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.countDistinct("tag").alias("n_tags"),
        )
        .orderBy("grp")
    )
