"""Aggregate-function coverage (SURVEY.md §2.3).

The reference's aggregate registry (reference:
spark/src/main/scala/org/apache/comet/serde/QueryPlanSerde.scala:275-294,
handlers serde/aggregates.scala:35-770) covers count/min/max/sum/avg,
first/last, bit and bool aggregates, variance/stddev/covariance/
correlation, collect_set, and FILTER clauses — all realized here
through the corresponding ``pyspark.sql.functions`` with DuckDB
oracles.  Statistical aggregates are rounded because both engines
accumulate in floating point with different associativity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register
from ._shared import _t
from ._values_oracles import VALUES_ORACLES


@register(
    "agg_variance_stddev",
    oracle="""
SELECT l_returnflag,
       round(var_samp(l_quantity), 6)    AS var_s,
       round(var_pop(l_quantity), 6)     AS var_p,
       round(stddev_samp(l_quantity), 6) AS std_s,
       round(stddev_pop(l_quantity), 6)  AS std_p
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("aggregate", "stats"),
)
def agg_variance_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """var_samp/var_pop/stddev_samp/stddev_pop (reference:
    native/spark-expr/src/agg_funcs/ variance/stddev kernels)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.var_samp("l_quantity"), 6).alias("var_s"),
            F.round(F.var_pop("l_quantity"), 6).alias("var_p"),
            F.round(F.stddev_samp("l_quantity"), 6).alias("std_s"),
            F.round(F.stddev_pop("l_quantity"), 6).alias("std_p"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_corr_covar",
    oracle="""
SELECT l_linestatus,
       round(corr(l_quantity, l_extendedprice), 6)       AS r,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_s,
       round(covar_pop(l_quantity, l_extendedprice), 4)  AS cov_p
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
    tags=("aggregate", "stats"),
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corr / covar_samp / covar_pop (reference:
    native/spark-expr/src/agg_funcs/ correlation/covariance)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("r"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "cov_s"
            ),
            F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias(
                "cov_p"
            ),
        )
        .orderBy("l_linestatus")
    )


@register(
    "agg_minmax_types",
    oracle="""
SELECT l_returnflag,
       min(l_quantity) AS min_qty,    max(l_quantity) AS max_qty,
       min(l_shipdate) AS min_ship,   max(l_shipdate) AS max_ship,
       min(l_linestatus) AS min_stat, max(l_linestatus) AS max_stat,
       min(l_linenumber) AS min_line, max(l_linenumber) AS max_line
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("aggregate",),
)
def agg_minmax_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max across double, timestamp, string, int (type-gate parity
    with reference serde/aggregates.scala:742-751)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_shipdate").alias("max_ship"),
            F.min("l_linestatus").alias("min_stat"),
            F.max("l_linestatus").alias("max_stat"),
            F.min("l_linenumber").alias("min_line"),
            F.max("l_linenumber").alias("max_line"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_minby_maxby",
    oracle="""
SELECT o_orderstatus,
       min_by(o_orderkey, o_orderkey) AS first_key,
       max_by(o_orderkey, o_orderkey) AS last_key,
       max_by(o_totalprice, o_orderkey) AS last_price
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    tags=("aggregate",),
)
def agg_minby_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by with a unique ordering key — the deterministic
    stand-in for first/last (reference First/Last with ignoreNulls,
    serde/aggregates.scala:249-318, is order-sensitive and therefore
    excluded from hash comparison per FIXTURES.md)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.min_by("o_orderkey", "o_orderkey").alias("first_key"),
            F.max_by("o_orderkey", "o_orderkey").alias("last_key"),
            F.max_by("o_totalprice", "o_orderkey").alias("last_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "agg_bitwise",
    oracle="""
SELECT p_type,
       bit_and(p_size) AS b_and,
       bit_or(p_size)  AS b_or,
       bit_xor(p_size) AS b_xor
FROM part
GROUP BY p_type
ORDER BY p_type
""",
    tags=("aggregate", "bitwise"),
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bit_and/bit_or/bit_xor (reference serde/aggregates.scala:321-420)."""
    part = _t(spark, sf_dir, "part")
    return (
        part.groupBy("p_type")
        .agg(
            F.bit_and("p_size").alias("b_and"),
            F.bit_or("p_size").alias("b_or"),
            F.bit_xor("p_size").alias("b_xor"),
        )
        .orderBy("p_type")
    )


@register(
    "agg_bool",
    oracle="""
SELECT c_mktsegment,
       bool_and(c_acctbal > 0)    AS all_positive,
       bool_or(c_acctbal > 9900)  AS any_rich,
       count(*) FILTER (WHERE c_acctbal < 0) AS n_negative
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    tags=("aggregate", "bool", "filter-clause"),
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_and/bool_or + COUNT FILTER (reference supports FILTER
    clauses on aggregates, expr.proto:148-150)."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.bool_and(F.col("c_acctbal") > 0).alias("all_positive"),
            F.bool_or(F.col("c_acctbal") > 9900).alias("any_rich"),
            F.count_if(F.col("c_acctbal") < 0).alias("n_negative"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "agg_filter_clause",
    oracle="""
SELECT l_returnflag,
       round(sum(l_quantity) FILTER (WHERE l_discount > 0.05), 2)
         AS qty_discounted,
       round(sum(l_quantity) FILTER (WHERE l_discount <= 0.05), 2)
         AS qty_regular,
       round(avg(l_quantity) FILTER (WHERE l_quantity >= 25), 6)
         AS avg_high
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("aggregate", "filter-clause"),
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum/avg with FILTER (WHERE ...) clauses via the SQL expression
    path (reference: QueryPlanSerde.scala:562-571)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "round(sum(l_quantity) FILTER (WHERE l_discount > 0.05), 2)"
            ).alias("qty_discounted"),
            F.expr(
                "round(sum(l_quantity) FILTER (WHERE l_discount <= 0.05), 2)"
            ).alias("qty_regular"),
            F.expr(
                "round(avg(l_quantity) FILTER (WHERE l_quantity >= 25), 6)"
            ).alias("avg_high"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_distinct_forms",
    oracle="""
SELECT l_linestatus,
       count(DISTINCT l_partkey)               AS nd_part,
       count(DISTINCT (l_partkey, l_suppkey))  AS nd_pair,
       round(sum(DISTINCT l_quantity), 2)      AS sum_d_qty,
       round(avg(DISTINCT l_quantity), 6)      AS avg_d_qty
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
    tags=("aggregate", "distinct"),
)
def agg_distinct_forms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregates: single- and multi-column count, sum, avg
    (reference distinct handling QueryPlanSerde.scala:495-505 — single
    column for any agg, multi-column only for COUNT)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.count_distinct("l_partkey").alias("nd_part"),
            F.count_distinct("l_partkey", "l_suppkey").alias("nd_pair"),
            F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_d_qty"),
            F.round(F.expr("avg(DISTINCT l_quantity)"), 6).alias("avg_d_qty"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "agg_collect_set",
    oracle="""
SELECT o_orderpriority,
       array_to_string(list_sort(list(DISTINCT o_orderstatus)), '|')
         AS statuses,
       count(*) AS n
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("aggregate", "collect"),
)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set sorted for determinism (reference CollectSet
    serde/aggregates.scala:687)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            # serialized at the output boundary: the driver's hasher
            # round-trips results through pandas, where a Spark array
            # (numpy ndarray) and a DuckDB list stringify differently —
            # the collect_set/sort_array ops still execute underneath
            F.array_join(
                F.sort_array(F.collect_set("o_orderstatus")), "|"
            ).alias("statuses"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_percentiles",
    oracle="""
SELECT l_returnflag,
       array_to_string(list_transform(quantile_cont(l_quantity,
                        [0.25, 0.5, 0.75]),
                      x -> CAST(CAST(round(x, 6) AS DOUBLE) AS VARCHAR)), '|')
         AS qty_quartiles,
       round(median(l_quantity), 6) AS qty_median
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("aggregate", "percentile"),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles + median (beyond the reference:
    percentiles fall back to Spark there — SURVEY.md §2.1 'Missing')."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.array_join(
                F.transform(
                    F.expr(
                        "percentile(l_quantity, array(0.25D, 0.5D, 0.75D))"
                    ),
                    lambda x: F.round(x, 6).cast("string"),
                ),
                "|",
            ).alias("qty_quartiles"),
            F.round(F.expr("median(l_quantity)"), 6).alias("qty_median"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_approx_count_distinct",
    # VALUES oracle: exact_nd recomputed in DuckDB, approx_nd
    # envelope-verified then pinned (dev/gen_values_oracles.py).
    oracle=VALUES_ORACLES["agg_approx_count_distinct"],
    tags=("aggregate", "approx"),
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++).  The reference falls back
    to Spark for this (SURVEY.md §2.1 'Missing from the reference');
    values are sketch-dependent so there is no cross-engine oracle —
    the pytest suite asserts relative error vs the exact count."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_nd"),
            F.count_distinct("l_partkey").alias("exact_nd"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_first_last_sorted",
    oracle="""
SELECT o_orderstatus,
       first(o_orderkey ORDER BY o_orderkey) AS first_key,
       last(o_orderkey ORDER BY o_orderkey) AS last_key,
       first(o_totalprice ORDER BY o_orderkey) AS first_price
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    tags=("aggregate", "first-last"),
)
def agg_first_last_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal First/Last aggregates (reference serde/aggregates.scala:
    249-318) made deterministic: Spark's first/last are order-sensitive
    within a group, so the input is pre-sorted within hash partitions
    on the group key — the sortWithinPartitions + groupBy pattern gives
    first/last a defined order without a global sort, mirroring
    DuckDB's ordered-aggregate `first(x ORDER BY y)`."""
    orders = _t(spark, sf_dir, "orders")
    sorted_in = (
        orders.select("o_orderstatus", "o_orderkey", "o_totalprice")
        # key-only repartition: co-location per status is the semantic
        # requirement; leaving the count to AQE keeps coalescing alive
        # (hash buckets merge whole, so per-key colocation survives)
        .repartition("o_orderstatus")
        .sortWithinPartitions("o_orderkey")
    )
    return (
        sorted_in.groupBy("o_orderstatus")
        .agg(
            F.first("o_orderkey").alias("first_key"),
            F.last("o_orderkey").alias("last_key"),
            F.first("o_totalprice").alias("first_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "agg_listagg_sorted",
    oracle="""
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       count(*) AS n
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
""",
    tags=("aggregate", "listagg"),
)
def agg_listagg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG ... WITHIN GROUP).  Built as
    array_sort(collect_list(...)) -> array_join so the result is
    deterministic regardless of partitioning — raw listagg/string_agg
    concatenation order is shuffle-dependent, which would break any
    distributed run (and the oracle hash).  collect_list is bounded
    here by group cardinality; at 100 TB cap collected groups or use
    a windowed top-k first."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        nation.join(
            F.broadcast(region),
            nation.n_regionkey == region.r_regionkey,
        )
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("r_name")
    )


@register(
    "udaf_grouped_ols",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(median(value), 6) AS med_value,
       round(covar_pop(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT),
                       value)
             / var_pop(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)),
             9) AS slope
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("aggregate", "udf", "applyInPandas", "grouped-map"),
)
def udaf_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via grouped-map ``applyInPandas`` (SURVEY §2.5: the
    reference's UDF story is Arrow batch exchange, CometTestBase-style
    scalar UDFs only — no grouped aggregation path).  Per event_type,
    fit an OLS slope of value over time plus an exact median — the
    shape a feature-engineering pass takes when the statistic has no
    built-in (M-estimators, isotonic fits, per-entity curves).

    Numerics: the slope is computed on CENTERED x (``x - mean``) so the
    dot products never hit catastrophic cancellation at epoch-seconds
    magnitude, and both engines round at 1e-9 where fp associativity
    noise is ~1e-17.  The median is an order statistic — deterministic
    under any row order the shuffle delivers.

    Scale: grouped-map requires the whole group in one pandas frame;
    event_type has ~5 unbounded-size groups, so at 100 TB this exact
    form would OOM a task.  SCALE.md's fix: pre-reduce per (group,
    salt) with the same sufficient statistics (n, Σxc·y, Σxc², digest)
    and merge, or switch to the closed-form covar_pop/var_pop SQL the
    oracle uses.  The query stays in the inventory as the UDF-surface
    contract: schema'd output, Arrow batches, one shuffle on the group
    key."""
    import numpy as np
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.unix_timestamp("ts").alias("x"),
        "value",
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["x"].to_numpy(dtype="float64")
        y = pdf["value"].to_numpy(dtype="float64")
        xc = x - x.mean()
        slope = float(np.dot(xc, y) / np.dot(xc, xc))
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_events": [len(pdf)],
                "med_value": [round(float(pdf["value"].median()), 6)],
                "slope": [round(slope, 9)],
            }
        )

    return (
        ev.groupBy("event_type")
        .applyInPandas(
            fit,
            "event_type string, n_events bigint, med_value double, slope double",
        )
        .orderBy("event_type")
    )


@register(
    "agg_hll_sketch",
    # VALUES oracle: sum_cell_exact recomputed in DuckDB, approx_nd
    # envelope-verified then pinned (dev/gen_values_oracles.py).
    oracle=VALUES_ORACLES["agg_hll_sketch"],
    tags=("aggregate", "approx", "sketch"),
)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache DataSketches HLL aggregates (Spark 3.5+):
    ``hll_sketch_agg`` builds a mergeable binary sketch per group,
    ``hll_union_agg`` merges pre-built sketches, ``hll_sketch_estimate``
    reads the estimate out.  This is the *mergeable-state* pattern that
    matters at 100 TB: per-partition/per-day sketches are tiny
    (≤ lgK=12 → 2.5 KB), persistable, and re-aggregable without
    touching raw data — unlike approx_count_distinct whose state dies
    inside one query.  The reference has no sketch surface at all
    (bloom_filter_agg is its only sketch, and it is internal-only —
    SURVEY.md §2.3).

    The query builds per-(returnflag, linestatus) sketches, then
    UNIONs them up to returnflag — exactly how a partitioned corpus
    would roll daily sketches into monthly cardinalities."""
    li = _t(spark, sf_dir, "lineitem")
    per_cell = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_partkey", F.lit(12)).alias("sk"),
        F.count_distinct("l_partkey").alias("exact_cell_nd"),
    )
    return (
        per_cell.groupBy("l_returnflag")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_nd"),
            F.sum("exact_cell_nd").alias("sum_cell_exact"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "stat_crosstab",
    oracle="""
SELECT o_orderstatus AS o_orderstatus_o_orderpriority,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
            AS BIGINT) AS "1-URGENT",
       CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
            AS BIGINT) AS "2-HIGH",
       CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)
            AS BIGINT) AS "3-MEDIUM",
       CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0
            END) AS BIGINT) AS "4-NOT SPECIFIED",
       CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
            AS BIGINT) AS "5-LOW"
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    tags=("aggregate", "stat", "crosstab"),
)
def stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.stat.crosstab`` — contingency table of two categorical
    columns (the DataFrame-native spelling of a count pivot; Catalyst
    plans the same two-phase aggregate the explicit
    ``groupBy().pivot()`` gets).  The oracle spells the pivot as
    conditional sums, which is also what either engine executes.

    Scale note: crosstab materializes |distinct(col2)| columns — use
    only when the second column's cardinality is a known small set (as
    with any pivot); the row axis streams through an ordinary hash
    aggregate."""
    orders = _t(spark, sf_dir, "orders")
    ct = orders.stat.crosstab("o_orderstatus", "o_orderpriority")
    # stable column order + a sortable row key
    value_cols = sorted(c for c in ct.columns if c != "o_orderstatus_o_orderpriority")
    return ct.select(
        "o_orderstatus_o_orderpriority",
        *[F.col(f"`{c}`").alias(c) for c in value_cols],
    ).orderBy("o_orderstatus_o_orderpriority")


@register(
    "udaf_grouped_arrow",
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(min_by(doc_id, length(text) * 1000000 + doc_id) AS BIGINT)
         AS shortest_doc
FROM documents
WHERE text IS NOT NULL
GROUP BY source
ORDER BY source
""",
    tags=("aggregate", "udaf", "arrow", "udf-surface"),
)
def udaf_grouped_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInArrow`` (Spark 4.0): the zero-copy sibling
    of ``applyInPandas`` — each group arrives as a pyarrow.Table, the
    custom aggregate runs in Arrow compute (no pandas conversion), one
    result row leaves per group.  Completes the custom-UDAF matrix:
    `udaf_grouped_ols` (pandas), `token_count_arrow` (mapInArrow
    row-level), this (Arrow grouped).  The deterministic min_by
    tie-break (length, then doc_id) makes the oracle exact.

    Scale shape: one shuffle on the group key; each group must fit a
    worker's Arrow buffer — the same bound applyInPandas has, which is
    why groups here are sources (bounded set), not documents."""
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "source", F.length("text").alias("n_chars"))
    )

    def summarize(table: pa.Table) -> pa.Table:
        n_chars = table.column("n_chars")
        doc_id = table.column("doc_id")
        # deterministic shortest doc: min (n_chars, doc_id) lexicographic
        key = pc.add(
            pc.multiply(
                pc.cast(n_chars, pa.int64()), pa.scalar(1_000_000, pa.int64())
            ),
            doc_id,
        )
        shortest = doc_id[pc.index(key, pc.min(key)).as_py()].as_py()
        return pa.table(
            {
                "source": [table.column("source")[0].as_py()],
                "n_docs": [table.num_rows],
                "total_chars": [pc.sum(n_chars).as_py()],
                "shortest_doc": [shortest],
            }
        )

    return (
        docs.groupBy("source")
        .applyInArrow(
            summarize,
            "source string, n_docs bigint, total_chars bigint, "
            "shortest_doc bigint",
        )
        .orderBy("source")
    )


@register(
    "udaf_pandas_grouped_agg",
    oracle="""
SELECT l_returnflag,
       round(sum(l_quantity * l_quantity), 2) AS sum_sq,
       round(sum(l_quantity * l_quantity)
             / count(*), 6) AS mean_sq
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("aggregate", "udaf", "pandas-udf", "udtf"),
)
def udaf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF: a custom aggregate that drops into
    ``groupBy().agg()`` beside built-ins — the third custom-aggregate
    surface after grouped-map applyInPandas/applyInArrow (whole-group
    in, whole-row out) — this one is a true AGGREGATE (series in,
    scalar out), so Catalyst plans it inside the normal aggregate
    operator and it composes with built-in aggs in the same agg()
    call.  Kernel (sum of squares) is SQL-expressible, so the Arrow
    transfer is value-pinned.  Tagged udtf for the plan gate: the
    Python aggregate in-plan is the surface under test.

    Scale note: GROUPED_AGG buffers each group's column in one worker
    — same bound as applyInPandas; fine for bounded groups (flags,
    sources), wrong for unbounded keys (use a two-level rollup)."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: without (evaluable) type annotations the
    # decorator defaults to SCALAR; GROUPED_AGG is what makes this an
    # aggregate expression.  Spark disallows mixing GROUPED_AGG with
    # JVM aggregates in one agg() — so the row count is a second
    # pandas aggregate, and the ratio is computed above the aggregate.
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def dcs_sum_sq(v):
        return float((v * v).sum())

    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def dcs_n(v):
        return len(v)

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            dcs_sum_sq("l_quantity").alias("ss"),
            dcs_n("l_quantity").alias("n"),
        )
        .select(
            "l_returnflag",
            F.round("ss", 2).alias("sum_sq"),
            F.round(F.col("ss") / F.col("n"), 6).alias("mean_sq"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "udaf_cogroup_pandas",
    oracle="""
SELECT n_regionkey,
       CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers,
       CAST(count(DISTINCT s_suppkey) AS BIGINT) AS n_suppliers
FROM (
  SELECT c.c_custkey, NULL AS s_suppkey, c.c_nationkey AS nk
  FROM customer c
  UNION ALL
  SELECT NULL, s.s_suppkey, s.s_nationkey FROM supplier s
) u JOIN nation ON nk = n_nationkey
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
    tags=("aggregate", "udaf", "cogroup", "pandas-udf", "udtf"),
)
def udaf_cogroup_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided grouped map: ``groupBy(...).cogroup(other.groupBy(...))
    .applyInPandas`` — both frames' rows for a key arrive together in
    one Python call (the custom-join escape hatch when per-key logic
    can't be said as a join condition: interleaving, per-key
    reconciliation, custom matchers).  Kernel counts distinct members
    per side per nation, rolled up to regions against the
    UNION-spelled oracle.  Scale: one co-partitioned shuffle of both
    sides on the key — same exchange bill as a join; per-key data must
    fit a worker (nations are bounded)."""
    import pandas as pd

    cust = _t(spark, sf_dir, "customer").select("c_nationkey", "c_custkey")
    supp = _t(spark, sf_dir, "supplier").select("s_nationkey", "s_suppkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")

    def reconcile(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        key = (
            left["c_nationkey"].iloc[0]
            if len(left)
            else right["s_nationkey"].iloc[0]
        )
        return pd.DataFrame(
            {
                "nk": [int(key)],
                "n_customers": [int(left["c_custkey"].nunique())],
                "n_suppliers": [int(right["s_suppkey"].nunique())],
            }
        )

    per_nation = (
        cust.groupBy("c_nationkey")
        .cogroup(supp.groupBy("s_nationkey"))
        .applyInPandas(
            reconcile, "nk long, n_customers long, n_suppliers long"
        )
    )
    return (
        per_nation.join(
            F.broadcast(nation), per_nation.nk == nation.n_nationkey
        )
        .groupBy("n_regionkey")
        .agg(
            F.sum("n_customers").alias("n_customers"),
            F.sum("n_suppliers").alias("n_suppliers"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "agg_count_min_sketch",
    # VALUES oracle: one-sided CMS envelope verified vs exact DuckDB
    # frequencies then pinned (dev/gen_values_oracles.py).
    oracle=VALUES_ORACLES["agg_count_min_sketch"],
    tags=("aggregate", "approx", "sketch"),
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (``count_min_sketch`` aggregate): mergeable
    heavy-hitter frequency estimation — the third sketch in the
    mergeable-state family (bloom: membership, HLL: cardinality, CMS:
    frequency).  The token-frequency question every corpus pipeline
    asks ("which n-grams dominate?") at 100 TB is a CMS per shard
    merged at the top, never a full groupBy over raw tokens.

    The query sketches the l_suppkey stream per returnflag and probes
    five keys' estimated frequencies.  CMS error is ONE-SIDED
    (estimate >= true count, overshoot <= eps·N with prob 1-delta);
    the pytest pin asserts exactly that envelope against the exact
    frequencies."""
    li = _t(spark, sf_dir, "lineitem")
    sketched = li.groupBy("l_returnflag").agg(
        F.count_min_sketch(
            "l_suppkey", F.lit(0.001), F.lit(0.99), F.lit(42)
        ).alias("cms"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    probes = [1, 2, 3, 5, 8]
    # Spark ships no count_min_sketch_estimate SQL builtin — probing
    # goes through the JVM sketch class on the DRIVER, which is the
    # correct place: the aggregate has already reduced the stream to
    # |groups| tiny binaries (the whole point of the sketch); only
    # those cross to the driver, never rows.
    sketched.cache()
    rows = sketched.collect()
    out = []
    jvm = spark.sparkContext._jvm
    for r in rows:
        cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
            bytearray(r.cms)
        )
        for k in probes:
            out.append((r.l_returnflag, k, int(cms.estimateCount(k)), r.n_rows))
    sketched.unpersist()
    return spark.createDataFrame(
        out, "l_returnflag string, probe_key int, est_freq long, n_rows long"
    ).orderBy("l_returnflag", "probe_key")
