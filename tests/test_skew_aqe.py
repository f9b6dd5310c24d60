"""AQE skew-join splitting — the runtime half of the skew story.

`join_skew_salted` pins the MANUAL mitigation (salting).  This suite
pins the AUTOMATIC one: with `spark.sql.adaptive.skewJoin.enabled`
(on in the engine's defaults, session.py), a sort-merge join whose
shuffle produces one oversized partition must be re-planned at runtime
with that partition split (`isSkewJoin` on the executed join) — and the
split must not change the result.  At 100 TB this is the difference
between one straggler task holding the stage for hours and N parallel
tasks; the reference leaves skew handling entirely to Spark/AQE
(SURVEY §4.1), so this behavior IS part of the rebuilt engine's
contract.

Thresholds are lowered to make a ~40 MB test shuffle exhibit what a
multi-GB production partition would: skewedPartitionThresholdInBytes
and advisoryPartitionSizeInBytes scale together (the former must stay
>= the latter or AQE ignores the skew).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_comet_spark.plans import skew_split_joins
from datafusion_comet_spark.session import conf_override


def test_aqe_splits_skewed_join_partition(spark):
    # left: 400k rows, ~95% on hot key 0; right: 40k rows uniform over
    # 1k keys with a payload wide enough to defeat tiny-size estimates.
    left = spark.range(0, 400_000).select(
        F.when(F.col("id") % 20 < 19, F.lit(0))
        .otherwise(F.col("id") % 1000)
        .alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("lpad"),
    )
    right = spark.range(0, 40_000).select(
        (F.col("id") % 1000).alias("k"),
        F.sha2((F.col("id") + 7).cast("string"), 256).alias("rpad"),
    )
    settings = {
        # force a shuffle join (no broadcast escape hatch)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # make test-sized partitions eligible for skew splitting
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        # keep AQE from coalescing everything into one partition first
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    }
    with conf_override(spark, settings):
        # Aggregate ON the join output and read THAT DataFrame's own
        # executed plan: df.count() executes a different QueryExecution,
        # whose AQE final plan this test would never see.  min(lpad/rpad)
        # keeps the wide payload columns from being pruned, so shuffle
        # partition byte sizes stay realistic.
        res = left.join(right, "k").agg(
            F.count(F.lit(1)).alias("n"),
            F.min("lpad").alias("lmin"),
            F.min("rpad").alias("rmin"),
        )
        n = res.collect()[0]["n"]
    # result correctness: hot key 0 matches 40 right rows, every other
    # key k matches 40 right rows too (uniform 1k keys, 40 each)
    hot_left = 400_000 * 19 // 20
    cold_left = 400_000 - hot_left
    assert n == hot_left * 40 + cold_left * 40, n
    # isSkewJoin is the flag AQE's OptimizeSkewedJoin sets on the
    # SortMergeJoinExec it splits (SPARK-29544); the aggregate's own
    # executed plan is read, since that is the QueryExecution that ran
    assert skew_split_joins(res), (
        "AQE did not mark the skewed join partition for splitting"
    )
