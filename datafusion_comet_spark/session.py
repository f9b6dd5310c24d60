"""SparkSession factory with scale-aware defaults.

The reference derives per-task memory limits and shuffle behavior from
Spark config (reference: spark/src/main/scala/org/apache/comet/CometExecIterator.scala:293-326,
native shuffle codecs operator.proto:301-306).  In a single-engine
PySpark build that whole subsystem collapses into session
configuration; the settings below are the 100 TB-posture defaults:

- AQE on (runtime coalesce, skew-join splitting, dynamic join demotion)
- broadcast threshold generous enough that dimension tables of a
  TPC-H-ish star schema broadcast instead of shuffling
- shuffle partition count sized from the env (local[32] in tests;
  a 1000-executor cluster would set SPARK_GRAFT_CPUS accordingly and
  AQE coalesces down from there)
- Arrow-based Python interchange (the idiomatic analogue of the
  reference's Arrow FFI boundary)
- session timezone pinned to UTC (reference carries an explicit
  timezone in every temporal expression, expr.proto:374-396)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    # --- adaptive execution: the scale story -------------------------------
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.localShuffleReader.enabled": "true",
    # Let AQE re-optimize (coalesce/skew-split) INSIDE persisted plans.
    # Default false pins a cached aggregate's shuffle output at the full
    # spark.sql.shuffle.partitions count, so every consumer stage of a
    # persist()-based query (tpcds_return_ratio_rank's cand,
    # text_bm25_multiquery's tf) runs |partitions| near-empty tasks of
    # pure scheduling overhead.  True sizes cached partitions from bytes
    # (advisoryPartitionSizeInBytes) — 1 task at sf0.1, advisory-sized
    # at 100 TB.  Measured (dev/cached_coalesce_ab.json, interleaved
    # min-of-9 warm / min-of-3 cold per arm, identical rows):
    # return_ratio_rank warm 0.951→0.660 s, cold 1.30→0.906 s;
    # bm25_multiquery warm 0.936→0.628 s, cold 1.25→1.013 s.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Prefer hash join when a side is small post-AQE; mirrors the
    # reference's biggest tuned win (replaceSortMergeJoin, BASELINE.md).
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    "spark.sql.autoBroadcastJoinThreshold": "32m",
    # --- scan / pushdown ---------------------------------------------------
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # --- python interchange ------------------------------------------------
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # --- semantics ---------------------------------------------------------
    "spark.sql.session.timeZone": "UTC",
    # Parquet INT64(TIMESTAMP_NANOS) columns (events.ts) are unreadable as
    # TimestampType in Spark; read them as raw nanosecond longs and let the
    # catalog normalize to microsecond timestamps (catalog.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # --- plan construction -------------------------------------------------
    # PySpark wraps every Column and functions call in _with_origin,
    # which with debugging on costs ~5 extra py4j round trips per call
    # (active-session lookup, origin object, conf read, set, clear) to
    # record the Python call site for DataFrame error contexts — the
    # dominant share of build time (q1_pricing_summary 668 -> 188 py4j
    # commands per build).  The cost of turning it off: an analysis or
    # runtime error's query context no longer names the Python line.
    # PySpark reads this once per process at the first Column call, so
    # it must be set before any query is built; to get call sites back,
    # start the session with
    # extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # --- misc --------------------------------------------------------------
    "spark.ui.enabled": "false",
    "spark.sql.shuffle.partitions": "32",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_session(
    app_name: str = "datafusion-comet-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` which is the
    test/bench environment; on a real cluster the caller passes the
    cluster master (or runs under spark-submit and this just picks up
    the existing session).
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(
        int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
    )
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    conf.setdefault("spark.driver.memory", driver_mem)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
