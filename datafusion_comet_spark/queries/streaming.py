"""Structured Streaming queries (capability superset — SURVEY.md §2.6).

The reference supports no streaming at all (reference:
spark/src/main/scala/org/apache/comet/rules/CometExecRule.scala:548-550);
these queries exercise the Structured Streaming surface a 100 TB
event pipeline needs: watermarked tumbling-window aggregation,
streaming dedup, session windows, and a custom stateful operator via
``applyInPandasWithState``.  Each runs with an ``availableNow``
trigger over the static events table so results are deterministic and
(where SQL-expressible) DuckDB-oracle-checked — the production shape
is the same plan with a continuous trigger on a landing directory.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources import scratch_dir
from ..streaming import fresh_checkpoint, read_events_stream, run_to_memory
from . import register


@register(
    "stream_window_agg",
    oracle="""
SELECT event_type,
       time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS win_start,
       count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events
WHERE event_type IN ('click', 'view')
GROUP BY event_type, win_start
ORDER BY event_type, win_start
LIMIT 200
""",
    tags=("streaming", "window", "watermark"),
)
def stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation: 1-hour windows per
    event_type with a 30-minute watermark.  Epoch-aligned window
    starts make the result identical to a batch time_bucket GROUP BY,
    which is exactly what the oracle checks."""
    ev = read_events_stream(spark, sf_dir).filter(
        F.col("event_type").isin("click", "view")
    )
    agg = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy("event_type", F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias("sum_value"),
        )
    )
    # complete mode: emit every window at termination (append would
    # hold back windows above the final watermark).
    out = run_to_memory(agg, "stream_window_agg_sink", "complete", shuffle_partitions=8)
    return (
        out.select(
            "event_type", F.col("win.start").alias("win_start"), "n", "sum_value"
        )
        .orderBy("event_type", "win_start")
        .limit(200)
    )


@register(
    "stream_dedup",
    oracle="""
SELECT event_type, count(DISTINCT event_id) AS n_unique
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("streaming", "dedup"),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication on event_id with a watermark bound on
    state (dropDuplicatesWithinWatermark shape): dedup happens in the
    stream (append mode — rows emit on first sight), then a batch
    aggregation over the sink counts survivors per type."""
    ev = read_events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    out = run_to_memory(deduped, "stream_dedup_sink", "append", shuffle_partitions=8)
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
        .orderBy("event_type")
    )


@register(
    "stream_session_window",
    oracle="""
SELECT user_id, count(*) AS n_sessions, CAST(sum(n_events) AS BIGINT) AS n_events
FROM (
  SELECT user_id, session_id, count(*) AS n_events
  FROM (
    SELECT user_id, ts,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM (
      SELECT user_id, ts, event_id,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - lag(CAST(ts AS TIMESTAMP), 1,
                             CAST(ts AS TIMESTAMP) - INTERVAL '1 year')
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ) marks
  ) sess
  GROUP BY user_id, session_id
) per_session
WHERE user_id < 40
GROUP BY user_id
ORDER BY user_id
""",
    tags=("streaming", "session-window"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute gap per user — the built-in
    ``session_window`` stateful operator.  The oracle re-derives the
    identical sessionization in batch SQL with a lag()-gap scan
    (sessions split where the inter-event gap exceeds 30 min)."""
    ev = read_events_stream(spark, sf_dir)
    sessions = (
        ev.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_memory(sessions, "stream_session_sink", "complete", shuffle_partitions=8)
    return (
        out.filter(F.col("user_id") < 40)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


def _running_stats(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Stateful per-user accumulator: (count, sum, max) across batches.

    State survives between micro-batches — with a continuous trigger
    this maintains per-user lifetime stats over an unbounded stream;
    per-key state is O(1) so 10^9 users is a memory, not correctness,
    problem (state store backed, RocksDB in production)."""
    (user_id,) = key
    n, s, mx = state.get if state.exists else (0, 0.0, float("-inf"))
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
        mx = max(mx, float(pdf["value"].max()))
    state.update((n, s, mx))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n": [n],
            "sum_value": [round(s, 4)],
            "max_value": [mx],
        }
    )


@register(
    "stream_stateful_running",
    oracle="""
SELECT user_id, count(*) AS n,
       round(sum(value), 4) AS sum_value,
       max(value) AS max_value
FROM events
WHERE user_id < 20
GROUP BY user_id
ORDER BY user_id
""",
    tags=("streaming", "stateful", "applyInPandasWithState"),
)
def stream_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-user running (count, sum, max) kept in GroupState across
    micro-batches — the PySpark-native analogue of a hand-written
    stateful operator.  Over the finite availableNow input the final
    emission per key equals the batch aggregate, which the oracle
    verifies."""
    ev = read_events_stream(spark, sf_dir).filter(F.col("user_id") < 20)
    stats = ev.groupBy("user_id").applyInPandasWithState(
        _running_stats,
        outputStructType="user_id long, n long, sum_value double, max_value double",
        stateStructType="n long, s double, mx double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_to_memory(stats, "stream_stateful_sink", "update", shuffle_partitions=8)
    # update mode may emit a row per key per batch; keep the final
    # (cumulative) emission per key.
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n").alias("n"),
            F.max("sum_value").alias("sum_value"),
            F.max("max_value").alias("max_value"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_static_join",
    oracle="""
SELECT e.event_type, d.n_nations, count(*) AS n
FROM events e
JOIN (SELECT n_regionkey, count(*) AS n_nations
      FROM nation GROUP BY n_regionkey) d
  ON (length(e.event_type) % 5) = d.n_regionkey
GROUP BY e.event_type, d.n_nations
ORDER BY e.event_type
""",
    tags=("streaming", "stream-static-join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each micro-batch joins against a static
    (batch) dimension — the enrichment pattern for streams at scale
    (the small dim broadcasts per batch; no stream-side state).  The
    join key is an engine-independent derivation (length % 5 — Spark's
    murmur3 and DuckDB's hash differ, so a hash bucket could not be
    oracle-reproduced)."""
    from ..catalog import load_table

    ev = read_events_stream(spark, sf_dir)
    dim = (
        load_table(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )
    joined = ev.join(
        dim,
        (F.length("event_type") % 5) == F.col("n_regionkey"),
    )
    out = run_to_memory(
        joined.select("event_id", "event_type", "n_nations"),
        "stream_static_sink",
        "append",
        shuffle_partitions=8,
    )
    return (
        out.groupBy("event_type", "n_nations")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@register(
    "stream_stream_join",
    oracle="""
SELECT c.user_id, count(*) AS n_pairs
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click'
 AND p.event_type = 'purchase'
 AND CAST(p.ts AS TIMESTAMP) >  CAST(c.ts AS TIMESTAMP)
 AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL '1 hour'
GROUP BY c.user_id
ORDER BY c.user_id
""",
    tags=("streaming", "stream-stream-join"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: clicks joined to the purchases that
    follow within one hour, both sides watermarked so the state store
    can evict rows older than the time-range bound.  The reference has
    no streaming at all (reference: rules/CometExecRule.scala:548-550);
    this is the batch `join_range` semantics running incrementally —
    per-key join state is bounded by watermark + range (1 h of stream
    per key), independent of total stream length, which is what makes
    the operator viable on an unbounded 100 TB/day stream."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    pairs = clicks.join(
        purchases,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    out = run_to_memory(
        pairs.select("user_id", "c_ts", "p_ts"),
        "stream_stream_sink",
        "append",
        shuffle_partitions=8,
    )
    return (
        out.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


@register(
    "stream_foreach_batch",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("streaming", "sink", "foreachBatch"),
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once custom sink via ``foreachBatch``: each micro-batch
    lands in its own ``batch_id=<n>`` parquet directory, so a replayed
    batch overwrites its own output instead of duplicating it — the
    idempotent-by-construction pattern for sinks without transactional
    support.  The read-back aggregate over every landed directory must
    equal the batch aggregate over the source, which the oracle checks."""
    import os
    import shutil

    out_dir = scratch_dir(sf_dir, "foreach_batch_sink")
    shutil.rmtree(out_dir, ignore_errors=True)

    def land(batch_df: DataFrame, batch_id: int) -> None:
        # Overwrite THIS batch's directory only: replays are idempotent.
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    ev = read_events_stream(spark, sf_dir).select("event_type", "value")
    ckpt = fresh_checkpoint("foreach_batch")
    q = (
        ev.writeStream.foreachBatch(land)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    landed = spark.read.option("basePath", out_dir).parquet(out_dir)
    return (
        landed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "stream_dedup_within_watermark",
    oracle="""
SELECT event_type, count(DISTINCT event_id) AS n_unique
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("streaming", "dedup", "watermark"),
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` (Spark 3.5+): dedup state is
    EVICTED once the watermark passes a key — the bounded-state form
    of streaming dedup for sources whose duplicates arrive close
    together (retries, at-least-once producers).  Plain dropDuplicates
    (stream_dedup) keeps every key forever; within-watermark keeps
    state linear in the watermark window.  Our synthetic events carry
    unique event_ids, so survivors equal global distinct and the same
    oracle pins both variants — the difference under test is the
    state-eviction operator actually planning (and at 100 TB, the
    state store staying bounded)."""
    ev = read_events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = run_to_memory(deduped, "stream_dedup_ww_sink", "append", shuffle_partitions=8)
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
        .orderBy("event_type")
    )


def _replay_click_purchase_join(
    spark: SparkSession,
    sf_dir: str,
    how: str,
    cols: tuple[str, ...],
    src_name: str,
    sink: str,
) -> DataFrame:
    """Run the watermarked click-to-purchase stream-stream join ``how``
    over a chunked replay of the events table; return the columns
    ``cols`` of the memory sink ``sink``.  The replay writes four
    time-ordered single-file chunks (one per microbatch) and two
    sentinel files under the reserved key -1 into
    ``scratch_dir(sf_dir, src_name)``; ``stream_stream_left_outer``
    says why.  Callers drop the sentinel key."""
    import os
    import shutil

    from ..catalog import load_table

    src_dir = scratch_dir(sf_dir, src_name)
    shutil.rmtree(src_dir, ignore_errors=True)
    os.makedirs(src_dir)

    def write_chunk(df: DataFrame, i: int) -> None:
        tmp = os.path.join(src_dir, f"_tmp{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.rename(
            os.path.join(tmp, part),
            os.path.join(src_dir, f"chunk-{i:02d}.parquet"),
        )
        shutil.rmtree(tmp)

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    mn, mx = ev.agg(F.min("ts"), F.max("ts")).first()
    span_us = int((mx - mn).total_seconds() * 1_000_000) + 1
    step_us = span_us // 4 + 1
    # four time-ordered chunks, one file each (chunk-NN ordering keeps
    # the file-stream source replaying them as separate microbatches)
    for i in range(4):
        lo = F.lit(mn) + F.expr(f"INTERVAL {i * step_us} MICROSECOND")
        hi = F.lit(mn) + F.expr(f"INTERVAL {(i + 1) * step_us} MICROSECOND")
        write_chunk(ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi)), i)
    # sentinel rows: reserved key, 3 h past the end — written TWICE so
    # the second file's batch runs cleanup against the advanced watermark
    sentinel = spark.createDataFrame(
        [(-1, None, "click"), (-1, None, "purchase")],
        "user_id BIGINT, ts TIMESTAMP, event_type STRING",
    ).withColumn("ts", F.lit(mx) + F.expr("INTERVAL 3 HOURS"))
    for j in (4, 5):
        write_chunk(sentinel, j)

    stream = (
        spark.readStream.schema("user_id BIGINT, ts TIMESTAMP, event_type STRING")
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src_dir)
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    pairs = clicks.join(
        purchases,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    )
    return run_to_memory(pairs.select(*cols), sink, "append", shuffle_partitions=8)


@register(
    "stream_stream_left_outer",
    oracle="""
SELECT c.user_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN p.p_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched,
       CAST(sum(CASE WHEN p.p_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unmatched
FROM (SELECT user_id, ts AS c_ts FROM events
      WHERE event_type = 'click') c
LEFT JOIN (SELECT user_id AS p_user, ts AS p_ts FROM events
           WHERE event_type = 'purchase') p
  ON p.p_user = c.user_id
 AND p.p_ts >  c.c_ts
 AND p.p_ts <= c.c_ts + INTERVAL '1 hour'
GROUP BY c.user_id
ORDER BY c.user_id
""",
    tags=("streaming", "stream-stream-join", "outer"),
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the semantically
    hard streaming join: a null-extended row for an unmatched click
    may only emit once the watermark proves no future purchase can
    match it (state eviction == answer emission, unlike the inner
    join where unmatched state just disappears).

    Two production realities this query pins:

    * **Watermark-driven null emission needs watermark MOVEMENT.** In
      a single microbatch the watermark never advances past the data,
      so unmatched rows sit in state forever and the 'left outer'
      degenerates to inner.  The events table is re-chunked into four
      time-ordered files streamed with ``maxFilesPerTrigger=1``, so
      each batch's watermark closes the previous batches' windows.
    * **The sentinel flush.** The final hour of any bounded run can
      never self-close.  Two trailing sentinel files (far-future rows
      under a reserved key, one to advance the watermark input, one
      to run the cleanup batch that emits against it) flush all
      remaining unmatched state — the end-of-day barrier pattern for
      draining bounded replays of unbounded pipelines.

    With the flush, the streamed result equals the batch LEFT JOIN the
    oracle spells.  State per key stays bounded by watermark + range
    (1 h of stream), independent of stream length."""
    out = _replay_click_purchase_join(
        spark, sf_dir, "left_outer", ("user_id", "c_ts", "p_ts"),
        "sstream_outer_src", "stream_stream_outer_sink",
    )
    return (
        out.filter(F.col("user_id") >= 0)  # drop the sentinel key
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("p_ts").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_matched"),
            F.sum(
                F.when(F.col("p_ts").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_unmatched"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_stream_full_outer",
    oracle="""
SELECT CAST(sum(CASE WHEN c_ts IS NOT NULL AND p_ts IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(sum(CASE WHEN p_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_click_only,
       CAST(sum(CASE WHEN c_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purchase_only
FROM (SELECT user_id, ts AS c_ts FROM events
      WHERE event_type = 'click') c
FULL JOIN (SELECT user_id AS p_user, ts AS p_ts FROM events
           WHERE event_type = 'purchase') p
  ON p.p_user = c.user_id
 AND p.p_ts >  c.c_ts
 AND p.p_ts <= c.c_ts + INTERVAL '1 hour'
""",
    tags=("streaming", "stream-stream-join", "outer", "full"),
)
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join — both sides emit
    null-extended rows only when the watermark proves no future match
    can arrive, so BOTH sides' state eviction is answer emission.
    Same chunked-replay + sentinel-flush machinery as
    ``stream_stream_left_outer`` (the sentinel pair advances the
    watermark past the final hour and runs the cleanup batch, draining
    unmatched state on the click AND purchase sides); with the flush,
    the streamed result equals the batch FULL JOIN the oracle spells.
    State per key stays bounded by watermark + join range regardless
    of stream length."""
    out = _replay_click_purchase_join(
        spark, sf_dir, "full_outer", ("user_id", "p_user", "c_ts", "p_ts"),
        "sstream_fullouter_src", "stream_stream_fullouter_sink",
    )
    live = out.filter(
        (F.coalesce(F.col("user_id"), F.col("p_user")) >= 0)
    )  # drop the sentinel key from either side
    return live.agg(
        F.sum(
            F.when(
                F.col("c_ts").isNotNull() & F.col("p_ts").isNotNull(), 1
            ).otherwise(0)
        ).cast("long").alias("n_matched"),
        F.sum(F.when(F.col("p_ts").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_click_only"),
        F.sum(F.when(F.col("c_ts").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_purchase_only"),
    )
