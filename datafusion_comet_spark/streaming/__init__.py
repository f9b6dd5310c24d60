"""Structured Streaming layer.

The reference explicitly rejects streaming plans — its rule returns
the plan untouched whenever the plan is streaming (reference:
spark/src/main/scala/org/apache/comet/rules/CometExecRule.scala:548-550)
and the IR has no watermark/state machinery
(native/proto/src/proto/operator.proto:38-56).  The PySpark build gets
Structured Streaming natively, so streaming is a capability SUPERSET:
file-stream sources, watermarked window aggregation, streaming
deduplication, session windows, and arbitrary stateful operators via
``applyInPandasWithState``.

Pattern used by every streaming query here: ``readStream`` over the
canonical parquet table dir → transform → memory sink with an
``availableNow`` trigger → await termination → return the sink table
as a (batch) DataFrame.  ``availableNow`` processes exactly the data
present at start and terminates, which makes streaming queries
deterministic and oracle-comparable; the identical pipeline with a
continuous trigger is the production deployment shape.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from ..session import conf_override

# Explicit schema: streaming file sources never infer (inference is a
# second listing+scan).  events.ts is parquet TIMESTAMP(MICROS,
# isAdjustedToUTC=false) → TIMESTAMP_NTZ, normalized below to a
# session-timezone (UTC-pinned) TimestampType because watermarks and
# unix_micros require TimestampType.
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


_CKPT_ROOT: str | None = None


def fresh_checkpoint(name: str) -> str:
    """A new, empty checkpoint dir for one streaming run.

    Every run of the process gets its own subdirectory of one
    checkpoint root, created on first use and removed when the process
    exits, so a checkpoint outlives its run (callers read the state
    store from it afterwards) but not the process."""
    global _CKPT_ROOT
    if _CKPT_ROOT is None:
        _CKPT_ROOT = tempfile.mkdtemp(prefix="dcs_ckpt_")
        atexit.register(shutil.rmtree, _CKPT_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"{name}_", dir=_CKPT_ROOT)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the events table with a normalized timestamp
    column.  In production the same code points at a landing dir that
    continuously receives files."""
    # The file-stream source lists a DIRECTORY (the landing-dir model);
    # pathGlobFilter narrows it to the events table file(s).
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def run_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion into a memory sink;
    return the sink contents as a batch DataFrame (``run_to_checkpoint``
    has the run's semantics)."""
    run_to_checkpoint(df, name, output_mode, shuffle_partitions)
    return df.sparkSession.table(name)


def run_to_state(
    df: DataFrame,
    name: str,
    output_mode: str,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Execute a stateful streaming DataFrame to completion, then read
    the committed STATE STORE back through Spark's built-in state data
    source (``spark.read.format("statestore")`` — core since 4.0) and
    return it as a batch DataFrame of (key struct, value struct,
    partition_id) rows.

    This is the operational introspection path at 100 TB: debugging a
    stateful pipeline's accumulated state (is a key stuck? how big is
    each aggregation buffer?) reads ONLY the checkpoint's state files
    — zero replay of the (unbounded) input.  The state source scans
    the latest committed snapshot per partition, so its cost is
    O(state), not O(history).

    Same shuffle-partition pin and fresh-checkpoint semantics as
    ``run_to_checkpoint`` (the partition count is baked into the
    checkpoint at first batch; state correctness must be — and is —
    invariant to it).
    """
    ckpt = run_to_checkpoint(df, name, output_mode, shuffle_partitions)
    return df.sparkSession.read.format("statestore").load(ckpt)


def run_to_checkpoint(
    df: DataFrame,
    name: str,
    output_mode: str,
    shuffle_partitions: int | None = None,
) -> str:
    """Execute a streaming DataFrame to completion into a memory sink
    named ``name`` and return the CHECKPOINT path — for callers that
    need to read the state store with non-default options (e.g.
    ``joinSide`` for stream-stream join state, which keeps one store
    per side).

    A FRESH checkpoint dir per run (``fresh_checkpoint``) makes the
    query reprocess the full input (a reused checkpoint would see zero
    new files and emit nothing — the deterministic-replay analogue of
    exactly-once).

    ``shuffle_partitions`` pins the stateful-operator partition count
    for THIS query (Structured Streaming bakes the value into the
    checkpoint at first batch, so the setting binds at ``start()`` and
    is restored immediately after).  Stateful microbatch cost is
    dominated by per-partition state-store open/commit, not data
    volume, at test scale — 32 partitions × N stores of fixed overhead
    swamps a 10k-row batch.  In production the same dial is sized UP
    to match state volume (state must fit per-executor memory); the
    answer is partition-count invariant either way, which is exactly
    what the oracle comparison proves.

    CONCURRENCY: the pin mutates session-global conf for the duration
    of ``start()`` — safe under today's strictly sequential driver and
    pytest run, but NOT safe if queries ever share the SparkSession
    from multiple threads (another query planned inside the window
    would silently inherit the pinned value).  If parallel execution
    is introduced, scope the setting to a per-query session clone
    (``spark.newSession()`` shares the SparkContext but isolates SQL
    conf) instead of set/restore."""
    ckpt = fresh_checkpoint(name)
    pin = (
        {} if shuffle_partitions is None
        else {"spark.sql.shuffle.partitions": str(shuffle_partitions)}
    )
    with conf_override(df.sparkSession, pin):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return ckpt
