"""Source/sink layer: CSV + JSON scans and the Parquet writer.

The reference exposes three file-format operators beyond the Parquet
scan: a CSV scan with header/delimiter/quote/escape/comment options
(reference: native/proto/src/proto/operator.proto:134-151,
native/core/src/execution/operators/csv_scan.rs) and a native Parquet
writer with committer plumbing (operator.proto:320-338,
native/core/src/execution/operators/parquet_writer.rs).  In the
PySpark build both collapse to ``spark.read``/``df.write`` — this
module pins the option surface and gives queries a deterministic
scratch area for write→read-back round trips.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

# Mirrors the reference CsvOptions message fields
# (operator.proto:143-151): header, delimiter, quote, escape, comment.
CSV_OPTIONS: dict[str, str] = {
    "header": "true",
    "delimiter": "|",
    "quote": '"',
    "escape": "\\",
    "comment": "#",
}

JSON_OPTIONS: dict[str, str] = {
    # JSON-lines (Spark's native format); timestamps as ISO-8601 UTC.
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
}


def scratch_dir(sf_dir: str, leaf: str) -> str:
    """Deterministic per-scale scratch path for write→read-back tests.

    Writes go under the system temp dir (never into the read-only
    testdata tree); the same (sf, leaf) pair always maps to the same
    path so repeated runs overwrite in place.
    """
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return os.path.join(tempfile.gettempdir(), "dcs_io", sf_name, leaf)


def write_read_csv(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Round-trip a DataFrame through CSV with the reference's option
    surface.  Reading back uses the written schema explicitly — schema
    inference is a 2-pass scan and is never the 100 TB plan."""
    df.write.mode("overwrite").options(**CSV_OPTIONS).csv(path)
    return spark.read.schema(df.schema).options(**CSV_OPTIONS).csv(path)


def write_read_json(
    spark: SparkSession, df: DataFrame, path: str
) -> DataFrame:
    df.write.mode("overwrite").options(**JSON_OPTIONS).json(path)
    return spark.read.schema(df.schema).options(**JSON_OPTIONS).json(path)


def write_read_orc(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """zstd ORC write → read-back.  The reference has no ORC operator (its
    scan oneof is Parquet/CSV/Iceberg only, operator.proto:38-56); ORC
    comes free from Spark's vectorized ORC reader with the same
    pushdown/pruning machinery as Parquet — a strict superset of the
    reference's format surface."""
    df.write.mode("overwrite").option("compression", "zstd").orc(path)
    return spark.read.orc(path)


def write_read_text(
    spark: SparkSession, df: DataFrame, path: str
) -> DataFrame:
    """Line-oriented text write → read-back (single string column
    ``value``).  The raw-text source is the entry point of every
    LLM-corpus ingestion pipeline; each file split parallelizes on
    newline boundaries so a 100 TB dump scans embarrassingly parallel."""
    df.write.mode("overwrite").text(path)
    return spark.read.text(path)


def write_read_parquet(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    codec: str = "zstd",
) -> DataFrame:
    """Parquet write → read-back.  ``codec`` mirrors the reference's
    shuffle/write codec set (zstd/lz4/snappy, operator.proto:301-306);
    ``partition_by`` produces hive-style partition dirs so read-back
    filters on the partition column prune at planning time.  Read-back
    passes the written frame's schema: without it Spark runs a job to
    read the footers and infer the schema it already has (partition
    columns still move last, as with inference)."""
    writer = df.write.mode("overwrite").option("compression", codec)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return spark.read.schema(df.schema).parquet(path)


def write_read_xml(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """XML write → read-back (Spark 4 ships the XML source natively —
    no external spark-xml module), one ``<row>`` element per row.  The
    reference has no XML operator at all; entity escaping (&lt; &amp; ...) round-trips values
    losslessly, which the oracle hash-match proves.  Read-back passes
    the schema explicitly: XML inference is a full extra scan AND
    type-guesses, never the 100 TB plan."""
    (
        df.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "rows")
        .option("rowTag", "row")
        .save(path)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema(df.schema)
        .load(path)
    )
