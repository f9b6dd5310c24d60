"""Catalog: the test star schema as DataFrames / temp views.

The reference's scan layer (NativeScan / CsvScan / IcebergScan,
reference: native/proto/src/proto/operator.proto:99-151) reduces in a
single-engine build to ``spark.read`` with pushdown enabled; this
module is the table registry used by every query in the inventory.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables that stay small at every scale factor (region/nation
# are fixed-cardinality in TPC-H); always broadcast-join these.
FIXED_SIZE_DIMS: frozenset[str] = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def parquet_files(sf_dir: str, name: str) -> list[str]:
    """The parquet file of a table, or every ``*.parquet`` part under a
    directory-shaped one."""
    path = table_path(sf_dir, name)
    if not os.path.isdir(path):
        return [path]
    return [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]


def parquet_num_rows(sf_dir: str, name: str) -> int:
    """Exact table row count from Parquet FOOTER metadata — no scan.

    Every Parquet footer records num_rows (the reference reads the
    same field for its scan statistics); summing footers over the
    part files of a directory-shaped table is a pure metadata
    operation, so sizing decisions (e.g. the IVF training-reservoir
    fraction, similarity.py) cost zero data passes even at 100 TB.
    """
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows for f in parquet_files(sf_dir, name)
    )


_TABLE_ROW_GROUPS_CACHE: dict[tuple[str, str], int] = {}


def parquet_row_groups(sf_dir: str, name: str) -> int:
    """Row-group count across a table's parquet files — the hard
    ceiling on scan-task parallelism (a split cannot subdivide a row
    group; bench.py documents the q1 measurement).  Pure footer
    metadata, cached per (sf_dir, table).  Keys the scan-starvation
    gate (queries/_shared._spread_scan): at 100 TB row groups vastly
    outnumber cores and the gate is a no-op."""
    import pyarrow.parquet as pq

    key = (sf_dir, name)
    if key not in _TABLE_ROW_GROUPS_CACHE:
        _TABLE_ROW_GROUPS_CACHE[key] = sum(
            pq.ParquetFile(f).metadata.num_row_groups
            for f in parquet_files(sf_dir, name)
        )
    return _TABLE_ROW_GROUPS_CACHE[key]


_TABLE_BYTES_CACHE: dict[tuple[str, str], int] = {}


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk size of a table (file or directory-shaped) — a pure
    filesystem-metadata operation, cached per (sf_dir, table).  Used by
    the size-aware broadcast-hint policy (queries/_shared._dim_hint);
    testing.lineitem_bytes, which keys the plan-regime bit, is the
    same sum uncached."""
    key = (sf_dir, name)
    if key not in _TABLE_BYTES_CACHE:
        _TABLE_BYTES_CACHE[key] = sum(
            os.path.getsize(f) for f in parquet_files(sf_dir, name)
        )
    return _TABLE_BYTES_CACHE[key]


# (applicationId, sf_dir, name) -> DataFrame.  The star-schema dirs are
# read-only, so a resolved DataFrame (file listing + footer schema) can be
# reused across queries within one SparkContext — the single-engine analog
# of a metastore catalog caching table metadata.  Entries die with their
# context: a new session gets a new applicationId.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    if name == "events":
        # The driver may hand us a session without our defaults; the
        # TIMESTAMP(NANOS) column is unreadable without this conf.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        # Normalize events.ts to a µs TimestampType regardless of how the
        # generator wrote it: TIMESTAMP(NANOS) arrives as a ns long (see
        # session.DEFAULT_CONF), TIMESTAMP(MICROS, isAdjustedToUTC=false)
        # arrives as TIMESTAMP_NTZ.  With the session timezone pinned to
        # UTC the NTZ→LTZ cast is value-preserving, and downstream
        # operators (unix_micros, watermarks) require TimestampType.
        # The DuckDB oracle mirrors this with CAST(ts AS TIMESTAMP).
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _TABLE_CACHE[key] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, register_views: bool = True
) -> SimpleNamespace:
    """Load every star-schema table; optionally register temp views so
    SQL-form queries can run against the same data.

    Returns a namespace: ``t = load_tables(...); t.lineitem`` etc.
    """
    out = {}
    for name in TABLES:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        out[name] = df
        if register_views:
            df.createOrReplaceTempView(name)
    return SimpleNamespace(**out)
