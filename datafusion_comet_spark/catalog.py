"""Catalog: the test star schema as DataFrames / temp views.

The reference's scan layer (NativeScan / CsvScan / IcebergScan,
reference: native/proto/src/proto/operator.proto:99-151) reduces in a
single-engine build to ``spark.read`` with pushdown enabled; this
module is the table registry used by every query in the inventory,
and ``table_facts`` the one record of each table's size facts (bytes,
rows, row groups) that the plan's size gates read.
"""

from __future__ import annotations

import json
import os
from types import SimpleNamespace
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


class TableFacts(NamedTuple):
    """The size facts of one table, summed over its part files."""

    bytes: int  # on disk
    rows: int
    row_groups: int


# (sf_dir, table) -> its facts.  The star-schema dirs are read-only, so
# the facts are read once per process, on first use; testing.forged_sizes
# is the one other writer.
_TABLE_FACTS: dict[tuple[str, str], TableFacts] = {}


def table_facts(sf_dir: str, name: str) -> TableFacts:
    """A table's on-disk bytes, rows and row groups, from one pass over
    its part files' sizes and parquet footers (every footer records
    num_rows and its row groups; the reference reads the same fields
    for its scan statistics).  Pure metadata, no data pass, so the
    sizing decisions cost nothing even at 100 TB.  Cached per
    (sf_dir, table).

    Every size gate reads this record: bytes the broadcast hints
    (queries/_shared._dim_hint, _stats_join_back) and the plan regime
    (testing.scale_regime); row groups, the hard ceiling on scan-task
    parallelism since a split cannot subdivide one (bench.py's q1
    note), the scan-starvation rebalance (_shared._spread_scan); rows
    the pair-arithmetic spelling and the IVF training reservoir
    (queries/similarity)."""
    import pyarrow.parquet as pq

    key = (sf_dir, name)
    facts = _TABLE_FACTS.get(key)
    if facts is None:
        files = parquet_files(sf_dir, name)
        footers = [pq.ParquetFile(f).metadata for f in files]
        facts = _TABLE_FACTS[key] = TableFacts(
            bytes=sum(os.path.getsize(f) for f in files),
            rows=sum(m.num_rows for m in footers),
            row_groups=sum(m.num_row_groups for m in footers),
        )
    return facts


def parquet_num_rows(sf_dir: str, name: str) -> int:
    """``table_facts(sf_dir, name).rows``, under the name the perfbench
    harness imports."""
    return table_facts(sf_dir, name).rows


# Spark type per parquet (physical type, bit width, signed) of an INT
# logical type, as Spark's ParquetToSparkSchemaConverter maps it;
# UINT_64 becomes a decimal there and is left to inference.
_INT_TYPES: dict[tuple[str, int, bool], T.DataType] = {
    ("INT32", 8, True): T.ByteType(),
    ("INT32", 16, True): T.ShortType(),
    ("INT32", 32, True): T.IntegerType(),
    ("INT32", 8, False): T.ShortType(),
    ("INT32", 16, False): T.IntegerType(),
    ("INT32", 32, False): T.LongType(),
    ("INT64", 64, True): T.LongType(),
}
# Spark type per parquet physical type without a logical type (BYTE_ARRAY
# and INT96 depend on session confs, see _leaf_type).
_PLAIN_TYPES: dict[str, T.DataType] = {
    "BOOLEAN": T.BooleanType(),
    "INT32": T.IntegerType(),
    "INT64": T.LongType(),
    "FLOAT": T.FloatType(),
    "DOUBLE": T.DoubleType(),
    "FIXED_LEN_BYTE_ARRAY": T.BinaryType(),
}
# written by Spark: when present, Spark reads its schema from this footer
# entry instead of converting the parquet types
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _leaf_type(col, conf) -> T.DataType | None:
    """The Spark type of one parquet leaf column, from its physical and
    logical type (not its Arrow type: INT96 and INT64 TIMESTAMP(NANOS)
    are both ``timestamp[ns]`` in Arrow, but Spark reads the first as a
    timestamp and the second as a long).  None when the mapping does not
    cover the type.  ``conf(key)`` reads a boolean session conf."""
    phys = col.physical_type
    logical = json.loads(col.logical_type.to_json())
    kind = logical["Type"]
    if kind == "None":
        if phys == "BYTE_ARRAY":
            binary_as_string = conf("spark.sql.parquet.binaryAsString")
            return T.StringType() if binary_as_string else T.BinaryType()
        if phys == "INT96":
            int96 = conf("spark.sql.parquet.int96AsTimestamp")
            return T.TimestampType() if int96 else None
        return _PLAIN_TYPES.get(phys)
    if kind in ("String", "Enum") and phys == "BYTE_ARRAY":
        return T.StringType()
    if kind == "Date" and phys == "INT32":
        return T.DateType()
    if kind == "Int":
        return _INT_TYPES.get((phys, logical["bitWidth"], logical["isSigned"]))
    if kind == "Timestamp" and phys == "INT64":
        if logical["timeUnit"] == "nanoseconds":
            nanos_as_long = conf("spark.sql.legacy.parquet.nanosAsLong")
            return T.LongType() if nanos_as_long else None
        if logical["isAdjustedToUTC"] or not conf(
            "spark.sql.parquet.inferTimestampNTZ.enabled"
        ):
            return T.TimestampType()
        return T.TimestampNTZType()
    return None


def _file_schema(path: str, conf) -> T.StructType | None:
    """The schema Spark infers for one parquet file, or None.  Covers
    top-level primitive columns and standard 3-level lists of them; the
    Arrow schema is read only for the column tree, the types come from
    the parquet leaves.  Every field is nullable, as Spark makes a file
    source's schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    if _SPARK_SCHEMA_KEY in (pf.metadata.metadata or {}):
        return None
    leaves = pf.schema
    if len(leaves) != len(pf.schema_arrow):
        return None  # a struct or map: more leaves than columns
    fields = []
    for i, field in enumerate(pf.schema_arrow):
        col = leaves.column(i)
        if col.max_repetition_level == 0 and col.path == field.name:
            dtype = _leaf_type(col, conf)
        elif (
            pa.types.is_list(field.type)
            and col.max_repetition_level == 1
            and col.path == f"{field.name}.list.element"
        ):
            elem = _leaf_type(col, conf)
            dtype = None if elem is None else T.ArrayType(elem, True)
        else:
            dtype = None
        if dtype is None:
            return None
        fields.append(T.StructField(field.name, dtype, True))
    return T.StructType(fields)


def footer_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType | None:
    """The schema ``spark.read.parquet`` would infer for a table, built
    from its parquet footers in Python, so no Spark job runs.  None —
    infer instead — when a column type is not covered (``_leaf_type``),
    when a part was written by Spark, when a directory-shaped table has
    parts below subdirectories (partition columns) or none at all, when
    its parts disagree, and when a footer cannot be read (Spark then
    raises its own error for a missing or corrupt file)."""
    import pyarrow as pa

    memo: dict[str, bool] = {}

    def conf(key: str) -> bool:
        if key not in memo:
            memo[key] = str(spark.conf.get(key)).lower() == "true"
        return memo[key]

    path = table_path(sf_dir, name)
    files = parquet_files(sf_dir, name)
    if not files or (
        os.path.isdir(path) and any(os.path.dirname(f) != path for f in files)
    ):
        return None
    try:
        first = _file_schema(files[0], conf)
        if first is None or any(_file_schema(f, conf) != first for f in files[1:]):
            return None
    except (OSError, pa.ArrowException):
        return None
    return first


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
    # The schema comes from the parquet footers (footer_schema): with it
    # Spark skips its schema-inference job, one per table.  Where the
    # footer mapping gives up, Spark infers as before.
    schema = footer_schema(spark, sf_dir, name)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(table_path(sf_dir, name))
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
