"""Source/sink round-trip queries: file formats and Python connectors.

Covers the reference's file-format operators (SURVEY.md §2.1 rows
4 and 19): CsvScan with its full option set (reference:
native/proto/src/proto/operator.proto:134-151) and ParquetWriter with
codec + partitioned layout (operator.proto:320-338), plus the formats
and connectors it lacks (JSON, ORC, text, XML, binaryFile and the
Python DataSource source and sink).  The file-format queries write
from the canonical parquet tables into a scratch dir, read back
through the format under test, and aggregate — so the oracle (which
only sees the canonical tables) verifies the round trip was lossless
end-to-end; the synthetic source's oracles regenerate its rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..session import conf_override
from ..sources import (
    CSV_OPTIONS,
    JSON_OPTIONS,
    XML_OPTIONS,
    scratch_dir,
    write_read,
)
from ..sources.python_datasource import (
    SCHEMA_DDL,
    generator_oracle_sql,
    read_committed,
    register_sources,
)
from . import register
from ._shared import _t


def _synthetic_events(spark: SparkSession) -> DataFrame:
    """A batch read of 2000 synthetic events in 8 slices.  Its reader
    implements ``pushFilters``, which Spark plans only with Python
    DataSource filter pushdown on; that is decided when the returned
    DataFrame is planned, after the query fn returns, and the flag
    affects Python data sources only, so it stays on for the session."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register_sources(spark)
    return (
        spark.read.format("synthetic_events")
        .option("n_rows", "2000")
        .option("n_partitions", "8")
        .load()
    )


def _synthetic_events_stream(spark: SparkSession) -> DataFrame:
    """A stream of 1200 synthetic events, 4 slices per microbatch."""
    register_sources(spark)
    return (
        spark.readStream.format("synthetic_events")
        .option("n_rows", "1200")
        .option("n_partitions", "4")
        .load()
    )


@register(
    "csv_scan_roundtrip",
    oracle="""
SELECT n.n_regionkey AS regionkey,
       count(*) AS n_nations,
       min(n.n_name) AS first_name,
       max(length(n.n_name)) AS max_name_len
FROM nation n
GROUP BY n.n_regionkey
ORDER BY regionkey
""",
    tags=("source", "csv"),
)
def csv_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with the reference's option surface (header=true,
    delimiter='|', quote, escape, comment): write nation to CSV, read
    it back with an explicit schema, aggregate.  A hash-match against
    the parquet-side oracle proves the scan is lossless."""
    nation = _t(spark, sf_dir, "nation")
    back = write_read(
        spark, nation, scratch_dir(sf_dir, "nation_csv"), "csv", CSV_OPTIONS
    )
    return (
        back.groupBy(F.col("n_regionkey").alias("regionkey"))
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.min("n_name").alias("first_name"),
            F.max(F.length("n_name")).alias("max_name_len"),
        )
        .orderBy("regionkey")
    )


@register(
    "json_scan_roundtrip",
    oracle="""
SELECT r_regionkey, r_name, length(r_name) AS name_len
FROM region
ORDER BY r_regionkey
""",
    tags=("source", "json"),
)
def json_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan: write region to JSON, read back with explicit
    schema (inference is a second full scan — never the plan at
    100 TB), project."""
    region = _t(spark, sf_dir, "region")
    back = write_read(
        spark, region, scratch_dir(sf_dir, "region_json"), "json", JSON_OPTIONS
    )
    return back.select(
        "r_regionkey", "r_name", F.length("r_name").alias("name_len")
    ).orderBy("r_regionkey")


@register(
    "parquet_write_partitioned",
    oracle="""
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
FROM orders
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    tags=("sink", "parquet", "partition-pruning"),
)
def parquet_write_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned Parquet write (hive-style dirs on o_orderpriority,
    zstd) then read-back with a filter on the partition column — the
    filter must prune to one directory at planning time, which is the
    exact mechanism partition elimination uses at 100 TB."""
    orders = _t(spark, sf_dir, "orders")
    back = write_read(
        spark,
        orders,
        scratch_dir(sf_dir, "orders_part"),
        "parquet",
        {"compression": "zstd"},
        partition_by=["o_orderpriority"],
    )
    return (
        back.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "parquet_write_codecs",
    oracle="""
SELECT count(*) AS n, CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price,
       min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
FROM orders
""",
    tags=("sink", "parquet", "codec"),
)
def parquet_write_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet write→read under each codec the reference's writer/
    shuffle supports (zstd, lz4, snappy — operator.proto:301-306);
    union the read-backs and verify identical totals under each."""
    orders = _t(spark, sf_dir, "orders")
    frames = [
        write_read(
            spark,
            orders,
            scratch_dir(sf_dir, f"orders_{codec}"),
            "parquet",
            {"compression": codec},
        )
        for codec in ("zstd", "lz4", "snappy")
    ]
    totals = [
        f.agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").alias("sum_price"),
            F.min("o_orderdate").alias("min_date"),
            F.max("o_orderdate").alias("max_date"),
        )
        for f in frames
    ]
    out = totals[0]
    for t in totals[1:]:
        out = out.union(t)
    return out.distinct()


@register(
    "orc_scan_roundtrip",
    oracle="""
SELECT s_nationkey,
       count(*) AS n_supp,
       CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_bal,
       min(s_name) AS first_name
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
""",
    tags=("source", "sink", "orc"),
)
def orc_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan/sink: write supplier to zstd ORC, read it back through
    Spark's vectorized ORC reader, aggregate.  Beyond the reference's
    format surface (its scan oneof is Parquet/CSV/Iceberg only —
    reference: native/proto/src/proto/operator.proto:38-56); the oracle
    sees only the canonical parquet, so a hash match proves the ORC
    round trip is lossless."""
    supplier = _t(spark, sf_dir, "supplier")
    back = write_read(
        spark,
        supplier,
        scratch_dir(sf_dir, "supplier_orc"),
        "orc",
        {"compression": "zstd"},
    )
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.round(F.sum(F.col("s_acctbal").cast("decimal(18,2)")), 2)
            .cast("double").alias("sum_bal"),
            F.min("s_name").alias("first_name"),
        )
        .orderBy("s_nationkey")
    )


@register(
    "text_scan_roundtrip",
    oracle="""
SELECT n_name AS value, CAST(length(n_name) AS INT) AS len
FROM nation
ORDER BY value
""",
    tags=("source", "sink", "text"),
)
def text_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-text source: write nation names as newline-delimited text,
    read back via ``spark.read.text`` (one ``value`` column — the
    ingestion shape of every LLM-corpus pipeline; splits parallelize on
    line boundaries at any scale)."""
    nation = _t(spark, sf_dir, "nation")
    back = write_read(
        spark,
        nation.select(F.col("n_name").alias("value")),
        scratch_dir(sf_dir, "nation_txt"),
        "text",
        {},
    )
    return back.select(
        "value", F.length("value").alias("len")
    ).orderBy("value")


@register(
    "python_datasource_scan",
    oracle=generator_oracle_sql(0, 2000) + """
SELECT kind,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(points) AS BIGINT) AS sum_points,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       min(id) AS min_id,
       max(id) AS max_id
FROM gen
GROUP BY kind
ORDER BY kind
""",
    tags=("source", "python-datasource"),
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector through the PySpark 4 Python DataSource API
    (the single-engine analogue of the reference's native scan
    extension point, reference: operator.proto:38-56 scan oneof):
    metadata-only partition planning, one independent reader per
    partition, deterministic rows recomputed by the DuckDB oracle.
    Aggregates downstream run in ordinary codegen — the source is just
    another leaf."""
    return (
        _synthetic_events(spark)
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("points").cast("bigint").alias("sum_points"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("kind")
    )


@register(
    "xml_scan_roundtrip",
    oracle="""
SELECT n_regionkey,
       CAST(count(*) AS BIGINT) AS n_nations,
       CAST(sum(length(n_name)) AS BIGINT) AS name_chars,
       min(n_name) AS first_name
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
    tags=("source", "xml"),
)
def xml_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scan/sink (native in Spark 4 — the reference's scan oneof
    stops at Parquet/CSV/Iceberg, operator.proto:38-56): write nation
    to XML, read back with an explicit schema, aggregate over the
    text column so character fidelity (entity escaping included) is
    part of what the hash-match proves."""
    nation = _t(spark, sf_dir, "nation")
    back = write_read(
        spark, nation, scratch_dir(sf_dir, "nation_xml"), "xml", XML_OPTIONS
    )
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nations"),
            F.sum(F.length("n_name")).cast("bigint").alias("name_chars"),
            F.min("n_name").alias("first_name"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "binaryfile_ingest",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
WHERE doc_id < 20 AND text IS NOT NULL
ORDER BY doc_id
""",
    tags=("source", "binary", "multimodal"),
)
def binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` ingestion — the actual Spark entry point for
    image/audio/video corpora (one row per file: path, length,
    binary content), feeding the multimodal decode/featurize
    operators (`multimodal_decode_stub`, `multimodal_embed_ann`).
    Twenty documents are materialized as .bin files (setup fixture,
    driver-side by construction — the operator under test is the
    distributed scan), then read back as opaque bytes; the record key
    is parsed from the file path, and the oracle recomputes byte
    length + md5 from the source table, proving byte-lossless
    ingestion.  At 100 TB the same plan reads a bucket listing —
    binaryFile parallelizes per file and never loads a file twice."""
    import os
    import shutil

    docs = (
        _t(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 20) & F.col("text").isNotNull())
        .select("doc_id", "text")
        .collect()
    )
    out = scratch_dir(sf_dir, "binary_docs")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for r in docs:
        with open(os.path.join(out, f"doc-{r.doc_id:05d}.bin"), "wb") as f:
            f.write(r.text.encode("utf-8"))
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(out)
    )
    return files.select(
        F.regexp_extract(F.col("path"), r"doc-(\d+)\.bin", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.length("content").cast("bigint").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    ).orderBy("doc_id")


@register(
    "python_datasource_pushdown",
    oracle=generator_oracle_sql(300, 1500) + """
SELECT kind,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(points) AS BIGINT) AS sum_points,
       min(id) AS min_id,
       max(id) AS max_id
FROM gen
WHERE kind = 'click' AND points >= 100
GROUP BY kind
ORDER BY kind
""",
    tags=("source", "python-datasource", "pushdown"),
)
def python_datasource_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connector-side filter pushdown through the Spark 4.1
    ``pushFilters`` protocol — the Python analogue of the reference's
    NativeScan pushed data filters (reference: operator.proto:99-132
    ``data_filters``; residual split CometScanRule.scala:149-257).

    The id-range predicates prune PARTITIONS at planning time (the
    source's slices are contiguous id ranges — parquet row-group
    min/max pruning in miniature), ``kind = 'click'`` filters rows
    inside the reader, and ``points >= 100`` comes back as residual
    for Spark to evaluate post-scan.  `test_python_datasource_pushdown_
    prunes_partitions` pins the planning-side effect; this query pins
    the three-way filter split's correctness."""
    df = _synthetic_events(spark).filter(
        (F.col("id") >= 300)
        & (F.col("id") < 1500)
        & (F.col("kind") == "click")
        & (F.col("points") >= 100)
    )
    return (
        df.groupBy("kind")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("points").cast("bigint").alias("sum_points"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("kind")
    )


@register(
    "parquet_schema_evolution",
    oracle="""
SELECT r_regionkey,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN has_flag THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
FROM (
  SELECT r_regionkey, FALSE AS has_flag FROM region
  UNION ALL
  SELECT r_regionkey, TRUE  AS has_flag FROM region
)
GROUP BY r_regionkey
ORDER BY r_regionkey
""",
    tags=("source", "parquet", "schema-evolution"),
)
def parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: generation 1 writes region WITHOUT the
    ``flag`` column, generation 2 adds it; ``mergeSchema`` reconciles
    by NAME and old files surface NULL for the new column (the
    Spark-side analogue of the reference's NativeScan default-value /
    schema-evolution machinery, reference: operator.proto:126-132,
    CometScanRule.scala:149-257).  At 100 TB this is how a years-old
    lakehouse table gains columns without rewrites — readers see one
    logical schema across file generations."""
    import os

    region = _t(spark, sf_dir, "region")
    base = scratch_dir(sf_dir, "region_evolve")
    region.select("r_regionkey", "r_name").write.mode("overwrite").parquet(
        os.path.join(base, "gen=1")
    )
    region.select(
        "r_regionkey", "r_name", F.lit(True).alias("flag")
    ).write.mode("overwrite").parquet(os.path.join(base, "gen=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    return (
        merged.groupBy("r_regionkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.coalesce(F.col("flag"), F.lit(False)), 1).otherwise(0)
            ).cast("bigint").alias("n_flagged"),
        )
        .orderBy("r_regionkey")
    )


@register(
    "parquet_field_id_matching",
    oracle="""
SELECT nation_id, nation_name, region_id
FROM (
  SELECT n_nationkey AS nation_id, n_name AS nation_name,
         n_regionkey AS region_id
  FROM nation
)
ORDER BY nation_id
""",
    tags=("source", "parquet", "field-id"),
)
def parquet_field_id_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet FIELD-ID column matching (round-3 verdict item 5;
    reference: operator.proto:99-132 `case_sensitive`/field-id scan
    options, native/core/src/execution/planner.rs:1246-1373): columns
    are resolved by the parquet field_id physical annotation, not by
    name, so a reader-side RENAME still binds to the right data.

    Generation 1 writes nation with field ids 1/2/3 stamped on
    (n_nationkey, n_name, n_regionkey) via Spark's
    ``parquet.field.id`` column metadata
    (spark.sql.parquet.fieldId.write.enabled).  The read schema uses
    NEW names (nation_id, nation_name, region_id) carrying the SAME
    ids; with fieldId.read.enabled the scan matches on id and the
    rename is free — the mechanism that lets a 100 TB lakehouse table
    rename columns without rewriting a single file.  (Parquet modular
    encryption, the other scan-option depth item, is env-blocked: the
    container's parquet-hadoop ships PropertiesDrivenCryptoFactory but
    no concrete KmsClient implementation — see COVERAGE.md.)"""
    import os

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    nation = _t(spark, sf_dir, "nation")
    path = scratch_dir(sf_dir, "nation_field_ids")
    # field ids ride on column metadata (Column.alias(metadata=...));
    # no RDD round-trip needed
    stamped = nation.select(
        F.col("n_nationkey").alias(
            "n_nationkey", metadata={"parquet.field.id": 1}
        ),
        F.col("n_name").alias("n_name", metadata={"parquet.field.id": 2}),
        F.col("n_regionkey").alias(
            "n_regionkey", metadata={"parquet.field.id": 3}
        ),
    )
    read_schema = StructType(
        [
            StructField(
                "nation_id", LongType(), True,
                metadata={"parquet.field.id": 1},
            ),
            StructField(
                "nation_name", StringType(), True,
                metadata={"parquet.field.id": 2},
            ),
            StructField(
                "region_id", LongType(), True,
                metadata={"parquet.field.id": 3},
            ),
        ]
    )
    field_ids = {
        "spark.sql.parquet.fieldId.write.enabled": "true",
        "spark.sql.parquet.fieldId.read.enabled": "true",
    }
    with conf_override(spark, field_ids):
        stamped.write.mode("overwrite").parquet(path)
        # the scan must run while fieldId.read is on — the file's
        # physical names (n_*) never match the renamed read schema, so
        # any row coming back proves id-based binding; materialize and
        # pin the result so the returned plan is conf-independent
        rows = (
            spark.read.schema(read_schema)
            .parquet(path)
            .orderBy("nation_id")
            .collect()
        )
    assert rows and rows[0]["nation_name"] is not None, (
        "field-id matching returned no data — id binding failed"
    )
    return spark.createDataFrame(rows, read_schema).orderBy("nation_id")


@register(
    "parquet_dynamic_partition_overwrite",
    oracle="""
WITH final AS (
  SELECT o_orderstatus, o_orderkey, o_totalprice
  FROM orders WHERE o_orderstatus <> 'P'
  UNION ALL
  SELECT o_orderstatus, o_orderkey, o_totalprice
  FROM orders WHERE o_orderstatus = 'P' AND o_orderkey % 2 = 0
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS sum_price
FROM final
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    tags=("sink", "parquet", "dynamic-overwrite"),
)
def parquet_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite — the incremental-reprocess write
    path (absent in the reference: its ParquetWriter is a plain
    one-shot sink, operator.proto:320-338).  Seed a table partitioned
    by o_orderstatus, then rewrite ONLY the 'P' partition from a patch
    batch (``partitionOverwriteMode=dynamic`` scoped to this writer,
    not session-wide); partitions absent from the patch must survive
    untouched.  This is how a 100 TB corpus re-runs one day/source
    without rewriting the table — the overwrite unit is the partition
    directory, so the blast radius is exactly the data that changed."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderkey", "o_totalprice"
    )
    path = scratch_dir(sf_dir, "orders_dynpo")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    patch = orders.filter(
        (F.col("o_orderstatus") == "P") & (F.col("o_orderkey") % 2 == 0)
    )
    (
        patch.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "compact_small_files",
    oracle="""
SELECT CAST(64 AS BIGINT) AS files_before,
       CAST(4 AS BIGINT)  AS files_after,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS sum_qty
FROM lineitem
""",
    tags=("sink", "parquet", "compaction"),
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance pass every
    long-running ingest needs (absent in the reference; its writer has
    no file-size management, operator.proto:320-338).  Seed a
    64-file fragmented table, compact with ``coalesce(4)`` —
    shuffle-FREE: coalesce stitches input splits onto fewer tasks
    instead of re-hashing rows like repartition would — and verify
    file counts via distinct ``input_file_name()`` plus a content
    checksum proving no rows were lost.  At 100 TB the same pass runs
    per-partition-directory with a target file size
    (maxRecordsPerFile), never a global repartition."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    frag = scratch_dir(sf_dir, "lineitem_frag")
    li.repartition(64).write.mode("overwrite").parquet(frag)
    compacted = scratch_dir(sf_dir, "lineitem_compact")
    # Pin the read's split size for the compaction pass: split packing
    # uses bytesPerCore = totalCost / parallelism, so on a low-core
    # session the 64 tiny files pack into FEWER than 4 read splits and
    # coalesce(4) — which can only merge, never split — emits fewer
    # files (found by the round-7 local[3]/shuffle=5 partition-
    # independence sweep: 3 files where the oracle pins 4).  8 MB max
    # split with the default 4 MB per-file open cost guarantees >= 32
    # read splits for 64 files at ANY parallelism; the coalesce target
    # stays the only file-count decision.
    with conf_override(spark, {"spark.sql.files.maxPartitionBytes": "8m"}):
        spark.read.parquet(frag).coalesce(4).write.mode(
            "overwrite"
        ).parquet(compacted)
    files_before = (
        spark.read.parquet(frag)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    back = spark.read.parquet(compacted)
    files_after = (
        back.select(F.input_file_name().alias("f")).distinct().count()
    )
    return back.agg(
        F.lit(files_before).cast("bigint").alias("files_before"),
        F.lit(files_after).cast("bigint").alias("files_after"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("sum_qty"),
    )


@register(
    "python_datasource_stream",
    oracle=generator_oracle_sql(0, 1200) + """
SELECT kind,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(points) AS BIGINT) AS sum_points,
       min(id) AS min_id,
       max(id) AS max_id
FROM gen
GROUP BY kind
ORDER BY kind
""",
    tags=("source", "python-datasource", "streaming"),
)
def python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING connector through the Python DataSource stream
    reader protocol (initialOffset/latestOffset/partitions/read/commit
    — offsets are row positions, so replay re-reads exactly the
    committed slice).  The reference rejects every streaming plan
    (CometExecRule.scala:548-550); here a replayable custom stream
    source is ~40 lines of Python and the downstream aggregation is
    the ordinary codegen'd rollup.  The availableNow run reads all 1200
    rows as ONE microbatch of four offset slices; the oracle
    regenerates the same rows with generate_series — pinning that the
    slicing loses/duplicates nothing."""
    from ..streaming import run_to_memory

    agg = _synthetic_events_stream(spark).groupBy("kind").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("points").cast("bigint").alias("sum_points"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )
    out = run_to_memory(agg, "python_ds_stream_sink", "complete")
    return out.orderBy("kind")


@register(
    "python_datasource_write",
    oracle="""
SELECT n_regionkey,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(length(n_name)) AS BIGINT) AS name_chars
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
    tags=("source", "python-datasource", "write"),
)
def python_datasource_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom WRITE path through the Python DataSource two-phase commit
    protocol: per-task part files named invisibly (uuid), a
    WriterCommitMessage per task, and a driver-side manifest commit —
    the same contract the reference's native ParquetWriter honors via
    FileCommitProtocol (reference: operator.proto:320-338).  Task
    retries/speculation never double-count because uncommitted parts
    are not in the manifest.

    The query writes nation through the jsonl_dir sink, reads the
    manifest-listed files back, and aggregates — matching the direct
    SQL oracle proves the write→commit→read cycle is lossless."""
    import shutil

    register_sources(spark)
    path = scratch_dir(sf_dir, "jsonl_sink_nation")
    shutil.rmtree(path, ignore_errors=True)  # fresh run: no earlier commit
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    (
        nation.write.format("jsonl_dir")
        .option("path", path)
        .mode("append")
        .save()
    )
    back = read_committed(
        spark, path, "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"
    )
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.length("n_name")).cast("bigint").alias("name_chars"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "iceberg_mor_deletes_emulation",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         o_orderkey % 2 AS file_id,
         CAST(row_number() OVER (PARTITION BY o_orderkey % 2
                                 ORDER BY o_orderkey) - 1 AS BIGINT) AS pos
  FROM orders
),
pos_del AS (
  SELECT CAST(0 AS BIGINT) AS file_id,
         CAST(unnest(generate_series(0, 99)) AS BIGINT) AS pos
),
surviving AS (
  SELECT b.* FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM pos_del d
                    WHERE d.file_id = b.file_id AND d.pos = b.pos)
    AND NOT (b.o_custkey % 97 = 0)
)
SELECT o_orderstatus,
       count(*) AS n_rows,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total
FROM surviving
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    tags=("sources", "iceberg", "mor", "deletes"),
)
def iceberg_mor_deletes_emulation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg merge-on-read scan semantics rebuilt on plain
    DataFrames: positional deletes (delete applies to (file, row-pos)
    pairs) and equality deletes (delete applies to any row matching
    the key) merged into the scan, with Iceberg's sequence-number
    visibility rule — a delete file applies only to data files with a
    LOWER data sequence number (reference: IcebergScan
    operator.proto:180-266, positional/equality MOR deletes
    native/core/src/execution/operators/iceberg_scan.rs; the
    reference's second-largest scan operator at ~2000 LoC).

    The emulation: row position = per-file row_number over the file's
    write order; positional deletes anti-join on (file_id, pos);
    equality deletes carry a sequence number and are filtered to
    seq > data_seq BEFORE the anti join — the obsolete delete (seq 0
    vs data seq 1) must NOT remove rows, which the oracle pins by
    simply omitting it.  Scale: both delete sets broadcast (delete
    files are orders of magnitude smaller than data files); the only
    fact exchange is the per-file position window, which a real
    Iceberg reader gets for free from file row ordering."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        (F.col("o_orderkey") % 2).alias("file_id"),
    ).withColumn(
        "pos",
        (
            F.row_number().over(
                W.partitionBy("file_id").orderBy("o_orderkey")
            )
            - 1
        ).cast("long"),
    )
    data_seq = 1
    pos_del = spark.range(0, 100).select(
        F.lit(0).cast("long").alias("file_id"), F.col("id").alias("pos")
    )
    eq_del = spark.createDataFrame(
        [(97, 2), (89, 0)], "modulus INT, seq INT"
    ).filter(F.col("seq") > data_seq)
    survivors = base.join(
        F.broadcast(pos_del), ["file_id", "pos"], "left_anti"
    ).join(
        F.broadcast(eq_del),
        F.col("o_custkey") % F.col("modulus") == 0,
        "left_anti",
    )
    return (
        survivors.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2
            )
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "python_datasource_stream_sink",
    oracle=generator_oracle_sql(0, 1200) + """
SELECT kind,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(points) AS BIGINT) AS sum_points,
       min(id) AS min_id,
       max(id) AS max_id
FROM gen
GROUP BY kind
ORDER BY kind
""",
    tags=("source", "python-datasource", "streaming", "sink"),
)
def python_datasource_stream_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Custom STREAMING SINK through the Python DataSource
    stream-writer protocol: per-microbatch two-phase commit (task part
    files → driver publishes manifest-<batchId>.json), exactly-once by
    batch-id-idempotent manifests — a replayed batch overwrites its
    own manifest instead of appending, so the manifest-consulting
    reader can never double-count.  Completes the connector matrix
    (batch read/write, stream read, filter pushdown → stream write);
    the reference has NO streaming write path (its plan rule rejects
    every streaming plan, CometExecRule.scala:548-550).  The readback
    aggregates only manifest-listed files and must reproduce the
    deterministic source exactly — the oracle regenerates the same
    rows arithmetically."""
    import shutil

    from ..streaming import fresh_checkpoint

    path = scratch_dir(sf_dir, "jsonl_stream_sink")
    shutil.rmtree(path, ignore_errors=True)  # fresh run: no earlier commit
    q = (
        _synthetic_events_stream(spark)
        .writeStream.format("jsonl_dir")
        .option("path", path)
        .option("checkpointLocation", fresh_checkpoint("python_ds_stream_sink"))
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(120)
    assert finished, (
        f"stream did not finish within 120s; lastProgress={q.lastProgress}"
    )
    back = read_committed(spark, path, SCHEMA_DDL)
    return (
        back.groupBy("kind")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("points").cast("bigint").alias("sum_points"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("kind")
    )
