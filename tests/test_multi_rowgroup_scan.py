"""Multi-row-group scan behavior: the 100 TB scan-parallelism story,
previously prose-only (bench.py:14-20 — driver testdata is
single-row-group, capping every scan at 1 task).

The reference generates its own multi-row-group test parquet
(reference: spark/src/main/scala/org/apache/comet/testing/
ParquetGenerator.scala) and asserts scan behavior on it; this suite
does the same with pyarrow: rewrite the sf0.01 lineitem sorted by
l_orderkey into 8 row groups, then pin the three properties a
splittable columnar scan must have at scale —

  1. a file with N row groups splits into >1 Spark task once
     maxPartitionBytes < file size (a split can't subdivide a row
     group, but it CAN parallelize across them);
  2. results are split-invariant: the multi-task read aggregates to
     exactly the same values as the single-task read of the driver's
     original single-row-group file;
  3. pushed filters prune at row-group granularity: a narrow
     predicate on the sorted column makes the scan OUTPUT one row
     group's rows, not the file's (reader-level skipping via
     row-group statistics — the mechanism partition pruning hands
     off to inside each file).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from conftest import corpus_beside
from pyspark.sql import functions as F

from datafusion_comet_spark.plans import pushed_filters, walk_plan
from datafusion_comet_spark.session import conf_override

ROW_GROUP_SIZE = 8000


@pytest.fixture(scope="module")
def src() -> str:
    """The sf0.01 lineitem file: one row group."""
    return os.path.join(corpus_beside("sf0.01"), "lineitem.parquet")


@pytest.fixture(scope="module")
def mrg_path(tmp_path_factory, src):
    """lineitem rewritten as one file with many row groups, sorted by
    l_orderkey so row-group min/max statistics are disjoint (the
    precondition for pruning — same layout test_semantics.py pins for
    the sorted parquet writer)."""
    path = str(tmp_path_factory.mktemp("mrg") / "lineitem_mrg.parquet")
    tbl = pq.read_table(src).sort_by("l_orderkey")
    pq.write_table(tbl, path, row_group_size=ROW_GROUP_SIZE)
    meta = pq.ParquetFile(path).metadata
    assert meta.num_row_groups > 4, meta.num_row_groups
    return path


@pytest.fixture()
def small_split(spark):
    """Clamp maxPartitionBytes below the file size so the scan splits,
    restoring the session default afterwards."""
    with conf_override(spark, {"spark.sql.files.maxPartitionBytes": str(256 * 1024)}):
        yield


def test_multi_rowgroup_file_splits_into_tasks(spark, mrg_path, small_split):
    df = spark.read.parquet(mrg_path)
    n_tasks = (
        df.select(F.spark_partition_id().alias("p")).distinct().count()
    )
    assert n_tasks > 1, (
        f"multi-row-group file scanned by {n_tasks} task — "
        "split never crossed row-group boundaries"
    )


def test_split_read_is_result_invariant(spark, src, mrg_path, small_split):
    """The multi-task read of the re-grouped file aggregates to the
    EXACT values of the single-task read of the original file — row
    groups change physical layout only.  Sums go through decimal so
    the comparison is addition-order-independent."""

    def digest(path):
        return (
            spark.read.parquet(path)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("string")
                .alias("sum_price"),
                F.sum("l_orderkey").alias("sum_key"),
                F.countDistinct("l_orderkey").alias("n_orders"),
                F.min("l_shipdate").cast("string").alias("min_ship"),
                F.max("l_shipdate").cast("string").alias("max_ship"),
            )
            .collect()[0]
        )

    assert digest(mrg_path) == digest(src)


def test_pushed_filter_prunes_row_groups(spark, mrg_path):
    """A narrow range predicate on the sorted column must reach the
    parquet reader (PushedFilters) AND skip non-matching row groups:
    the scan node's numOutputRows is a small multiple of one row
    group, strictly below the file's row count.  This is the per-file
    analogue of partition pruning — without it, a 100 TB scan with a
    selective time/key predicate decodes every byte it could have
    skipped from footer statistics."""
    total = pq.ParquetFile(mrg_path).metadata.num_rows
    df = (
        spark.read.parquet(mrg_path)
        .filter((F.col("l_orderkey") >= 100) & (F.col("l_orderkey") <= 200))
    )
    pushed = pushed_filters(df)
    assert any("l_orderkey" in f for f in pushed), pushed

    n_match = df.count()
    assert 0 < n_match < ROW_GROUP_SIZE

    # re-run as collect so the scan metric reflects this execution
    df2 = (
        spark.read.parquet(mrg_path)
        .filter((F.col("l_orderkey") >= 100) & (F.col("l_orderkey") <= 200))
    )
    df2.collect()
    scans = [n for cls, n in walk_plan(df2) if cls == "FileSourceScanExec"]
    assert scans, "no FileSourceScanExec found in executed plan"
    scanned = sum(s.metrics().apply("numOutputRows").value() for s in scans)
    # the range spans at most 2 row groups of a sorted file; allow 2
    assert scanned <= 2 * ROW_GROUP_SIZE, (
        f"scan output {scanned} rows of {total} — row groups not pruned"
    )
    assert scanned < total
    assert scanned >= n_match
