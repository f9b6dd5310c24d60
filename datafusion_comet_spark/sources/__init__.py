"""Source/sink layer: file-format round trips and the Python connectors.

The reference exposes three file-format operators beyond the Parquet
scan: a CSV scan with header/delimiter/quote/escape/comment options
(reference: native/proto/src/proto/operator.proto:134-151,
native/core/src/execution/operators/csv_scan.rs) and a native Parquet
writer with committer plumbing (operator.proto:320-338,
native/core/src/execution/operators/parquet_writer.rs).  In the
PySpark build both collapse to ``spark.read``/``df.write``, and so do
the formats the reference lacks (ORC, text, XML): ``write_read`` is
the one write→read-back round trip for all of them, with each format's
pinned option set below, and ``scratch_dir`` gives queries a
deterministic scratch area for it.  The Python DataSource connectors
(a synthetic batch/stream source and a JSONL batch/stream sink) are in
``python_datasource``.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Sequence

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

# One <row> element per row under a <rows> root (Spark 4 ships the XML
# source natively; entity escaping round-trips values losslessly).
XML_OPTIONS: dict[str, str] = {"rootTag": "rows", "rowTag": "row"}


def scratch_dir(sf_dir: str, leaf: str) -> str:
    """Deterministic per-scale scratch path for write→read-back tests.

    Writes go under the system temp dir (never into the read-only
    testdata tree); the same (sf, leaf) pair always maps to the same
    path so repeated runs overwrite in place.
    """
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return os.path.join(tempfile.gettempdir(), "dcs_io", sf_name, leaf)


def write_read(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    fmt: str,
    options: dict[str, str],
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """Write ``df`` to ``path`` as ``fmt`` in overwrite mode and read it
    back; ``options`` go to both sides (a reader ignores the write-only
    ones, such as ``compression``).  ``partition_by`` produces
    hive-style partition dirs, so a read-back filter on a partition
    column prunes at planning time.  The read-back passes the written
    frame's schema: inference would cost a job (a footer read, or a
    full extra scan and type guessing for CSV/JSON/XML) to learn a
    schema the caller already has; partition columns still move last,
    as with inference."""
    writer = df.write.mode("overwrite").format(fmt).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
    return spark.read.format(fmt).schema(df.schema).options(**options).load(path)
