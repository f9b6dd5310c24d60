"""Custom connectors via the PySpark 4 Python DataSource API.

The reference's extension point for new inputs is a native scan operator
compiled into the engine (reference: native/proto/src/proto/operator.proto:38-56
scan oneof; native/core/src/execution/operators/{scan,csv_scan}.rs) — adding a
format means Rust + serde + shims.  The PySpark-native equivalent is the
``pyspark.sql.datasource`` API: declare a schema, plan ``InputPartition``s,
and yield rows per partition; Spark distributes one reader per partition and
everything downstream (pushdown-eligible filters, AQE, codegen) applies as
with any DSv2 source.

Two connectors, one class each, whatever the access path:

* ``synthetic_events`` reads (batch, with filter pushdown) and streams a
  deterministic synthetic event table generated from a pure function of the
  row id — no state, no I/O — so each partition reads independently (the
  100 TB posture: partition planning is metadata-only and readers never
  coordinate), and any engine can recompute the same rows
  (``generator_oracle_sql`` is the DuckDB form of the same generator);
* ``jsonl_dir`` writes JSONL part files in batch and per microbatch, each
  commit publishing one manifest (a batch overwrite then removes the
  earlier manifests and their part files); ``read_committed`` reads back
  exactly the manifest-listed files.

``register_sources`` registers both with a session.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

SCHEMA_DDL = "id BIGINT, user_id BIGINT, kind STRING, points BIGINT"

KINDS = ("view", "click", "purchase")

# Knuth multiplicative constant: cheap deterministic scatter of the row id.
_MIX = 2654435761
_USERS = 97
_POINTS = 1000


class _Slice(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


def _slices(lo: int, hi: int, n_parts: int) -> list[_Slice]:
    """Metadata-only planning: ids [lo, hi) as contiguous slices of
    (hi - lo) // n_parts ids each."""
    step = max(1, (hi - lo) // n_parts)
    bounds = list(range(lo, hi, step)) + [hi]
    return [_Slice(a, b) for a, b in zip(bounds, bounds[1:])]


def _rows(partition: _Slice, kinds: set | None = None):
    """The rows of one slice: a pure function of the row id."""
    for i in range(partition.start, partition.end):
        h = (i * _MIX) % (1 << 32)
        kind = KINDS[h % len(KINDS)]
        if kinds is None or kind in kinds:
            yield (i, h % _USERS, kind, h % _POINTS)


def generator_oracle_sql(lo: int, hi: int) -> str:
    """DuckDB's ``WITH gen AS (...)`` over ids [lo, hi): the rows
    ``_rows`` yields for them, for oracles of queries that read the
    synthetic source."""
    h = f"(i * {_MIX}) % {1 << 32}"
    kinds = ", ".join(f"'{k}'" for k in KINDS)
    return f"""
WITH gen AS (
  SELECT i AS id,
         {h} % {_USERS} AS user_id,
         [{kinds}][CAST({h} % {len(KINDS)} AS INT) + 1] AS kind,
         {h} % {_POINTS} AS points
  FROM (SELECT unnest(generate_series({lo}, {hi - 1})) AS i)
)"""


# --------------------------------------------------------------------------
# Batch reader with filter pushdown (Spark 4.1 `pushFilters`): the
# connector-side analogue of the reference's NativeScan pushed data filters
# (reference: operator.proto:99-132 `data_filters`; JVM-side gating
# rules/CometScanRule.scala:149-257).  Two pushdown classes, mirroring
# what a real source does with each:
#
# * range predicates on `id` PRUNE PARTITIONS — the slices are
#   contiguous id ranges, so partition planning intersects each slice
#   with the pushed bounds and drops empty ones (the Python equivalent
#   of parquet row-group min/max pruning: the filter removes WORK, not
#   just rows);
# * `kind = ...` filters rows inside read() (dictionary-filter
#   analogue — same I/O, less deserialization + exchange traffic).
#
# Everything else is returned to Spark and evaluated post-scan, exactly
# like the reference's residual (non-pushed) filter split.  Spark refuses
# to plan a reader that implements pushFilters unless
# spark.sql.python.filterPushdown.enabled is true; with no filter pushed
# the reader plans the unclipped slices.
# --------------------------------------------------------------------------


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 1000))
        self.n_parts = int(options.get("n_partitions", 8))
        self.id_lo = 0            # inclusive
        self.id_hi = self.n_rows  # exclusive
        self.kinds: set | None = None

    def pushFilters(self, filters):
        for f in filters:
            if f.attribute == ("id",) and isinstance(
                f, (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
            ):
                v = int(f.value)
                if isinstance(f, GreaterThan):
                    self.id_lo = max(self.id_lo, v + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    self.id_lo = max(self.id_lo, v)
                elif isinstance(f, LessThan):
                    self.id_hi = min(self.id_hi, v)
                else:
                    self.id_hi = min(self.id_hi, v + 1)
            elif f.attribute == ("kind",) and isinstance(f, EqualTo):
                self.kinds = {f.value}
            else:
                yield f  # residual: Spark evaluates it post-scan

    def partitions(self):
        # Partition pruning: the slices, clipped to the PUSHED id range;
        # slices outside it are never planned.
        out = [
            _Slice(max(s.start, self.id_lo), min(s.end, self.id_hi))
            for s in _slices(0, self.n_rows, self.n_parts)
            if max(s.start, self.id_lo) < min(s.end, self.id_hi)
        ]
        return out or [_Slice(0, 0)]

    def read(self, partition: _Slice):
        return _rows(partition, self.kinds)


# --------------------------------------------------------------------------
# Stream reader: the same generator through the Python DataSource STREAM
# reader protocol (initialOffset → latestOffset → partitions(start, end) →
# read → commit).  The reference has no streaming surface at all
# (CometExecRule.scala:548-550 rejects streaming plans).  Offsets are row
# counts: each microbatch covers an id slice, so replay after failure
# re-reads exactly the committed range — the offset log, not the source, is
# the source of truth (100 TB posture: sources must be replayable; Kafka
# offsets / file lists play this role in production).
# --------------------------------------------------------------------------


class SyntheticEventsStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 1000))
        self.n_parts = int(options.get("n_partitions", 4))

    def initialOffset(self):
        return {"row": 0}

    def latestOffset(self):
        # All n_rows are available at once: an availableNow run reads
        # them as one microbatch.
        return {"row": self.n_rows}

    def partitions(self, start: dict, end: dict):
        return _slices(start["row"], end["row"], self.n_parts)

    def read(self, partition: _Slice):
        return _rows(partition)

    def commit(self, end: dict) -> None:
        # Offsets below `end` are durably processed; a real source
        # would trim its upstream retention here.
        pass


class SyntheticEventsDataSource(DataSource):
    """``spark.read.format("synthetic_events")`` and
    ``spark.readStream.format("synthetic_events")`` — deterministic rows."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema: StructType) -> DataSourceReader:
        return SyntheticEventsReader(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return SyntheticEventsStreamReader(self.options)


# --------------------------------------------------------------------------
# Writers: the Python DataSource WRITE path with the two-phase commit
# protocol (per-task write → WriterCommitMessage → driver-side commit),
# run once per batch write and once PER MICROBATCH by the stream writer.
# The reference's writer is its native ParquetWriter wired into Spark's
# FileCommitProtocol (reference: operator.proto:320-338,
# native/core/src/execution/operators/parquet_writer.rs); the protocol
# obligations are identical here: task output is invisible until the
# driver commit publishes a manifest listing it, so stragglers/retries
# never double-count (speculative duplicates die at commit).  A stream
# commit names its manifest by batch id, so a replayed microbatch (task
# retry, driver restart between write and checkpoint advance) OVERWRITES
# its own manifest rather than adding a second one: exactly-once by
# batch-id idempotence.  The reference has no streaming write path at all
# (CometExecRule.scala:548-550).
# --------------------------------------------------------------------------


class _PartFile(WriterCommitMessage):
    def __init__(self, path: str, n_rows: int):
        self.path = path
        self.n_rows = n_rows


def _publish_json(obj, dest: str) -> None:
    """Atomic manifest publication: write to a same-directory temp
    file, then os.replace() onto the final name.  A truncating
    in-place open(dest, 'w') would let a crash mid-commit (notably
    during a streaming batch replay) expose a truncated manifest to
    manifest-consulting readers; rename is atomic on POSIX so readers
    see either the old manifest or the complete new one, never a
    partial write."""
    tmp = f"{dest}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, dest)


class _JsonlPartWriter:
    """The side shared by the batch and stream JSONL writers: each task
    writes one part file under a task-unique name, invisible to readers
    until a committed manifest lists it; abort removes them."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_dir requires option 'path'")

    def write(self, iterator):
        os.makedirs(self.path, exist_ok=True)
        part = os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(part, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _PartFile(part, n)

    def abort(self, messages, batchId: int | None = None) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)

    def _commit(self, messages, commit_id: str) -> str:
        manifest = {
            "files": [
                {"path": m.path, "n_rows": m.n_rows}
                for m in sorted(messages, key=lambda m: m.path)
            ],
        }
        dest = os.path.join(self.path, f"manifest-{commit_id}.json")
        _publish_json(manifest, dest)
        return dest


class JsonlDirWriter(_JsonlPartWriter, DataSourceWriter):
    """The batch writer.  An append commit adds its manifest to those
    already in the directory.  An overwrite commit first publishes its
    own manifest, then removes each earlier manifest and, after it, the
    part files that manifest lists.  Publishing first means a reader
    never finds the directory empty: one that lists the manifests
    during an overwrite can read the earlier and the new rows together,
    and one that opened an earlier manifest before its removal can fail
    on a part file removed under it.  A reader that starts after the
    commit returns reads only the new rows."""

    def __init__(self, options, overwrite: bool):
        super().__init__(options)
        self.overwrite = overwrite

    def commit(self, messages) -> None:
        published = self._commit(messages, uuid.uuid4().hex)
        if not self.overwrite:
            return
        for manifest in glob.glob(os.path.join(self.path, "manifest-*.json")):
            if manifest == published:
                continue
            with open(manifest) as f:
                parts = [m["path"] for m in json.load(f)["files"]]
            os.remove(manifest)
            for part in parts:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(part)


class JsonlDirStreamWriter(_JsonlPartWriter, DataSourceStreamWriter):
    def commit(self, messages, batchId: int) -> None:
        # idempotent per batch id: replay overwrites, never appends
        self._commit(messages, f"{batchId:08d}")


class JsonlDirDataSource(DataSource):
    """``df.write.format("jsonl_dir")`` and
    ``df.writeStream.format("jsonl_dir")``, with option ``path``."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_dir"

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return JsonlDirWriter(self.options, overwrite)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> DataSourceStreamWriter:
        return JsonlDirStreamWriter(self.options)


def read_committed(spark, path: str, schema: str):
    """The rows of a ``jsonl_dir`` directory that committed manifests
    list; a part file no manifest names (an uncommitted or aborted
    task's) is never read."""
    files = []
    for manifest in sorted(glob.glob(os.path.join(path, "manifest-*.json"))):
        with open(manifest) as f:
            files += [m["path"] for m in json.load(f)["files"]]
    return spark.read.schema(schema).json(files)


def register_sources(spark) -> None:
    """Make ``synthetic_events`` and ``jsonl_dir`` resolvable by name
    in ``spark``'s readers and writers."""
    for source in (SyntheticEventsDataSource, JsonlDirDataSource):
        spark.dataSource.register(source)
