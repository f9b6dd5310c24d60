"""Custom connector via the PySpark 4 Python DataSource API.

The reference's extension point for new inputs is a native scan operator
compiled into the engine (reference: native/proto/src/proto/operator.proto:38-56
scan oneof; native/core/src/execution/operators/{scan,csv_scan}.rs) — adding a
format means Rust + serde + shims.  The PySpark-native equivalent is the
``pyspark.sql.datasource`` API: declare a schema, plan ``InputPartition``s,
and yield rows per partition; Spark distributes one reader per partition and
everything downstream (pushdown-eligible filters, AQE, codegen) applies as
with any DSv2 source.

The source here generates a deterministic synthetic event stream from a pure
function of the row id — no state, no I/O — so each partition reads
independently (the 100 TB posture: partition planning is metadata-only and
readers never coordinate), and any engine can recompute the same rows (the
DuckDB oracle regenerates them with ``generate_series``).
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

SCHEMA_DDL = "id BIGINT, user_id BIGINT, kind STRING, points BIGINT"

KINDS = ("view", "click", "purchase")

# Knuth multiplicative constant: cheap deterministic scatter of the row id.
_MIX = 2654435761


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
        kind = KINDS[h % 3]
        if kinds is None or kind in kinds:
            yield (i, h % 97, kind, h % 1000)


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 1000))
        self.n_parts = int(options.get("n_partitions", 8))

    def partitions(self):
        return _slices(0, self.n_rows, self.n_parts)

    def read(self, partition: _Slice):
        return _rows(partition)


class SyntheticEventsDataSource(DataSource):
    """``spark.read.format("synthetic_events")`` — deterministic rows."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema: StructType) -> DataSourceReader:
        return SyntheticEventsReader(self.options)


def register_synthetic_source(spark) -> None:
    spark.dataSource.register(SyntheticEventsDataSource)


# --------------------------------------------------------------------------
# Streaming variant: the same deterministic generator exposed through the
# Python DataSource STREAM reader protocol (initialOffset → latestOffset →
# partitions(start, end) → read → commit).  The reference has no streaming
# surface at all (CometExecRule.scala:548-550 rejects streaming plans);
# in this engine a custom streaming connector is ~40 lines of Python.
# Offsets are row counts: each microbatch covers an id slice, so replay
# after failure re-reads exactly the committed range — the offset log,
# not the source, is the source of truth (100 TB posture: sources must
# be replayable; Kafka offsets / file lists play this role in
# production).
# --------------------------------------------------------------------------
from pyspark.sql.datasource import DataSourceStreamReader  # noqa: E402


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


class SyntheticEventsStreamDataSource(DataSource):
    """``spark.readStream.format("synthetic_events_stream")``."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events_stream"

    def schema(self) -> str:
        return SCHEMA_DDL

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return SyntheticEventsStreamReader(self.options)


def register_synthetic_stream_source(spark) -> None:
    spark.dataSource.register(SyntheticEventsStreamDataSource)


# --------------------------------------------------------------------------
# Writer: the Python DataSource WRITE path with the two-phase commit
# protocol (per-task write → WriterCommitMessage → driver-side commit).
# The reference's writer is its native ParquetWriter wired into Spark's
# FileCommitProtocol (reference: operator.proto:320-338,
# native/core/src/execution/operators/parquet_writer.rs); the protocol
# obligations are identical here: task output is invisible until the
# driver commit publishes the manifest, so stragglers/retries never
# double-count (speculative duplicates die at commit).
# --------------------------------------------------------------------------
import json as _json  # noqa: E402
import os as _os  # noqa: E402
import uuid as _uuid  # noqa: E402

from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage  # noqa: E402


class _PartFile(WriterCommitMessage):
    def __init__(self, path: str, n_rows: int):
        self.path = path
        self.n_rows = n_rows


class _JsonlPartWriter:
    """The task side shared by the batch and stream JSONL writers: each
    task writes one part file under a task-unique name, invisible to
    readers until a committed manifest lists it; abort removes them."""

    _PREFIX = "part"

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError(f"{self._FORMAT} requires option 'path'")

    def write(self, iterator):
        _os.makedirs(self.path, exist_ok=True)
        part = _os.path.join(
            self.path, f"{self._PREFIX}-{_uuid.uuid4().hex}.jsonl"
        )
        n = 0
        with open(part, "w") as f:
            for row in iterator:
                f.write(_json.dumps(row.asDict()) + "\n")
                n += 1
        return _PartFile(part, n)

    def abort(self, messages, batchId: int | None = None) -> None:
        for m in messages:
            if m is not None and _os.path.exists(m.path):
                _os.remove(m.path)


def _publish_json(obj, dest: str) -> None:
    """Atomic manifest publication: write to a same-directory temp
    file, then os.replace() onto the final name.  A truncating
    in-place open(dest, 'w') would let a crash mid-commit (notably
    during a streaming batch replay) expose a truncated manifest to
    manifest-consulting readers; rename is atomic on POSIX so readers
    see either the old manifest or the complete new one, never a
    partial write."""
    tmp = f"{dest}.tmp-{_uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        _json.dump(obj, f)
        f.flush()
        _os.fsync(f.fileno())
    _os.replace(tmp, dest)


class JsonlDirWriter(_JsonlPartWriter, DataSourceWriter):
    """Append-only JSONL part files + manifest commit."""

    _FORMAT = "jsonl_dir writer"

    def commit(self, messages) -> None:
        manifest = {
            "files": [
                {"path": m.path, "n_rows": m.n_rows}
                for m in sorted(messages, key=lambda m: m.path)
            ],
            "total_rows": sum(m.n_rows for m in messages),
        }
        _publish_json(manifest, _os.path.join(self.path, "_MANIFEST.json"))


class JsonlDirDataSource(DataSource):
    """``df.write.format("jsonl_dir").option("path", ...).save()``."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_dir"

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return JsonlDirWriter(self.options)


def register_jsonl_sink(spark) -> None:
    spark.dataSource.register(JsonlDirDataSource)


# --------------------------------------------------------------------------
# Filter-pushdown variant (Spark 4.1 `pushFilters`): the connector-side
# analogue of the reference's NativeScan pushed data filters
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
# like the reference's residual (non-pushed) filter split.  Requires
# spark.sql.python.filterPushdown.enabled=true.
# --------------------------------------------------------------------------
from pyspark.sql.datasource import (  # noqa: E402
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
)


class SyntheticEventsPushdownReader(SyntheticEventsReader):
    def __init__(self, options):
        super().__init__(options)
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
        # Partition pruning: the unpushed slices, clipped to the PUSHED
        # id range; slices outside it are never planned.
        out = [
            _Slice(max(s.start, self.id_lo), min(s.end, self.id_hi))
            for s in super().partitions()
            if max(s.start, self.id_lo) < min(s.end, self.id_hi)
        ]
        return out or [_Slice(0, 0)]

    def read(self, partition: _Slice):
        return _rows(partition, self.kinds)


class SyntheticEventsPushdownDataSource(DataSource):
    """``spark.read.format("synthetic_events_pushdown")``."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events_pushdown"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema: StructType) -> DataSourceReader:
        return SyntheticEventsPushdownReader(self.options)


def register_synthetic_pushdown_source(spark) -> None:
    spark.dataSource.register(SyntheticEventsPushdownDataSource)


# --------------------------------------------------------------------------
# Streaming sink: the Python DataSource STREAM-writer protocol.
# Each microbatch runs the same two-phase commit as the batch writer,
# PER BATCH: task part-files (invisible) → WriterCommitMessage →
# driver-side commit publishes manifest-<batchId>.json.  Exactly-once
# then follows from batch-id idempotence: a replayed microbatch (task
# retry, driver restart between write and checkpoint advance)
# OVERWRITES its own manifest rather than appending a second one, so
# readers — who must union only manifest-listed files — never see
# duplicates.  The reference has no streaming write path at all
# (CometExecRule.scala:548-550); its batch ParquetWriter commit
# obligations (operator.proto:320-338) are what this extends per-batch.
# --------------------------------------------------------------------------
from pyspark.sql.datasource import DataSourceStreamWriter  # noqa: E402


class JsonlDirStreamWriter(_JsonlPartWriter, DataSourceStreamWriter):
    _FORMAT = "jsonl_stream_dir"
    _PREFIX = "stream-part"

    def commit(self, messages, batchId: int) -> None:
        manifest = {
            "batch": batchId,
            "files": [
                {"path": m.path, "n_rows": m.n_rows}
                for m in sorted(messages, key=lambda m: m.path)
            ],
        }
        # idempotent per batch id: replay overwrites, never appends
        _publish_json(
            manifest, _os.path.join(self.path, f"manifest-{batchId:08d}.json")
        )


class JsonlDirStreamDataSource(DataSource):
    """``df.writeStream.format("jsonl_stream_dir")`` custom sink."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_stream_dir"

    def streamWriter(self, schema: StructType, overwrite: bool):
        return JsonlDirStreamWriter(self.options)


def register_jsonl_stream_sink(spark) -> None:
    spark.dataSource.register(JsonlDirStreamDataSource)
