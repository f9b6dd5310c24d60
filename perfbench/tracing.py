"""Tracing for the traced benchmark run: spans, layer self time, py4j
call counting, DataFrameWriter spans and the executed-plan walk.

Spans are kept in memory and written as JSONL when the run ends.  Every
span is recorded from the benchmark's side of a call into a layer of the
package (or read back from Spark's own bookkeeping: Catalyst's phase
tracker and the status store's job times), never from inside the
package.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

# Layer of a span = the part of its name before the first dot.
LAYERS = ("query", "queries", "catalyst", "exec", "sources")

_WRITER_METHODS = (
    "save", "parquet", "orc", "csv", "json", "text", "insertInto", "saveAsTable",
)


class Tracer:
    """In-memory span store.  A span is a dict with id, parent, name,
    start, end (epoch seconds) and the execution it belongs to.  A
    disabled tracer records nothing and its spans yield None."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "name": name,
                           "start": start, "end": end, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        """Open a span as a child of the innermost open one."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def innermost_containing(self, t: float, candidates: list[int]) -> int:
        """The candidate span (the first is the fallback) whose interval
        holds t and that started last, i.e. the most deeply nested."""
        best = candidates[0]
        for sid in candidates[1:]:
            s = self.spans[sid]
            if s["start"] <= t <= s["end"] and s["start"] >= self.spans[best]["start"]:
                best = sid
        return best

    def self_times(self, root_ids: list[int]) -> dict[str, float]:
        """Seconds of self time per layer under the given root spans.

        A span's self time is its duration minus the part of it that its
        children cover.  Each child is clipped to its parent, and where
        siblings overlap (concurrent Spark jobs) the overlap goes to the
        one that started first, so the layer totals add up to the roots'
        total duration.  The ``query`` layer holds what no named layer's
        span covers."""
        children: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s["id"])
        out = {layer: 0.0 for layer in LAYERS}
        extent = {sid: (self.spans[sid]["start"],
                        max(self.spans[sid]["start"], self.spans[sid]["end"]))
                  for sid in root_ids}
        stack = list(root_ids)
        while stack:
            sid = stack.pop()
            lo, hi = extent[sid]
            covered, cursor = 0.0, lo
            kids = sorted(children.get(sid, []), key=lambda c: self.spans[c]["start"])
            for c in kids:
                a = min(max(self.spans[c]["start"], cursor), hi)
                b = min(max(self.spans[c]["end"], a), hi)
                extent[c] = (a, b)
                stack.append(c)
                covered += b - a
                cursor = max(cursor, b)
            layer = self.spans[sid]["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (hi - lo) - covered
        return out

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class Py4JCounter:
    """Counts py4j commands sent by the main thread while ``counting()``
    is open.

    py4j's finalizer thread sends one ``memory delete`` command per
    garbage-collected JavaObject; when those run depends on the Python
    garbage collector, so they are excluded and the count of a given
    build repeats exactly."""

    _MEMORY_DELETE = "m\nd\n"

    def __init__(self, spark) -> None:
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client

    @contextmanager
    def counting(self):
        """Reset ``calls`` and count until the context closes."""
        orig = self._client.send_command
        main = threading.get_ident()

        def counted(command, *args, **kwargs):
            if (threading.get_ident() == main
                    and not command.startswith(self._MEMORY_DELETE)):
                self.calls += 1
            return orig(command, *args, **kwargs)

        self.calls = 0
        self._client.send_command = counted
        try:
            yield self
        finally:
            self._client.send_command = orig


@contextmanager
def writer_spans(tracer: Tracer, **attrs):
    """Record a ``sources.write`` span around every outermost
    DataFrameWriter call made while the context is open."""
    from pyspark.sql.readwriter import DataFrameWriter

    saved = {m: getattr(DataFrameWriter, m) for m in _WRITER_METHODS}
    depth = [0]

    def wrap(orig):
        def traced(self, *args, **kwargs):
            if depth[0]:
                return orig(self, *args, **kwargs)
            depth[0] += 1
            try:
                with tracer.span("sources.write", **attrs):
                    return orig(self, *args, **kwargs)
            finally:
                depth[0] -= 1
        return traced

    for m, orig in saved.items():
        setattr(DataFrameWriter, m, wrap(orig))
    try:
        yield
    finally:
        for m, orig in saved.items():
            setattr(DataFrameWriter, m, orig)


@contextmanager
def call_spans(tracer: Tracer, module, names: dict[str, str], **attrs):
    """Record a span around every call of ``module.<attr>`` for each
    attr -> span name in ``names`` while the context is open."""
    saved = {a: getattr(module, a) for a in names}

    def wrap(orig, span_name):
        def traced(*args, **kwargs):
            with tracer.span(span_name, **attrs):
                return orig(*args, **kwargs)
        return traced

    for a, orig in saved.items():
        setattr(module, a, wrap(orig, names[a]))
    try:
        yield
    finally:
        for a, orig in saved.items():
            setattr(module, a, orig)


# -- executed-plan walk --------------------------------------------------

SCAN_NODES = frozenset({"FileSourceScanExec", "BatchScanExec", "RowDataSourceScanExec"})
_NODE_METRICS = {
    "FileSourceScanExec": ("numOutputRows", "filesSize", "scanTime"),
    "BatchScanExec": ("numOutputRows",),
    "RowDataSourceScanExec": ("numOutputRows",),
    "ShuffleExchangeExec": ("dataSize", "shuffleRecordsWritten"),
    "BroadcastExchangeExec": ("dataSize",),
    "InMemoryTableScanExec": ("numOutputRows",),
}
_REUSED = frozenset({"ReusedExchangeExec", "ReusedSubqueryExec"})


def walk_plan(jvm, plan):
    """Yield ``(class name, node string or None, metrics)`` for every
    node of an executed physical plan that physically ran.

    - ``AdaptiveSparkPlanExec`` is replaced by its final plan and every
      ``*QueryStageExec`` by the stage's plan;
    - scalar/IN subqueries (``subqueries()``) and the plan under an
      ``InMemoryTableScanExec`` (``relation.cachedPlan``, visited once
      per cached relation) are descended into;
    - ``ReusedExchangeExec`` / ``ReusedSubqueryExec`` are yielded but not
      descended: the exchange they reuse ran once, elsewhere in the tree.

    The node string (``simpleString``) is read for scans only; metrics
    are the SQL metric values of interest for the node's class plus any
    ``spillSize``.
    """
    seen_cached: set[int] = set()
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        jm = node.metrics()
        metrics = {k: jm.apply(k).value()
                   for k in _NODE_METRICS.get(cls, ()) if jm.contains(k)}
        if jm.contains("spillSize"):
            metrics["spillSize"] = jm.apply("spillSize").value()
        text = node.simpleString(25) if cls in SCAN_NODES else None
        yield cls, text, metrics
        if cls in _REUSED:
            continue
        if cls == "InMemoryTableScanExec":
            cached = node.relation().cachedPlan()
            key = jvm.System.identityHashCode(cached)
            if key not in seen_cached:
                seen_cached.add(key)
                stack.append(cached)
        for seq in (node.subqueries(), node.children()):
            for i in range(seq.size()):
                stack.append(seq.apply(i))


def plan_counters(jvm, plan) -> dict[str, float]:
    """Per-query sums of the executed plan's scan, shuffle, broadcast,
    spill and reuse metrics (the ``exec.*`` and ``cache.*`` plan
    counters)."""
    c = dict.fromkeys(
        ("exec.scans", "exec.scan_rows", "exec.scan_bytes", "exec.scan_time_ms",
         "exec.shuffles", "exec.shuffle_bytes", "exec.shuffle_records",
         "exec.broadcast_bytes", "exec.spill_bytes", "exec.reused_exchanges",
         "cache.inmemory_scans"), 0)
    for cls, _text, m in walk_plan(jvm, plan):
        if cls in SCAN_NODES:
            c["exec.scans"] += 1
            c["exec.scan_rows"] += m.get("numOutputRows", 0)
            c["exec.scan_bytes"] += m.get("filesSize", 0)
            c["exec.scan_time_ms"] += m.get("scanTime", 0)
        elif cls == "ShuffleExchangeExec":
            c["exec.shuffles"] += 1
            c["exec.shuffle_bytes"] += m.get("dataSize", 0)
            c["exec.shuffle_records"] += m.get("shuffleRecordsWritten", 0)
        elif cls == "BroadcastExchangeExec":
            c["exec.broadcast_bytes"] += m.get("dataSize", 0)
        elif cls == "ReusedExchangeExec":
            c["exec.reused_exchanges"] += 1
        elif cls == "InMemoryTableScanExec":
            c["cache.inmemory_scans"] += 1
        c["exec.spill_bytes"] += m.get("spillSize", 0)
    return c
