"""Physical-plan introspection.

The reference proves which operator served a query via
``checkSparkAnswerAndOperator`` (reference:
spark/src/test/scala/org/apache/spark/sql/CometTestBase.scala:225-268)
and commits approved plans per query in its plan-stability suite
(test/.../CometPlanStabilitySuite.scala:78-125).  Every plan count and
lookup here walks Spark's own physical plan over py4j (``walk_plan``),
scalar subqueries and cached sub-plans included.  ``operators_in_plan``
labels the same walk for the plan goldens (one label per node), and
only ``plan_string`` renders explain text (``Engine.explain``, and
tests that read expressions or scan metadata).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark import SparkContext
from pyspark.sql import DataFrame

_REUSED = frozenset({"ReusedExchangeExec", "ReusedSubqueryExec"})


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """Return the explain output for ``df`` as a string."""
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    jmode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return qe.explainString(jmode)


def walk_plan(plan) -> Iterator[tuple[str, object]]:
    """Yield ``(class simple name, JVM node)`` for every node of the
    physical plan of ``plan`` (a DataFrame, or a JVM ``SparkPlan``).

    ``AdaptiveSparkPlanExec`` is replaced by its current plan (final
    once the query ran, initial before) and each ``*QueryStageExec`` by
    its plan.  Subqueries are descended into, and so is the cached plan
    under an ``InMemoryTableScanExec``, once however many scans read it.
    ``ReusedExchangeExec`` / ``ReusedSubqueryExec`` are yielded but not
    descended into: what they reuse ran once, elsewhere in the tree."""
    if isinstance(plan, DataFrame):
        plan = plan._jdf.queryExecution().executedPlan()
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
        yield cls, node
        if cls in _REUSED:
            continue
        if cls == "InMemoryTableScanExec":
            cached = node.relation().cachedPlan()
            key = SparkContext._jvm.System.identityHashCode(cached)
            if key not in seen_cached:
                seen_cached.add(key)
                stack.append(cached)
        # pushed last-first, so the walk is pre-order: each node, then
        # its children left to right, its subqueries, its cached plan
        for seq in (node.subqueries(), node.children()):
            for i in reversed(range(seq.size())):
                stack.append(seq.apply(i))


def operators_in_plan(df: DataFrame) -> list[str]:
    """One label per node of ``walk_plan(df)``, in walk order: the
    class simple name, and for a ``ShuffleExchangeExec`` also its
    partitioning class (``ShuffleExchangeExec HashPartitioning``).
    The plan goldens are these lists."""
    ops = []
    for cls, node in walk_plan(df):
        if cls == "ShuffleExchangeExec":
            part = node.outputPartitioning().getClass().getSimpleName()
            cls = f"{cls} {part.rstrip('$')}"
        ops.append(cls)
    return ops


def scan_table(scan) -> str:
    """Table of a ``FileSourceScanExec`` (``.../lineitem.parquet`` ->
    ``lineitem``)."""
    name = scan.relation().location().rootPaths().apply(0).getName()
    return name.rsplit(".", 1)[0]


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every parquet scan (pushdown proof)."""
    out = []
    for cls, node in walk_plan(df):
        if cls == "FileSourceScanExec":
            body = node.metadata().apply("PushedFilters").strip("[]")
            out.extend(f for f in body.split(", ") if f)
    return out


def skew_split_joins(df: DataFrame) -> int:
    """Number of shuffled joins AQE split for skew (after execution)."""
    return sum(
        1
        for cls, node in walk_plan(df)
        if cls in ("SortMergeJoinExec", "ShuffledHashJoinExec") and node.isSkewJoin()
    )


def scans_under_broadcast(df: DataFrame) -> list[str]:
    """Table names of every parquet scan BENEATH a BroadcastExchange —
    the build sides materialized on every executor.  The 100 TB
    invariant (tests/test_asymptotic_regime.py) is that in asymptotic
    mode this list never names a scaling table.

    A ``ReusedExchange`` or ``InMemoryTableScan`` descendant reads rows
    computed elsewhere, so a scaling scan could reach the broadcast
    through one: each is also reported as an ``<opaque:OpName>`` marker,
    which the contract test fails on unless adjudicated by name."""
    out: list[str] = []
    for cls, node in walk_plan(df):
        if cls != "BroadcastExchangeExec":
            continue
        for cls2, node2 in walk_plan(node.child()):
            if cls2 == "FileSourceScanExec":
                out.append(scan_table(node2))
            elif cls2 in ("ReusedExchangeExec", "InMemoryTableScanExec"):
                out.append(f"<opaque:{cls2[: -len('Exec')]}>")
    return out
