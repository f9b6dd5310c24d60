"""The plan walker (``plans.walk_plan``) every plan count is built on:
it sees scalar-subquery scans, enters a cached sub-plan once, stops at
reused exchanges/subqueries, and works before and after execution."""

from __future__ import annotations

from conftest import corpus_beside
from pyspark import SparkContext

from datafusion_comet_spark.plans import scan_table, walk_plan
from datafusion_comet_spark.queries import load_all

REGISTRY = load_all()


def _ops(df) -> list[str]:
    return [cls for cls, _ in walk_plan(df)]


def _subquery_scans(df) -> int:
    """Scans reached through the SubqueryExecs the walk yields."""
    return sum(
        _ops(node).count("FileSourceScanExec")
        for cls, node in walk_plan(df)
        if cls == "SubqueryExec"
    )


def test_walk_sees_subquery_scans_before_and_after_execution(spark, sf_dir):
    # scalar_subquery_api filters orders by its own average.  Unexecuted,
    # the average is two SubqueryExecs (the Filter's and the scan's data
    # filter), each with an orders scan; executed, AQE has made the
    # second a ReusedSubqueryExec, yielded but not entered, and the
    # query stages are unwrapped.
    df = REGISTRY["scalar_subquery_api"].fn(spark, sf_dir)
    before = _ops(df)
    assert _subquery_scans(df) == 2, before
    assert before.count("FileSourceScanExec") == 3, before
    assert "AQEShuffleReadExec" not in before, before

    df.collect()
    after = _ops(df)
    assert _subquery_scans(df) == 1, after
    assert "ReusedSubqueryExec" in after, after
    assert after.count("FileSourceScanExec") == 2, after
    assert "AQEShuffleReadExec" in after, after
    assert not any(cls.endswith("QueryStageExec") for cls in after), after


def test_walk_does_not_enter_reused_exchange(spark):
    # Executed q11 at sf0.01 reuses its per-part aggregate's exchange
    # (test_plans.test_q11_threshold_reuses_fact_exchange): the walk
    # yields each reused exchange once, where it ran.
    df = REGISTRY["q11_important_stock"].fn(spark, corpus_beside("sf0.01"))
    df.collect()
    identity = SparkContext._jvm.System.identityHashCode
    nodes = [(cls, identity(node), node) for cls, node in walk_plan(df)]
    reused = [node for cls, _, node in nodes if cls == "ReusedExchangeExec"]
    assert reused, [cls for cls, _, _ in nodes]
    ids = [i for _, i, _ in nodes]
    assert all(ids.count(identity(r.child())) == 1 for r in reused)


def test_walk_enters_cached_plan_once(spark, sf_dir):
    # tpcds_return_ratio_rank reads its persisted candidate aggregate
    # through 4 InMemoryTableScanExecs; the cached plan's one lineitem
    # scan is yielded once.
    df = REGISTRY["tpcds_return_ratio_rank"].fn(spark, sf_dir)
    nodes = list(walk_plan(df))
    assert [cls for cls, _ in nodes].count("InMemoryTableScanExec") == 4
    scans = [scan_table(n) for cls, n in nodes if cls == "FileSourceScanExec"]
    assert scans == ["lineitem"], scans
