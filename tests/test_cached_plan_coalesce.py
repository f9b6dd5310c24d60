"""Round-12 pin: AQE re-optimization INSIDE persisted plans.

`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` defaults to
false, which pins a persisted plan's shuffle output at the full
`spark.sql.shuffle.partitions` count — every consumer stage of a
persist()-based query (tpcds_return_ratio_rank's candidate aggregate,
text_bm25_multiquery's tf working set) then runs |partitions|
near-empty tasks of pure scheduling overhead.  That was the round-11
driver's inverted-scaling signature (PERF_r11: the 32-core run 3×
slower than 8-core on return_ratio_rank) and the measured regression
mechanism fixed in round 12 (OPTIMIZATION_r12.md §cached-plan AQE:
warm 0.951→0.660 s, cold 1.30→0.906 s, identical rows).

Two pins:
1. the session factory ships the flag ON;
2. the flag is EFFECTIVE — after executing a persist-based query, the
   cached relation's own final plan contains an AQEShuffleRead
   (coalesced) node, i.e. consumer stages read size-adapted cached
   partitions rather than the raw |shuffle.partitions| layout.
"""

from __future__ import annotations

from datafusion_comet_spark.plans import walk_plan
from datafusion_comet_spark.queries import load_all
from datafusion_comet_spark.session import DEFAULT_CONF

REGISTRY = load_all()


def test_session_enables_cached_plan_repartitioning():
    assert (
        DEFAULT_CONF["spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"]
        == "true"
    )


def test_cached_subtree_gets_aqe_shuffle_read(spark, sf_dir):
    df = REGISTRY["tpcds_return_ratio_rank"].fn(spark, sf_dir)
    df.collect()
    cached = [
        node.relation().cachedPlan()
        for cls, node in walk_plan(df)
        if cls == "InMemoryTableScanExec"
    ]
    assert cached, "query lost its persist()"
    # Flag ON: the cached plan's final aggregate reads its
    # ShuffleQueryStage through an AQEShuffleRead (size-adapted
    # partitions).  Flag OFF (the default): no AQEShuffleRead — the
    # raw |shuffle.partitions| layout, the structural diff between
    # plans/r12/tpcds_return_ratio_rank_{before,after}.txt.
    reads = [
        node.child().getClass().getSimpleName()
        for cls, node in walk_plan(cached[0])
        if cls == "AQEShuffleReadExec"
    ]
    assert "ShuffleQueryStageExec" in reads, reads
