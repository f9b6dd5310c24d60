"""Plan-stability goldens — approved physical-operator sequences per query.

Rebuild of the reference's plan-stability suite (reference:
spark/src/test/scala/org/apache/spark/sql/comet/CometPlanStabilitySuite.scala:78-125,
goldens under spark/src/test/resources/tpcds-plan-stability/): the
*shape* of each query's physical plan is part of the contract, not an
accident — a regression that swaps a broadcast join for a shuffled
one, or drops TakeOrderedAndProject for a global sort, changes no rows
at test scale but is a cliff at 100 TB.  The goldens
are the one record of each registry query's static plan shape; other
plan tests (tests/test_plans.py) pin only what they cannot show.

Goldens store ``plans.operators_in_plan``: one label per node of the
walked physical plan (scalar subqueries and cached sub-plans
included), with each shuffle's partitioning — formatting and
expression ids vary across Spark versions, operator sequences don't.
A query's hash/range shuffle count is the number of
``ShuffleExchangeExec HashPartitioning`` / ``RangePartitioning`` lines
in its golden.  Regenerate after an intentional plan change with:

    SPARK_GRAFT_REGEN_GOLDENS=1 python -m pytest tests/test_plan_stability.py

A golden is the STATIC plan, built from a clean cache.  What it cannot
show, per query:

- q11_important_stock / q15_top_supplier: the per-part (per-supplier)
  aggregate's hash exchange appears in both the detail branch and the
  1-row re-aggregation; ReuseExchange collapses the two to ONE physical
  fact exchange at runtime (test_plans.test_q11_threshold_reuses_fact_exchange).
- tpcds_date_intersect_returns: the INTERSECT legs repeat the orders
  aggregate statically; at runtime AQE reuse leaves one orders pass
  (test_plans.test_date_intersect_returns_single_orders_pass).
- tpcds_return_ratio_rank: the persisted candidate aggregate's plan is
  listed once, however many InMemoryTableScans read it.
"""

from __future__ import annotations

import pytest
from conftest import assert_matches_golden

from datafusion_comet_spark.catalog import table_facts
from datafusion_comet_spark.plans import operators_in_plan
from datafusion_comet_spark.queries import load_all
from datafusion_comet_spark.testing import beyond_pinned_regime, scale_regime

REGISTRY = load_all()

# Every statically plannable registry query is pinned.  Streaming
# queries run a full availableNow execution on construction and sources
# write files on construction, so their "plan" is a post-hoc artifact,
# not a stable pre-execution contract.
_EXCLUDED_MODULES = {"sources", "streaming", "streaming_fast"}
PINNED = sorted(
    n
    for n, q in REGISTRY.items()
    if q.fn.__module__.rsplit(".", 1)[-1] not in _EXCLUDED_MODULES
)

# Queries whose plan LEGITIMATELY changes in the large-scale regime
# (broadcast->shuffle flips once lineitem's pruned-size estimate
# crosses the 32 MB static threshold — the correct adaptive behavior
# at scale; SCALE.md round-9 ladder note).  These carry a SECOND
# golden, `<name>.large.txt`, pinned at dev/gen_scale_data.py sf1
# (lineitem 150 MB / orders 28 MB).  Verified shapes at sf1: q3's
# orders⋈lineitem becomes an SMJ while the 3 MB customer stays
# broadcast; q21's l3 anti self-join becomes an SMJ while the
# 2-column-pruned l2 semi (pruned estimate ~19 MB) stays broadcast.
# The other goldens were byte-identical across regimes (verified at
# sf1, round 9) and keep one file.
LARGE_REGIME_PINNED = {
    "q3_shipping_priority",
    "q5_local_supplier",
    "q10_returned_items",
    "q21_waiting_supplier",
    "q21_scale_rewrite",
    "tpcds_cross_nation_orders",
    "tpcds_net_after_returns",
    "tpcds_underperforming_pairs",
}


# Queries whose plan carries queries/_shared._spread_scan's round-robin
# exchange over a table.  The exchange exists only while that table has
# fewer parquet row groups than the session has cores, so the golden is
# picked by the same test, not by lineitem's size: generator sf1's
# lineitem has 24 row groups, which drops the exchange at 4 or 8 cores
# but keeps it at 32.  `<name>.unspread.txt` is the plan without it,
# pinned at dev/gen_scale_data.py sf1 on 4 cores.
SPREAD_SCAN_PINNED = {"tpcds_cross_channel_rollup": "lineitem"}


def _golden(spark, sf_dir: str, name: str) -> str:
    if name in LARGE_REGIME_PINNED and scale_regime(sf_dir):
        return f"{name}.large.txt"
    table = SPREAD_SCAN_PINNED.get(name)
    cores = spark.sparkContext.defaultParallelism
    if table and table_facts(sf_dir, table).row_groups >= cores:
        return f"{name}.unspread.txt"
    return f"{name}.txt"


@pytest.mark.parametrize("name", PINNED)
def test_plan_matches_golden(spark, sf_dir, name):
    if beyond_pinned_regime(sf_dir):
        pytest.skip(
            "lineitem beyond the pinned plan-regime windows (> 200 MB): "
            "the broadcast-flip ladder continues with scale (SCALE.md "
            "round-9 ladder note)"
        )

    ops = operators_in_plan(REGISTRY[name].fn(spark, sf_dir))
    assert_matches_golden(ops, _golden(spark, sf_dir, name))
