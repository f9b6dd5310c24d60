"""Plan-stability goldens — approved physical-operator sequences per query.

Rebuild of the reference's plan-stability suite (reference:
spark/src/test/scala/org/apache/spark/sql/comet/CometPlanStabilitySuite.scala:78-125,
goldens under spark/src/test/resources/tpcds-plan-stability/): the
*shape* of the physical plan for headline queries is part of the
contract, not an accident — a regression that swaps a broadcast join
for a shuffled one, or drops TakeOrderedAndProject for a global sort,
changes no rows at test scale but is a cliff at 100 TB.

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
- tpcds_cross_channel_rollup: round 11 dropped it from 4 to 3 shuffles
  when the 2-channel key set's count_distinct became summed
  max(status == ch) presence bits, removing the (partkey, status)-keyed
  distinct level and its exchange.
"""

from __future__ import annotations

import pytest
from conftest import assert_matches_golden

from datafusion_comet_spark.catalog import table_facts
from datafusion_comet_spark.plans import operators_in_plan
from datafusion_comet_spark.queries import load_all
from datafusion_comet_spark.testing import beyond_pinned_regime, scale_regime

REGISTRY = load_all()

# Queries whose plan shape is pinned: the TPC-H headliners exercising
# each join/agg strategy plus the scale-critical pipeline operators.
PINNED = [
    "q1_pricing_summary",       # two-phase hash agg + sort
    "q3_shipping_priority",     # TakeOrderedAndProject top-k
    "q5_local_supplier",        # broadcast dimension joins
    "q9_product_profit",        # deep join tree
    "q21_waiting_supplier",     # semi + anti self-joins
    "dedup_minhash_lsh",        # reused exchange self-join
    "text_stats",               # map-only array expressions, zero shuffles
    "vocab_top_tokens",         # two-level agg + TakeOrderedAndProject
    "window_topk_per_group",    # WindowGroupLimit
    "tpcds_rank_in_category",   # window over aggregate
    "merge_upsert",             # full-outer merge join
    "join_theta_nested_loop",   # BroadcastNestedLoopJoin
    "pipeline_corpus_curation", # WindowGroupLimit pre-shuffle dedup
    "join_range_bucketed",      # manufactured equi key, no NLJ
    "recursive_cte_month_spine",  # spine broadcast, single fact pass
    # round 2 additions
    "join_shuffle_hash_hint",   # ShuffledHashJoin, no sort on either side
    "doc_pack_greedy",          # one window cumsum + rollup, two exchanges
    "dedup_incremental_vs_corpus",  # fingerprint-table join, no raw rejoin
    "events_session_window_batch",  # native session-window aggregate
    "multimodal_embed_ann",     # MapInPandas embed below broadcast cosine join
    "scalar_subquery_api",      # Subquery + ReusedSubquery, no join
    # round 2: the remaining TPC-H set — all 22 plan shapes pinned
    "q2_min_cost_supplier",
    "q4_order_priority",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q10_returned_items",
    "q11_important_stock",
    "q12_late_shipments",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_parts_supplier",
    "q17_small_quantity",
    "q18_large_volume",
    "q19_discounted_revenue",
    "q20_part_promotion",
    "q22_sales_opportunity",
    # round 2: TPC-DS batch-2 scale-critical shapes
    "tpcds_net_after_returns",      # agg-before-join + TakeOrdered top-k
    "tpcds_frequent_buyer_semi",    # two broadcast LeftSemi filter sets
    "tpcds_quarterly_share_growth", # one fact exchange + lead windows
    "tpcds_class_revenue_ratio",    # window-over-aggregate class share
    # round 7: the fact-pass-collapse signatures (scan counts are also
    # pinned in tests/test_plans.py) + the reference's dedicated q72
    # extended golden (spark/src/test/resources/tpcds-query-results/
    # extended/) and the q64-style repeat-purchase chain
    "tpcds_week_offset_join",         # q72: dim-chain + week-offset join
    "tpcds_cross_channel_rollup",     # q14: count-distinct-channel pass
    "tpcds_date_intersect_returns",   # q83: single-pass INTERSECT legs
    "tpcds_multi_supplier_returned",  # q95: one-pass flag aggregate
    "tpcds_repeat_purchase_chain",    # q64-style self-chain
    "tpcds_buy_return_rebuy",         # buy→return→rebuy chain
    # round 7: the IVF family after the deterministic-Lloyd rewrite —
    # the pinned shape proves assignment is MAP-SIDE literal
    # arithmetic (no join/shuffle for cell routing) and search is the
    # broadcast cell equi-join
    "ann_ivf_kmeans",
    "ann_ivf_multiprobe",
    "ann_ivf_pq_adc",
]

# Round 7: the reference pins APPROVED PLANS for every TPC-DS query
# (spark/src/test/resources/tpcds-plan-stability/, enforced by
# CometPlanStabilitySuite) — mirror that for the full TPC-DS-shape
# family here.  Programmatic so a future batch is golden-required the
# moment it registers; regenerate deliberately with
# SPARK_GRAFT_REGEN_GOLDENS=1.
PINNED += sorted(
    n for n in REGISTRY if n.startswith("tpcds_") and n not in PINNED
)

# Round 8: extend the same discipline to EVERY statically-plannable
# registry query — the round-8 rotation made the last of them
# driver-proven, and their plan shapes are part of that claim.  The
# exclusions: streaming queries run a full availableNow execution on
# construction and sources write files on construction, so their
# "plan" is a post-hoc artifact, not a stable pre-execution contract.
_EXCLUDED_MODULES = {"sources", "streaming", "streaming_fast"}
PINNED += sorted(
    n
    for n, q in REGISTRY.items()
    if n not in PINNED
    and q.fn.__module__.rsplit(".", 1)[-1] not in _EXCLUDED_MODULES
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
