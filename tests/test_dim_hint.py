"""Size-gated broadcast hints on scaling tables (_shared._dim_hint).

A broadcast HINT is honored by Catalyst unconditionally, so a hard
``F.broadcast(supplier)`` is free performance at sf0.1 (supplier = 22
kB) and a driver OOM at sf1000 — the exact "hint pinning broadcast on
a growing table" bug the plan-regime ladder in SCALE.md names as the
classic OOM-at-scale failure.  Ordinary dimension joins carry no hint
(the session's autoBroadcastJoinThreshold decides them); the few hints
that remain go through ``_dim_hint``, which applies the hint only
while the base table's on-disk footprint fits the broadcast budget.

These tests pin the mechanism in BOTH directions with the session's
auto-broadcast threshold disabled, so the hint is the only possible
source of a broadcast join:

- small regime: the hint is applied -> BroadcastHashJoin even with
  autoBroadcastJoinThreshold = -1;
- forged large regime (table bytes forged to 1 GB): the hint is
  withheld -> the same query plans a shuffle join.
"""

from __future__ import annotations

from datafusion_comet_spark.catalog import table_facts
from datafusion_comet_spark.plans import operators_in_plan, scans_under_broadcast
from datafusion_comet_spark.queries import load_all
from datafusion_comet_spark.session import conf_override
from datafusion_comet_spark.testing import forged_sizes


_NO_AUTO_BROADCAST = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}

# A query that keeps a _dim_hint: tpcds_best_worst_performers hints
# supplier in its name join, where Catalyst's own estimate would build
# on the ranked aggregate instead (SCALE.md, hint census).
HINTED = "tpcds_best_worst_performers"


def _final_ops(df) -> list[str]:
    df.collect()
    return operators_in_plan(df)


def _hinted_broadcasts(df) -> int:
    """Broadcasts of the hinted join only: those that build on the
    supplier scan."""
    return scans_under_broadcast(df).count("supplier")


def test_dim_hint_flips_with_table_size(spark, sf_dir):
    """tpcds_best_worst_performers (ranked ⋈ supplier on l_suppkey):
    hinted-broadcast while supplier is small, shuffle join once
    supplier's size is past the budget."""
    fn = load_all()[HINTED].fn

    with conf_override(spark, _NO_AUTO_BROADCAST):
        # small regime: only the hint can broadcast, and it does
        small = fn(spark, sf_dir)
        ops_small = _final_ops(small)
        assert "BroadcastHashJoinExec" in ops_small, ops_small
        assert _hinted_broadcasts(small) > 0, ops_small

        # forged 1 GB supplier: the hint is withheld; with auto-broadcast
        # off the join must fall back to a shuffle strategy
        with forged_sizes(sf_dir, table_bytes={"supplier": 1 << 30}):
            large = fn(spark, sf_dir)
            ops_large = _final_ops(large)
            assert _hinted_broadcasts(large) == 0, ops_large
            assert (
                "SortMergeJoinExec" in ops_large
                or "ShuffledHashJoinExec" in ops_large
            ), ops_large


def test_dim_hint_results_identical_across_regimes(spark, sf_dir):
    """The gate changes join STRATEGY only — the hinted query's and
    q17's (_stats_join_back) values must be identical with the hint
    applied and withheld."""
    reg = load_all()
    forged = {"part": 1 << 30, "supplier": 1 << 30}
    for name in (HINTED, "q17_small_quantity"):
        fn = reg[name].fn
        base = fn(spark, sf_dir).collect()
        with conf_override(spark, _NO_AUTO_BROADCAST), \
             forged_sizes(sf_dir, table_bytes=forged):
            large = fn(spark, sf_dir).collect()
        assert base == large, (name, base[:3], large[:3])


def test_fixed_dims_always_hinted(spark, sf_dir):
    """region/nation are fixed-cardinality at every SF: the hint stays
    even under a forged-large byte count (the gate consults
    FIXED_SIZE_DIMS first)."""
    reg = load_all()
    q5 = reg["q5_local_supplier"].fn
    with conf_override(spark, _NO_AUTO_BROADCAST), forged_sizes(
        sf_dir, table_bytes={"nation": 1 << 30, "region": 1 << 30}
    ):
        ops = _final_ops(q5(spark, sf_dir))
    assert "BroadcastHashJoinExec" in ops, ops


def test_table_bytes_is_positive_and_cached(sf_dir):
    a = table_facts(sf_dir, "lineitem")
    assert a.bytes > 0
    assert table_facts(sf_dir, "lineitem") is a
