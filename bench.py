#!/usr/bin/env python
"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line.

Modeled on the reference's tpcbench.py methodology (reference:
benchmarks/tpc/tpcbench.py; results format benchmarks/results/0.16.0/*.json):
per-query wall-clock seconds, min-of-iterations semantics collapsed to a
single warm run after a JVM/catalyst warmup query.

Reading the numbers: this box is co-tenant; round-over-round totals
move +/-25% with ambient load (round 3 measured the same commit at
11.9-14.9s across runs).  Per-query A/B decisions therefore use
min-of-N same-process head-to-heads (see SCALE.md "q21: measured
rewrite trade"), never two bench runs.  Scan parallelism at sf0.1 is
capped by the testdata's single parquet row group per table (a split
can't subdivide a row group), which bounds q1-style single-table
scans to one core regardless of spark.sql.files.maxPartitionBytes —
measured: 512KB splits move q1 only 1.29s -> 1.14s.  At 100 TB this
inverts: files carry many row groups and the 128MB default gives
~800k well-parallelized tasks.  That claim is no longer prose-only:
tests/test_multi_rowgroup_scan.py rewrites lineitem into 8 row groups
and pins task count > 1, split-invariant aggregates, and row-group
pruning (scan outputs one row group's rows under a narrow sorted-key
predicate, 8000 of 60000).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

BENCH_QUERIES = [
    # TPC-H-shaped headline set (join trees, aggregates, semi/anti joins)
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q12_late_shipments",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q17_small_quantity",
    "q18_large_volume",
    "q19_discounted_revenue",
    # q21: round 3 measured the aggregate rewrite (q21_scale_rewrite)
    # head-to-head against the literal semi/anti form — min-of-5 at
    # sf0.1/local[32] the REWRITE is 1.46x SLOWER (its per-order
    # collect_list/array work costs more than the literal's three
    # narrow self-join shuffles save).  The literal form stays the
    # headline on measurement; the rewrite remains registered as the
    # lower-shuffled-bytes alternative for fact widths where the
    # trade inverts.  See SCALE.md "q21: measured rewrite trade".
    "q21_waiting_supplier",
    "q22_sales_opportunity",
]

# Queries registered later (windows, datapipe, similarity) are picked up
# dynamically if tagged "bench".  Round 8 added the heavy plan-pinned
# shapes so the scan-count wins stay wall-clock-guarded:
# tpcds_cross_channel_rollup (q14 INTERSECT+ROLLUP, 2 fact passes),
# tpcds_return_ratio_rank (persist-based single fact pass), and
# ann_ivf_kmeans.  Queries tagged "warm_by_design" read the IVF index
# that queries/similarity.py trains once per session and dataset
# (_ivf_memo; main() names them on stderr): their min-of-N is probe
# time against the memoized index, iteration 1 pays the build, and
# the build cost itself is characterized in SCALE.md's train-on-sample
# table.


def bench_names(registry) -> list[str]:
    """The benched queries, in bench order: BENCH_QUERIES, then every
    other "bench"-tagged registry query by name."""
    names = [n for n in BENCH_QUERIES if n in registry]
    return names + sorted(
        n for n, q in registry.items() if "bench" in q.tags and n not in names
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isdir(sf_dir):
        sys.exit(f"bench: data dir not found: {sf_dir}")

    from datafusion_comet_spark.queries import load_all
    from datafusion_comet_spark.session import get_session
    from datafusion_comet_spark.testing import scale_factor, timings

    registry = load_all()
    names = bench_names(registry)

    warm = [n for n in names if "warm_by_design" in registry[n].tags]
    if warm:
        print(
            "# warm by design (later iterations reuse a per-session memo): "
            + ", ".join(warm),
            file=sys.stderr,
        )

    spark = get_session(app_name="dcs-bench")

    # warmup: JVM JIT + catalyst caches + parquet footer reads
    registry["q1_pricing_summary"].fn(spark, sf_dir).collect()

    # min over ITERATIONS runs per query — the reference's reported
    # numbers take min-per-query across iterations (reference:
    # benchmarks/tpc/tpcbench.py; results format
    # benchmarks/results/0.16.0/*.json), which measures steady-state
    # execution rather than first-run codegen/JIT compile.
    # 4 iterations: this box shows heavy co-tenant noise (same query
    # 0.4s..5s across runs, spikes clustered in time); min-of-4
    # recovers steady-state timing at ~30s extra wall clock.
    iterations = int(os.environ.get("SPARK_GRAFT_BENCH_ITERATIONS", "4"))
    per_query: dict[str, float] = {}
    failed: list[str] = []
    for name in names:
        counts: list[int] = []
        # the timed region is build + collect(); collect() forces full
        # evaluation incl. the final projection (count() would let
        # Catalyst prune result expressions); all bench queries return
        # small (aggregated / limited) results.  Where a final sort runs
        # in one task on that account, tests/test_queries_oracle.py
        # _ONE_TASK_BOUNDED states its bound and checks its one-task stage
        def run():
            counts.append(len(registry[name].fn(spark, sf_dir).collect()))

        try:
            secs = timings(spark, run, iterations)
        except Exception as exc:  # one broken query must not lose the run
            failed.append(name)
            print(f"# {name}: FAILED {exc!r}", file=sys.stderr)
            continue
        per_query[name] = round(min(secs), 3)
        print(f"# {name}: {per_query[name]:.3f}s ({counts[-1]} rows)", file=sys.stderr)
    total = round(sum(per_query.values()), 3)

    out = {
        "metric": "bench_total",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": scale_factor(sf_dir),
    }
    if failed:
        out["failed"] = failed
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
