#!/usr/bin/env python
"""Scale probe — how the PLANS change as the data grows 100x.

The 100 TB claim rests on plans adapting with scale: dimension joins
staying broadcast while anything data-sized migrates broadcast →
shuffle as it outgrows the threshold, without any query change.  This
probe builds each headline query at sf0.001 / sf0.01 / sf0.1 (two
decades of growth) and tabulates the statically-planned join
strategies and exchange counts, so the transition is a recorded fact
rather than an assertion.  (Static plans: Spark's size-statistics
drive the broadcast decision at planning time; AQE can only further
demote at runtime.)

Run: python dev/scale_probe.py   (prints a markdown table; the
current output is committed at the bottom of SCALE.md)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q9_product_profit",
    "q18_large_volume",
    "q21_waiting_supplier",
    "tpcds_repeat_purchase_chain",
    "dedup_minhash_lsh",
    "corpus_snapshot_diff",
    "ann_bruteforce_topk",
]

SFS = ["sf0.001", "sf0.01", "sf0.1"]


_JOINS = {
    "BroadcastHashJoinExec": "BHJ",
    "SortMergeJoinExec": "SMJ",
    "ShuffledHashJoinExec": "SHJ",
    "BroadcastNestedLoopJoinExec": "BNLJ",
}


def probe(df) -> str:
    from collections import Counter

    from datafusion_comet_spark.plans import shuffle_count, walk_plan

    ops = Counter(cls for cls, _ in walk_plan(df))
    parts = [f"{ops[cls]}×{tag}" for cls, tag in _JOINS.items() if ops[cls]]
    parts.append(f"{shuffle_count(df)}ex")
    return " ".join(parts)


def main() -> None:
    from datafusion_comet_spark.queries import load_all
    from datafusion_comet_spark.session import get_session
    from datafusion_comet_spark.session import conf_override

    spark = get_session(app_name="dcs-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    rows = []
    for name in QUERIES:
        cells = []
        for sf in SFS:
            df = registry[name].fn(spark, f"/root/testdata/{sf}")
            cells.append(probe(df))
        rows.append((name, cells))
    print("| query | " + " | ".join(SFS) + " |")
    print("|---|" + "---|" * len(SFS))
    for name, cells in rows:
        print(f"| {name} | " + " | ".join(cells) + " |")

    # Second pass: shrink the broadcast threshold 512x (32MB -> 64KB),
    # the statistics-equivalent of growing every table ~512x beyond
    # sf0.1 — i.e. past SF50 dimension sizes.  Explicit F.broadcast
    # hints survive (STRUCTURAL broadcasts: the dims a 100 TB plan
    # still wants resident); statistics-driven broadcasts demote to
    # shuffle joins (the fact-side joins that must).
    print()
    print("With autoBroadcastJoinThreshold=64KB (simulating ~512x growth"
          " past sf0.1):")
    shrunk = {
        "spark.sql.autoBroadcastJoinThreshold": "65536",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "65536",
    }
    with conf_override(spark, shrunk):
        print("| query | joins at simulated scale |")
        print("|---|---|")
        for name in QUERIES:
            df = registry[name].fn(spark, "/root/testdata/sf0.1")
            print(f"| {name} | {probe(df)} |")
    spark.stop()


if __name__ == "__main__":
    main()
