#!/usr/bin/env python
"""Generate PLANS.md — physical-operator coverage across the query inventory.

The reference proves operator coverage by asserting which Comet operators
served each query (checkSparkAnswerAndOperator) and by committing approved
plans (CometPlanStabilitySuite).  This report is the inventory-wide rollup:
for every registered (non-streaming) query, label the nodes of its physical
plan with ``plans.operators_in_plan`` (the labels the goldens hold) and
aggregate — which Spark operators the engine exercises, and how many
queries hit each.

Run: python dev/plan_report.py   (rewrites PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys
from collections import Counter, defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from datafusion_comet_spark.plans import operators_in_plan
    from datafusion_comet_spark.queries import load_all
    from datafusion_comet_spark.session import get_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    registry = load_all()
    spark = get_session(app_name="plan-report")

    op_queries: dict[str, list[str]] = defaultdict(list)
    counts: Counter[str] = Counter()
    skipped = []
    for name, q in sorted(registry.items()):
        if name.startswith("stream_"):
            skipped.append(name)
            continue
        try:
            ops = set(operators_in_plan(q.fn(spark, sf_dir)))
        except Exception as ex:  # pragma: no cover - report, don't die
            skipped.append(f"{name} (error: {str(ex)[:60]})")
            continue
        for op in ops:
            counts[op] += 1
            op_queries[op].append(name)

    n_queries = len([n for n in registry if not n.startswith("stream_")])
    lines = [
        "# PLANS — physical-operator coverage of the query inventory",
        "",
        "Generated by `dev/plan_report.py` (rerun after adding queries).",
        f"Spark physical operators appearing across the {n_queries}",
        "non-streaming registered queries, with how many queries exercise",
        "each.  Labels are `plans.operators_in_plan`'s: the walked plan's",
        "class names, shuffles with their partitioning, subqueries and",
        "cached plans included.  The streaming queries execute through the",
        "incremental planner and are excluded here; their operator",
        "assertions live in `tests/` directly.  Per-query approved label",
        "sequences are the plan-stability goldens (`tests/goldens/plans/`).",
        "",
        "| Physical operator | queries | examples |",
        "|---|---|---|",
    ]
    for op, cnt in counts.most_common():
        ex = ", ".join(sorted(op_queries[op])[:3])
        lines.append(f"| {op} | {cnt} | {ex} |")
    lines += [
        "",
        f"Streaming queries (excluded above): {len(skipped)} — "
        + ", ".join(s for s in skipped if not s.endswith(")")),
        "",
    ]
    out = os.path.join(REPO, "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(counts)} distinct operators")
    spark.stop()


if __name__ == "__main__":
    main()
