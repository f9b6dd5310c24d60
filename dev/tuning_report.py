#!/usr/bin/env python
"""Tuning-delta report — quantify what the engine's defaults buy.

The reference's single biggest benchmark win is a CONFIG change:
replacing sort-merge joins with hash joins took TPC-H SF1000 from
637.6s to 521.7s (reference: benchmarks/results/0.16.0/
comet-tpch-hashjoin.json; docs/source/contributor-guide/
benchmark-results/tpc-h.md:72-75).  This engine bakes the equivalent
policy into its session defaults (session.py: generous broadcast
thresholds + AQE).  This report measures the same deltas on our
bench subset so the defaults are a documented, re-measurable choice,
not folklore:

  default   — the engine session as shipped
  smj       — broadcast disabled, sort-merge preferred (the
              un-tuned baseline posture)
  no_aqe    — adaptive execution off (static plans)

Prints ONE JSON line: {"metric": "tuning_report", "variants":
{name: {query: sec, "total": sec}}, "rows_equal": {query: bool},
"sf": N}.  All variants run in one JVM (every knob used is
runtime-settable), interleaved per query by ``testing.ab``: min of
SPARK_GRAFT_BENCH_ITERATIONS blocks, rows compared exactly across
variants.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    "q3_shipping_priority",
    "q5_local_supplier",
    "q9_product_profit",
    "q18_large_volume",
    "q21_waiting_supplier",
]

VARIANTS: dict[str, dict[str, str]] = {
    "default": {},
    "smj": {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.join.preferSortMergeJoin": "true",
    },
    "no_aqe": {
        "spark.sql.adaptive.enabled": "false",
    },
}

ITERATIONS = int(os.environ.get("SPARK_GRAFT_BENCH_ITERATIONS", "3"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from datafusion_comet_spark.queries import load_all
    from datafusion_comet_spark.session import get_session
    from datafusion_comet_spark.testing import ab, scale_factor

    registry = load_all()
    spark = get_session(app_name="dcs-tuning-report")

    out: dict[str, dict[str, float]] = {v: {} for v in VARIANTS}
    rows_equal: dict[str, bool] = {}
    for name in QUERIES:
        best, rows_equal[name] = ab(
            spark, lambda: registry[name].fn(spark, sf_dir), VARIANTS, ITERATIONS, 1
        )
        for variant, sec in best.items():
            out[variant][name] = round(sec, 3)
        print(f"# {name}: rows_equal={rows_equal[name]}", file=sys.stderr)
    for variant, per in out.items():
        per["total"] = round(sum(per.values()), 3)
        print(f"# {variant}: {per['total']:.3f}s", file=sys.stderr)

    print(json.dumps({
        "metric": "tuning_report",
        "variants": out,
        "rows_equal": rows_equal,
        "sf": scale_factor(sf_dir),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
