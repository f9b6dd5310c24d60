#!/usr/bin/env python
"""Simulate the round driver's correctness gate before committing a
rotation: run every SAMPLE_PREFIX query at the driver's sf0.01 scale
and compare to its DuckDB oracle with the same canonicalization the
driver uses (row count + column-name set + order-insensitive value
multiset).  Mirrors the reference's pre-merge re-proof discipline
(CometTestBase.checkSparkAnswerAndOperator).

Usage:
    python dev/driver_sim.py                # the SAMPLE_PREFIX (50)
    python dev/driver_sim.py name1 name2    # specific queries
    python dev/driver_sim.py --all          # the whole registry
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _check(spark, q) -> str:
    from datafusion_comet_spark.testing import compare_to_oracle

    try:
        df = q.fn(spark, SF_DIR)
        if q.oracle is None:
            return f"rows-only ({df.count()} rows)"
        compare_to_oracle(df, q.oracle, SF_DIR)
        return "green"
    except Exception:
        traceback.print_exc()
        return "RED"


def main() -> int:
    from datafusion_comet_spark.queries import SAMPLE_PREFIX, load_all
    from datafusion_comet_spark.session import get_session
    from datafusion_comet_spark.testing import timings

    reg = load_all()
    argv = sys.argv[1:]
    if argv == ["--all"]:
        names = list(reg)
    elif argv:
        names = argv
    else:
        names = list(SAMPLE_PREFIX)

    spark = get_session(app_name="dcs-driver-sim")
    failures: list[str] = []
    total = 0.0
    for i, name in enumerate(names, 1):
        status = []
        (sec,) = timings(spark, lambda: status.append(_check(spark, reg[name])), 1)
        total += sec
        if status[0] == "RED":
            failures.append(name)
        print(f"  {i:2d}/{len(names)} {name}: {status[0]} ({sec:.2f}s)", flush=True)
    print(f"total {total:.1f}s; failures: {failures or 'none'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
