#!/usr/bin/env python
"""Generic interleaved same-process conf A/B over bench queries.

Usage:
    python dev/conf_ab.py "spark.sql.x=defaultVal|candidateVal" [query ...]

For each query, ``testing.ab`` over the two values: warmup once, then
AB_BLOCKS interleaved (A,B) blocks, each arm timed min-of-AB_RUNS with
the conf set before building the DataFrame, rows compared for exact
multiset equality between arms.  Writes dev/conf_ab_<last key part>.json.
A static conf (``spark.conf.isModifiable`` false) cannot change inside
a session, so the script exits without running it.
"""
from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import bench_names
from datafusion_comet_spark.queries import load_all
from datafusion_comet_spark.session import get_session
from datafusion_comet_spark.testing import ab

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BLOCKS = int(os.environ.get("AB_BLOCKS", "3"))
RUNS = int(os.environ.get("AB_RUNS", "2"))


def main() -> None:
    spec = sys.argv[1]
    key, _, vals = spec.partition("=")
    val_a, _, val_b = vals.partition("|")
    registry = load_all()
    names = sys.argv[2:] or bench_names(registry)
    spark = get_session(app_name="dcs-conf-ab")
    if not spark.conf.isModifiable(key):
        spark.stop()
        sys.exit(
            f"conf_ab: {key} is a static conf; it is fixed when the JVM starts, "
            "so it cannot be A/B'd inside one session. Compare it with "
            "alternating fresh-process runs instead, e.g. perfbench/spread.py "
            "on two checkouts whose session.DEFAULT_CONF differ in it."
        )
    arms = {val_a: {key: val_a}, val_b: {key: val_b}}
    out = {}
    for name in names:
        try:
            best, eq = ab(
                spark, lambda: registry[name].fn(spark, SF_DIR), arms, BLOCKS, RUNS
            )
        except Exception as exc:
            out[name] = {"error": repr(exc)}
            continue
        out[name] = {
            "rows_equal": eq,
            val_a: round(best[val_a], 3),
            val_b: round(best[val_b], 3),
            "b_over_a": round(best[val_b] / best[val_a], 3),
        }
        print(json.dumps({name: out[name]}), flush=True)
    spark.stop()
    tag = key.rsplit(".", 1)[-1]
    with open(os.path.join(REPO, "dev", f"conf_ab_{tag}.json"), "w") as f:
        json.dump({"conf": spec, "results": out}, f, indent=1)


if __name__ == "__main__":
    main()
