#!/usr/bin/env python
"""Interleaved same-process conf A/B over bench queries, with N named arms.

Usage:
    python dev/conf_ab.py NAME:[KEY=VALUE[,KEY=VALUE...]] NAME:... [query ...]

Each argument with a ``:`` is an arm: a name, then zero or more
comma-separated conf pairs (``default:`` runs the session as launched).
The other arguments are query names (default: bench.py's queries).  For
example, broadcast off and AQE off against the shipped session:

    python dev/conf_ab.py default: \\
      smj:spark.sql.autoBroadcastJoinThreshold=-1,spark.sql.adaptive.autoBroadcastJoinThreshold=-1,spark.sql.join.preferSortMergeJoin=true \\
      no_aqe:spark.sql.adaptive.enabled=false q18_large_volume

For each query, ``testing.ab`` over the arms: warmup once, then AB_BLOCKS
interleaved blocks, each arm timed min-of-AB_RUNS with its confs set
before building the DataFrame, rows compared for exact multiset equality
across arms.  Prints one JSON line per query (seconds per arm and each
arm's ratio to the first) and writes dev/conf_ab_<arm names>.json.  The
data dir is ``catalog.DEFAULT_SF_DIR``.  A static conf
(``spark.conf.isModifiable`` false) cannot change inside a session, so
the script exits non-zero before any query runs when an arm sets one.
"""
from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import bench_names
from datafusion_comet_spark.catalog import DEFAULT_SF_DIR
from datafusion_comet_spark.queries import load_all
from datafusion_comet_spark.session import get_session
from datafusion_comet_spark.testing import ab

BLOCKS = int(os.environ.get("AB_BLOCKS", "3"))
RUNS = int(os.environ.get("AB_RUNS", "2"))


def parse_arms(specs: list[str]) -> dict[str, dict[str, str]]:
    """``["a:", "b:k=v,k2=v2"]`` -> ``{"a": {}, "b": {"k": "v", "k2": "v2"}}``."""
    arms: dict[str, dict[str, str]] = {}
    for spec in specs:
        name, _, pairs = spec.partition(":")
        conf = {}
        for pair in filter(None, pairs.split(",")):
            key, eq, value = pair.partition("=")
            if not eq:
                sys.exit(f"conf_ab: arm {name!r}: {pair!r} is not KEY=VALUE")
            conf[key] = value
        if not name or name in arms:
            sys.exit(f"conf_ab: arm {spec!r} needs a name of its own")
        arms[name] = conf
    if len(arms) < 2:
        sys.exit("conf_ab: give at least two arms, e.g. default: no_aqe:spark.sql.adaptive.enabled=false")
    return arms


def run(spark, arms: dict[str, dict[str, str]], names: list[str], sf_dir: str = DEFAULT_SF_DIR) -> dict:
    """``testing.ab`` over ``arms`` for each query in ``names``; exits
    before any query runs when an arm sets a static conf."""
    static = sorted({k for conf in arms.values() for k in conf if not spark.conf.isModifiable(k)})
    if static:
        sys.exit(
            f"conf_ab: {', '.join(static)}: static conf; it is fixed when the JVM "
            "starts, so it cannot be A/B'd inside one session. Compare it with "
            "alternating fresh-process runs instead, e.g. perfbench/spread.py "
            "on two checkouts whose session.DEFAULT_CONF differ in it."
        )
    registry = load_all()
    first = next(iter(arms))
    out = {}
    for name in names:
        try:
            best, eq = ab(spark, lambda: registry[name].fn(spark, sf_dir), arms, BLOCKS, RUNS)
        except Exception as exc:
            out[name] = {"error": repr(exc)}
            continue
        out[name] = {"rows_equal": eq, **{arm: round(s, 3) for arm, s in best.items()}}
        out[name].update(
            {f"{arm}/{first}": round(best[arm] / best[first], 3) for arm in arms if arm != first}
        )
        print(json.dumps({name: out[name]}), flush=True)
    return out


def main() -> None:
    args = sys.argv[1:]
    arms = parse_arms([a for a in args if ":" in a])
    names = [a for a in args if ":" not in a] or bench_names(load_all())
    spark = get_session(app_name="dcs-conf-ab")
    try:
        out = run(spark, arms, names)
    finally:
        spark.stop()
    with open(os.path.join(REPO, "dev", f"conf_ab_{'_'.join(arms)}.json"), "w") as f:
        json.dump({"arms": arms, "results": out}, f, indent=1)


if __name__ == "__main__":
    main()
