#!/usr/bin/env python
"""Spill-under-pressure probe (round-9 verdict, "Next round #2").

Everything measured so far fits in RAM; the reference treats spill as
a first-class design surface (memory pools + operator spill,
reference: spark/src/main/scala/org/apache/comet/CometExecIterator.scala:293-326,
native/core/src/execution/memory_pools/).  The Spark-first analog is
Spark's UnifiedMemoryManager: sorts / hash aggregates / sort-merge
joins spill to disk when execution memory runs out.  This probe runs
the heaviest registry queries with execution memory deliberately
starved and reports, per query:

- wall time of one run (build + collect),
- total spill bytes (memory + disk), summed from the Spark metrics
  system (TaskMetrics via the AppStatusStore — the same numbers the
  UI's "Spill (memory/disk)" columns show),
- correctness: the collected rows must match the query's DuckDB oracle
  by ``testing.compare_to_oracle``'s rules.  VALUES-pinned oracles
  (outputs captured on the sf0.001/sf0.01 corpora) are reported, not
  checked.

Run it in a FRESH process (driver memory is a JVM-launch-time option):

    python dev/spill_probe.py [sf_dir]          # default scaledata/sf1
    SPILL_MEM=2g SPILL_FRACTION=0.08 python dev/spill_probe.py

`SPILL_MEM` sets spark.driver.memory for the constrained session;
`SPILL_FRACTION` sets spark.memory.fraction (default 0.6 → the
constrained default here is 0.08, which shrinks the unified pool ~8x
on top of the heap cut — starving execution memory without shrinking
the heap so far that parquet/codegen buffers OOM outright).

Output: one JSON line (consumed by SCALE.md).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Heaviest shuffle/sort/agg/join shapes in the registry + one map-only
# control (text_stats, which must NOT spill: no shuffle state).
QUERIES = [
    "q1_pricing_summary",        # wide hash aggregate
    "q3_shipping_priority",      # two fact joins + TakeOrdered
    "q10_returned_items",        # 3-way join, wide group keys
    "q17_small_quantity",        # per-part window over the fact
    "q18_large_volume",          # big per-order aggregate + semi join
    "q21_waiting_supplier",      # 3 self-join shuffles
    "tpcds_return_ratio_rank",   # dual rank windows (sort-heavy)
    "dedup_exact",               # full-width fingerprint exchange
    "dedup_minhash_lsh",         # banded signature shuffles
    "text_stats",                # map-only control — expect 0 spill
]


def _spill_since(spark, prev: tuple[int, int]) -> tuple[int, int, tuple[int, int]]:
    """Cumulative (memory, disk) spill bytes across all completed stages,
    read from the AppStatusStore (public monitoring surface — the same
    store the UI renders); returns deltas vs `prev`."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    # Spark 4 signature: stageList(statuses, details, withSummaries,
    # unsortedQuantiles, taskStatus) — pass explicit defaults
    mem = disk = 0
    it = store.stageList(
        gw.jvm.java.util.ArrayList(),  # all statuses
        False,
        False,
        gw.new_array(gw.jvm.double, 0),
        gw.jvm.java.util.ArrayList(),
    ).iterator()
    while it.hasNext():
        s = it.next()
        mem += s.memoryBytesSpilled()
        disk += s.diskBytesSpilled()
    return mem - prev[0], disk - prev[1], (mem, disk)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "scaledata", "sf1"
    )
    if not os.path.isdir(sf_dir):
        sys.exit(f"spill_probe: data dir not found: {sf_dir}")

    from datafusion_comet_spark.queries import load_all
    from datafusion_comet_spark.session import get_session
    from datafusion_comet_spark.testing import compare_rows_to_oracle, timings

    reg = load_all()
    spark = get_session(
        app_name="dcs-spill-probe-tight",
        extra_conf={
            "spark.driver.memory": os.environ.get("SPILL_MEM", "2g"),
            "spark.memory.fraction": os.environ.get("SPILL_FRACTION", "0.08"),
        },
    )
    heap = spark.sparkContext._jsc.sc().conf().get("spark.driver.memory")
    frac = spark.conf.get("spark.memory.fraction")
    print(f"# constrained session: driver.memory={heap} memory.fraction={frac}",
          file=sys.stderr)

    # warmup (JIT + footers)
    reg["q1_pricing_summary"].fn(spark, sf_dir).collect()

    rows = []
    n_checked = n_green = 0
    _, _, cum = _spill_since(spark, (0, 0))
    for name in QUERIES:
        q = reg[name]
        got = {}

        def run():
            got["df"] = q.fn(spark, sf_dir)
            got["rows"] = got["df"].collect()

        try:
            (dt,) = timings(spark, run, 1)
        except Exception as exc:  # record OOM/abort instead of dying
            rows.append({"query": name, "error": str(exc)[:200]})
            print(f"# {name}: FAILED {str(exc)[:120]}", file=sys.stderr)
            _, _, cum = _spill_since(spark, cum)
            continue
        mem, disk, cum = _spill_since(spark, cum)
        print(f"# {name}: {dt:.3f}s spill mem={mem/2**20:.1f}MB "
              f"disk={disk/2**20:.1f}MB ({len(got['rows'])} rows)", file=sys.stderr)
        r = {
            "query": name,
            "sec": round(dt, 3),
            "rows": len(got["rows"]),
            "spill_mem_mb": round(mem / 2**20, 1),
            "spill_disk_mb": round(disk / 2**20, 1),
        }
        rows.append(r)
        if q.oracle is None:
            r["oracle"] = "none"
            continue
        if "gen_values_oracles" in q.oracle:
            # VALUES-pin oracles encode captured outputs for the DRIVER
            # testdata; they are data-dependent and meaningless on
            # generator data
            r["oracle"] = "values-pin (driver-data only)"
            continue
        n_checked += 1
        try:
            compare_rows_to_oracle(got["df"].columns, got["rows"], q.oracle, sf_dir)
        except AssertionError as exc:
            r["oracle"] = "RED"
            print(f"# {name}: ORACLE MISMATCH under memory pressure! {exc}",
                  file=sys.stderr)
            continue
        r["oracle"] = "green"
        n_green += 1

    spark.stop()
    print(json.dumps({
        "metric": "spill_probe",
        "sf_dir": sf_dir,
        "driver_memory": heap,
        "memory_fraction": frac,
        "oracles_green": f"{n_green}/{n_checked}",
        "queries": rows,
    }))


if __name__ == "__main__":
    main()
