#!/usr/bin/env python
"""Micro-benchmarks — scan / shuffle / aggregate / columnar-to-row / write.

Rebuild of the reference's micro-benchmark suite (reference:
spark/src/test/scala/org/apache/spark/sql/benchmark/{CometReadBenchmark,
CometShuffleBenchmark,CometColumnarToRowBenchmark}.scala and the
shuffle codec matrix in native/shuffle/src/shuffle_writer.rs): isolate
the primitive costs underneath every query — parquet scan (full vs
pruned+pushed), hash-partitioned shuffle, two-phase aggregation,
columnar→row materialization (Arrow collect), and parquet write per
codec — so a bench.py regression can be attributed to a primitive, not
guessed at.

Writes go through the `noop` sink (execution without sink cost) or a
temp dir (write benchmarks).  Prints ONE JSON line:
    {"metric": "microbench", "cases": {name: sec, ...}, "sf": N}

Run: python dev/microbench.py    [SPARK_GRAFT_SF_DIR=... to change scale]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ITERATIONS = int(os.environ.get("SPARK_GRAFT_BENCH_ITERATIONS", "3"))


def main() -> None:
    from pyspark.sql import functions as F

    from datafusion_comet_spark.catalog import DEFAULT_SF_DIR
    from datafusion_comet_spark.session import get_session
    from datafusion_comet_spark.testing import scale_factor, timings

    spark = get_session(app_name="dcs-microbench")
    li_path = os.path.join(DEFAULT_SF_DIR, "lineitem.parquet")
    li = spark.read.parquet(li_path)
    li.count()  # warm: JVM JIT + parquet footers in page cache

    def noop(build):
        return lambda: build().write.format("noop").mode("overwrite").save()

    out = tempfile.mkdtemp(prefix="dcs_microbench_")
    thunks = {
        # -- scan: all columns materialized vs pruned projection with a
        #    pushed predicate (CometReadBenchmark's numeric-scan cases).
        "scan_full_width": noop(lambda: spark.read.parquet(li_path)),
        "scan_pruned_pushed": noop(
            lambda: spark.read.parquet(li_path)
            .filter(F.col("l_shipdate") > "1998-01-01")
            .select("l_orderkey", "l_extendedprice")
        ),
        # -- shuffle: hash repartition of the full fact
        #    (CometShuffleBenchmark; partition count matches the
        #    session's shuffle parallelism).
        "shuffle_hash_32": noop(lambda: li.repartition(32, "l_orderkey")),
        # round-robin forces serialization of every row with no key
        "shuffle_roundrobin_32": noop(lambda: li.repartition(32)),
        # -- aggregate: two-phase partial/final hash aggregation
        "agg_twophase": noop(
            lambda: li.groupBy("l_partkey")
            .agg(F.sum("l_extendedprice"), F.count(F.lit(1)))
        ),
        # -- columnar→row boundary: Arrow-batched driver materialization
        #    (CometColumnarToRowBenchmark; Arrow path per session config)
        "columnar_to_row_arrow": lambda: li.select(
            "l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate"
        ).toPandas(),
    }
    # -- write: parquet per codec (ParquetWriter codec matrix,
    #    reference operator.proto:301-306 zstd/lz4/snappy)
    for codec in ("zstd", "lz4", "snappy"):
        thunks[f"write_parquet_{codec}"] = lambda c=codec: (
            li.write.option("compression", c).mode("overwrite")
            .parquet(os.path.join(out, c))
        )
    try:
        cases = {
            name: round(min(timings(spark, thunk, ITERATIONS)), 3)
            for name, thunk in thunks.items()
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)

    print(json.dumps({"metric": "microbench", "cases": cases, "sf": scale_factor(DEFAULT_SF_DIR)}))
    spark.stop()


if __name__ == "__main__":
    main()
