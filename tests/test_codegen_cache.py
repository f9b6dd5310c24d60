"""Pin: each distinct generated class compiles once per driver JVM.

Spark keeps compiled whole-stage classes in an LRU of
`spark.sql.codegen.cache.maxEntries` (default 100), keyed by the
generated source.  One pass over the 18 TPC-H bench queries generates
about 210 distinct classes, so with the default every pass evicted
what the next one needed and recompiled about 240 of them (Janino,
~19 ms each).  With the stage id in the class name
(`spark.sql.codegen.useIdInClassName`, default true) the same pipeline
at another stage position is another source and another compile.
`session.DEFAULT_CONF` sizes the cache to the working set and drops the
id (SCALE.md "Generated-code cache").

Two pins:
1. the live session carries both values of `DEFAULT_CONF`; the cache
   size is static, so it holds only in a JVM `get_session` launched;
2. a second pass over the 18 queries, right after a first, compiles
   nothing.  This also catches a query whose generated code changes on
   every execution.
"""

from __future__ import annotations

import os
import sys
import time

import pytest

from datafusion_comet_spark.queries import load_all
from datafusion_comet_spark.session import DEFAULT_CONF

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench  # noqa: E402

REGISTRY = load_all()
CACHE_SIZE = "spark.sql.codegen.cache.maxEntries"
CLASS_NAME_ID = "spark.sql.codegen.useIdInClassName"


@pytest.mark.parametrize("key", (CACHE_SIZE, CLASS_NAME_ID))
def test_session_has_default_codegen_conf(spark, key):
    assert spark.conf.get(key) == DEFAULT_CONF[key]


def test_codegen_cache_size_is_static(spark):
    # an A/B of it needs fresh processes; dev/conf_ab.py refuses it
    assert not spark.conf.isModifiable(CACHE_SIZE)
    assert spark.conf.isModifiable(CLASS_NAME_ID)


def test_second_tpch_pass_compiles_nothing(spark, sf_dir):
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compile_time = metric.METRIC_COMPILATION_TIME()

    def compiles(run) -> int:
        before = compile_time.getCount()
        run()
        return compile_time.getCount() - before

    def tpch_pass() -> None:
        for name in bench.BENCH_QUERIES:
            REGISTRY[name].fn(spark, sf_dir).collect()
            spark.catalog.clearCache()

    tpch_pass()
    assert compiles(tpch_pass) == 0
    # the metric counts this JVM's compiles: a new literal is a new source
    fresh = f"id + {time.time_ns()}L AS x"
    assert compiles(lambda: spark.range(1).selectExpr(fresh).collect()) > 0
