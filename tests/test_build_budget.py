"""Python-side plan construction: how many py4j commands building each
bench query's DataFrame costs, and the spellings that keep it low.

Every PySpark Column or DataFrame call is at least one py4j round trip
to the JVM.  ``BUILD_CEILINGS`` pins the command count of
``Query.fn(spark, sf_dir)``, not the build time: each DataFrame
operation also costs 2-4 ms of eager analysis in the JVM, against
0.2-0.3 ms per command, so one more operation can cost more than many
commands.  The build time is perfbench's traced ``queries.build_s``.
The ceilings below are the counts after the build-cost cuts (session
``dataFrameDebugging`` off, SQL fragments for hot expressions, one
from_json centroid literal, schema'd parquet read-back); a change that
raises one must say why, here.  The from_json literal and the schema'd
read-back are pinned against the spellings they replaced."""

from __future__ import annotations

import gc
import inspect
import os
import struct
import sys

import pytest
from conftest import jobs_in_group
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from datafusion_comet_spark.catalog import load_table
from datafusion_comet_spark.queries import load_all, similarity
from datafusion_comet_spark.sources import write_read

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402
from perfbench.tracing import Py4JCounter  # noqa: E402

REGISTRY = load_all()

# Non-GC py4j commands of the SECOND build of each bench query in one
# session (the first build also loads tables and trains the memoized
# IVF index).  Counts repeat exactly from the second build on and are
# the same at sf0.001/sf0.01 and 4/8 cores.  The 14 queries that sort
# in one task (queries/_shared.py ``_sort_one_task``) name their sort
# keys as columns of the coalesced frame, one command each where a name
# passed to ``orderBy`` costs three, so each builds with fewer commands
# than its range-partitioned ``orderBy`` did (q1 187 -> 184, rollup
# 164 -> 157); return_ratio_rank's rank plan is one inequality join
# where it was two joins, two aggregates and two joins back
# (245 -> 166).  The counter is perfbench's ``Py4JCounter``, the same
# one behind its ``queries.py4j_calls``.
BUILD_CEILINGS = {
    "q1_pricing_summary": 184,
    "q3_shipping_priority": 99,
    "q4_order_priority": 59,
    "q5_local_supplier": 96,
    "q6_forecast_revenue": 61,
    "q7_volume_shipping": 167,
    "q8_market_share": 181,
    "q9_product_profit": 116,
    "q10_returned_items": 118,
    "q12_late_shipments": 76,
    "q13_customer_distribution": 65,
    "q14_promo_revenue": 70,
    "q15_top_supplier": 109,
    "q17_small_quantity": 88,
    "q18_large_volume": 117,
    "q19_discounted_revenue": 73,
    "q21_waiting_supplier": 137,
    "q22_sales_opportunity": 93,
    "ann_bruteforce_topk": 231,
    "ann_ivf_kmeans": 334,
    "dedup_exact": 58,
    "dedup_minhash_lsh": 262,
    "dedup_winnow_cut": 109,
    "dedup_winnow_fingerprint": 135,
    "text_bm25_multiquery": 212,
    "text_bm25_topk": 138,
    "text_stats": 151,
    "tpcds_cross_channel_rollup": 157,
    "tpcds_return_ratio_rank": 166,
}

# Spark jobs of the second (warm) execution, build and collect, of each
# query of perfbench's two workloads (tpch_sf0.01: the 18 TPC-H-shaped
# bench queries; pipeline_sf0.01: the other four), measured at sf0.001
# and sf0.01 on 4 cores, the larger where they differ.  SCALE.md "Jobs
# per query" has the counts before the one-task sorts and the
# return-ratio rank rebuild.  A range-partitioned final sort costs a
# sampling job and a shuffle stage, so a ceiling that rises names it.
JOB_CEILINGS = {
    "q1_pricing_summary": 2,
    "q3_shipping_priority": 4,
    "q4_order_priority": 3,
    "q5_local_supplier": 7,
    "q6_forecast_revenue": 2,
    "q7_volume_shipping": 6,
    "q8_market_share": 9,
    "q9_product_profit": 6,
    "q10_returned_items": 5,
    "q12_late_shipments": 3,
    "q13_customer_distribution": 4,
    "q14_promo_revenue": 3,
    "q15_top_supplier": 8,
    "q17_small_quantity": 5,
    "q18_large_volume": 6,
    "q19_discounted_revenue": 3,
    "q21_waiting_supplier": 6,
    "q22_sales_opportunity": 5,
    "dedup_minhash_lsh": 7,
    "ann_ivf_kmeans": 5,
    "tpcds_return_ratio_rank": 10,
    "parquet_write_partitioned": 5,
}

def jobs(spark, sf_dir, group, *names, collect=False):
    """Spark jobs started under job group ``group`` (unique per
    session) by building each of ``names`` and, with ``collect``,
    collecting it."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        for name in names:
            df = REGISTRY[name].fn(spark, sf_dir)
            if collect:
                df.collect()
    finally:
        sc._jsc.clearJobGroup()
    return jobs_in_group(spark, group)


def test_ceilings_cover_exactly_the_bench_queries():
    assert set(bench.BENCH_QUERIES) <= set(REGISTRY)
    assert set(BUILD_CEILINGS) == set(bench.bench_names(REGISTRY))
    assert set(JOB_CEILINGS) == {n for _, names in WORKLOADS.values() for n in names}


def test_dataframe_debugging_is_off(spark):
    """PySpark's per-call origin capture (~5 extra round trips per
    Column call) is off for the process; see session.DEFAULT_CONF."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


@pytest.mark.parametrize("name", sorted(BUILD_CEILINGS))
def test_bench_query_build_py4j_budget(spark, sf_dir, name):
    fn = REGISTRY[name].fn
    fn(spark, sf_dir)
    gc.collect()
    with Py4JCounter(spark).counting() as counter:
        fn(spark, sf_dir)
    assert counter.calls <= BUILD_CEILINGS[name], (name, counter.calls)


@pytest.mark.parametrize("name", sorted(JOB_CEILINGS))
def test_warm_execution_job_ceiling(spark, sf_dir, name):
    n = []
    for run in ("cold", "warm"):
        n.append(jobs(spark, sf_dir, f"job-ceiling-{name}-{run}", name, collect=True))
        spark.catalog.clearCache()
    assert n[1] <= JOB_CEILINGS[name], (name, n[1])


# --- the centroid literal ---------------------------------------------------

def _bits(rows) -> list[list[bytes]]:
    return [[struct.pack("<d", v) for v in row] for row in rows]


def test_centroid_literal_folds_to_bit_exact_values(spark, sf_dir):
    _, cents = similarity._ivf_index(spark, sf_dir)
    edge = [0.1, 1 / 3, -0.0, 0.0, -2.5, 5e-324, 2.2250738585072014e-308,
            1.7976931348623157e308, 123456789.12345679]
    for values in (cents, [edge]):
        df = spark.range(1).select(similarity._centroid_literal(values).alias("c"))
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "from_json" not in plan, plan[:500]
        got = df.collect()[0]["c"]
        assert _bits(got) == _bits(values)


def test_ann_ivf_plan_carries_no_from_json(spark, sf_dir):
    df = REGISTRY["ann_ivf_kmeans"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "transform([[" in plan and "from_json" not in plan


def _nearest_lit_array(vec_col, centroids):
    """The k×dim-F.lit spelling _centroid_literal replaced."""
    lit = F.array(*[F.array(*[F.lit(float(v)) for v in c]) for c in centroids])
    dists = F.transform(lit, lambda c: similarity._sq_dist(vec_col, c))
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def test_nearest_cells_match_literal_array_spelling(spark, sf_dir):
    emb, cents = similarity._ivf_index(spark, sf_dir)
    got = emb.select(
        "vec_id", similarity._nearest(F.col("emb"), cents).alias("cell")
    ).orderBy("vec_id").collect()
    want = emb.select(
        "vec_id", _nearest_lit_array(F.col("emb"), cents).alias("cell")
    ).orderBy("vec_id").collect()
    assert got == want
    assert len({r.cell for r in got}) > 1


# --- schema'd parquet read-back ---------------------------------------------

def _fields(schema):
    return [(f.name, f.dataType, f.nullable) for f in schema]


@pytest.mark.parametrize("partition_by", [["o_orderpriority"], None])
def test_parquet_read_back_schema_parity_without_a_job(
    spark, sf_dir, tmp_path, monkeypatch, partition_by
):
    """The explicit-schema read-back has the schema inference would
    give (partition column last) and starts no job: every job after
    the write lands in the read-back group."""
    sc = spark.sparkContext
    tag = "partitioned" if partition_by else "flat"
    write_group, read_group = f"wrp-write-{tag}", f"wrp-read-{tag}"
    write = DataFrameWriter.save

    def write_then_switch_group(self, *args, **kwargs):
        write(self, *args, **kwargs)
        sc.setJobGroup(read_group, "read-back")

    monkeypatch.setattr(DataFrameWriter, "save", write_then_switch_group)
    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders")
    sc.setJobGroup(write_group, "write")
    try:
        back = write_read(
            spark, orders, path, "parquet", {"compression": "zstd"},
            partition_by=partition_by or (),
        )
    finally:
        sc._jsc.clearJobGroup()
    assert jobs_in_group(spark, write_group) >= 1
    assert jobs_in_group(spark, read_group) == 0
    inferred = spark.read.parquet(path)
    assert _fields(back.schema) == _fields(inferred.schema)
    assert back.count() == inferred.count() == orders.count()


# --- warm-by-design tag -----------------------------------------------------

class _Memoized(Exception):
    pass


def test_warm_by_design_tag_marks_exactly_the_lloyd_memo_users(
    spark, sf_dir, monkeypatch
):
    """A query is warm by design iff its build reads the per-session
    IVF index memo (similarity._ivf_memo, which both index builders
    go through)."""

    def record(*args, **kwargs):
        raise _Memoized

    monkeypatch.setattr(similarity, "_ivf_memo", record)
    callers = {
        m for m in {q.fn.__module__ for q in REGISTRY.values()}
        if "_ivf_" in inspect.getsource(sys.modules[m])
    }
    memoizing = set()
    for name, q in REGISTRY.items():
        if q.fn.__module__ not in callers:
            continue
        try:
            q.fn(spark, sf_dir)
        except _Memoized:
            memoizing.add(name)
        finally:
            spark.catalog.clearCache()
    tagged = {n for n, q in REGISTRY.items() if "warm_by_design" in q.tags}
    assert memoizing and tagged == memoizing


def test_ivf_index_trains_once_per_session(spark, sf_dir, monkeypatch):
    """The IVF queries share one trained index per (session, dataset):
    after the first ann_ivf_kmeans build, rebuilding it and building
    ann_ivf_multiprobe start no job; ann_ivf_pq_adc's first build
    trains only its codebooks and its second starts no job.  Another
    session (applicationId) trains its own index."""
    monkeypatch.setattr(similarity, "_IVF_INDEX", {})
    assert jobs(spark, sf_dir, "ivf-first", "ann_ivf_kmeans") >= 1
    assert jobs(spark, sf_dir, "ivf-warm", "ann_ivf_kmeans", "ann_ivf_multiprobe") == 0
    assert jobs(spark, sf_dir, "ivf-pq-first", "ann_ivf_pq_adc") >= 1
    assert jobs(spark, sf_dir, "ivf-pq-warm", "ann_ivf_pq_adc") == 0
    coarse = similarity._ivf_index(spark, sf_dir)[1]
    monkeypatch.setattr(
        type(spark.sparkContext), "applicationId",
        property(lambda self: "another-session"),
    )
    assert jobs(spark, sf_dir, "ivf-other-session", "ann_ivf_kmeans") >= 1
    assert similarity._ivf_index(spark, sf_dir)[1] == coarse
