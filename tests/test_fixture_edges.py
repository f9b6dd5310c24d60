"""Edge-semantics suite over the FIXTURES.md tables — Spark behavior
pinned the way the reference's differential suites pin it.

Where Spark and DuckDB agree, we could compare engines; where they
intentionally diverge (NaN total order, -0.0 grouping, non-ANSI
overflow wrap) the reference pins Spark's answer (reference:
spark/src/test/scala/org/apache/spark/sql/CometTestBase.scala:159-175,
NaN/-0.0 normalization rules/CometExecRule.scala:481-531) — these
tests do the same with literal expected values.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datafusion_comet_spark import fixtures
from datafusion_comet_spark.session import conf_override


@pytest.fixture(scope="module")
def prim(spark):
    return spark.read.parquet(fixtures.all_primitives())


@pytest.fixture(scope="module")
def nest(spark):
    return spark.read.parquet(fixtures.nested())


@pytest.fixture(scope="module")
def agg(spark):
    return spark.read.parquet(fixtures.agg_edge())


# --- float total ordering & normalization ---------------------------------
def test_nan_sorts_greatest_and_equals_itself(spark, prim):
    """Spark float ordering: NaN > +Inf, NaN = NaN (total order)."""
    top2 = [
        r.c_f64
        for r in prim.filter(F.col("c_f64").isNotNull())
        .orderBy(F.col("c_f64").desc())
        .limit(2)
        .collect()
    ]
    assert math.isnan(top2[0]) and top2[1] == float("inf")
    assert prim.filter(F.isnan("c_f64")).count() == 1


def test_negative_zero_groups_with_positive_zero(spark, prim):
    """-0.0 and 0.0 are one group key (the normalization the reference
    injects explicitly, rules/CometExecRule.scala:492-497)."""
    zeros = prim.filter(F.col("c_f64") == 0.0).groupBy("c_f64").count().collect()
    assert len(zeros) == 1
    assert zeros[0]["count"] == 2


def test_nan_poisons_sum_but_not_min(spark, prim):
    d = prim.filter(F.col("c_f64").isNotNull()).agg(
        F.sum("c_f64").alias("s"), F.min("c_f64").alias("mn")
    ).collect()[0]
    assert math.isnan(d.s)
    assert d.mn == float("-inf")


# --- integer overflow across the three eval modes -------------------------
# (reference MathExpr eval_mode LEGACY/TRY/ANSI, expr.proto:270-281;
#  Spark 4 defaults to ANSI)
def test_long_sum_overflow_all_eval_modes(spark, agg):
    """SUM(long) over two MAX_VALUE rows: ANSI raises, try_sum is
    NULL-on-overflow, LEGACY wraps silently."""
    edge = agg.filter(F.col("grp") == "edge")
    with pytest.raises(Exception, match="(?i)overflow"):
        edge.agg(F.sum("l").alias("s")).collect()
    assert edge.agg(F.expr("try_sum(l)").alias("s")).collect()[0].s is None
    with conf_override(spark, {"spark.sql.ansi.enabled": "false"}):
        wrapped = edge.agg(F.sum("l").alias("s")).collect()[0].s
        assert wrapped == 2 * (2**63 - 1) - 2**64  # = -2


def test_integral_bounds_roundtrip(spark, prim):
    r = prim.agg(
        F.min("c_i32").alias("mn32"), F.max("c_i32").alias("mx32"),
        F.min("c_i64").alias("mn64"), F.max("c_i64").alias("mx64"),
        F.min("c_i8").alias("mn8"), F.max("c_i8").alias("mx8"),
    ).collect()[0]
    assert (r.mn32, r.mx32) == (-(2**31), 2**31 - 1)
    assert (r.mn64, r.mx64) == (-(2**63), 2**63 - 1)
    assert (r.mn8, r.mx8) == (-128, 127)


# --- cast edges (reference CometCast.scala:139-421) -----------------------
def test_string_to_int_cast_edges(spark, prim):
    """try_cast trims whitespace and is NULL for non-numeric; under
    ANSI (Spark 4 default) a plain cast of 'abc' raises; under LEGACY
    it is NULL — the reference's per-pair compat matrix behavior."""
    sel = prim.filter(F.col("c_str").isin(" 5 ", "abc", "42", "-7", ""))
    got = {
        r.c_str: r.try_int
        for r in sel.select(
            "c_str", F.expr("try_cast(c_str AS int)").alias("try_int")
        ).distinct().collect()
    }
    assert got == {" 5 ": 5, "abc": None, "42": 42, "-7": -7, "": None}
    with pytest.raises(Exception, match="(?i)cast|invalid"):
        sel.select(F.col("c_str").cast("int")).collect()
    with conf_override(spark, {"spark.sql.ansi.enabled": "false"}):
        legacy = {
            r.c_str: r.as_int
            for r in sel.select(
                "c_str", F.col("c_str").cast("int").alias("as_int")
            ).distinct().collect()
        }
        assert legacy == {" 5 ": 5, "abc": None, "42": 42, "-7": -7, "": None}


def test_timestamp_pre_epoch_date_cast(spark, prim):
    """1969-12-31T23:59:59Z casts to date 1969-12-31 (floor, not
    round-toward-zero) — a classic pre-epoch off-by-one."""
    n = prim.filter(
        (F.col("c_ts") < F.lit("1970-01-01 00:00:00").cast("timestamp"))
        & (F.col("c_ts").cast("date") == F.lit("1969-12-31").cast("date"))
    ).count()
    assert n == 1


def test_decimal_precision_preserved(spark, prim):
    mx = prim.agg(F.max("c_dec_16_2").alias("m")).collect()[0].m
    assert str(mx) == "99999999999999.99"


# --- aggregation edge cases (sql-tests/expressions/aggregate/sum.sql) -----
def test_null_only_group(spark, agg):
    r = (
        agg.filter(F.col("grp") == "only_nulls")
        .groupBy("grp")
        .agg(
            F.sum("i").alias("s"),
            F.count("i").alias("cnt_col"),
            F.count(F.lit(1)).alias("cnt_star"),
            F.avg("d").alias("av"),
        )
        .collect()[0]
    )
    assert r.s is None and r.av is None
    assert r.cnt_col == 0 and r.cnt_star == 5


def test_infinity_in_float_aggregates(spark, agg):
    r = (
        agg.filter(F.col("grp") == "edge")
        .agg(F.sum("f").alias("s"), F.max("f").alias("mx"), F.min("f").alias("mn"))
        .collect()[0]
    )
    assert math.isnan(r.s)  # +Inf + -Inf
    assert r.mx == float("inf") and r.mn == float("-inf")


def test_bool_and_or_first_last(spark, agg):
    r = (
        agg.filter(F.col("grp").isin("a", "singleton"))
        .groupBy("grp")
        .agg(
            F.bool_and("b").alias("ba"),
            F.bool_or("b").alias("bo"),
            F.min_by("i", "ts").alias("first_i"),
            F.max_by("i", "ts").alias("last_i"),
        )
        .orderBy("grp")
        .collect()
    )
    a, single = r[0], r[1]
    assert (a.ba, a.bo) == (False, True)
    assert a.first_i == 0 and a.last_i == N_A_MAX
    assert (single.ba, single.bo) == (True, True)


# --- nested / JSON edges --------------------------------------------------
def test_element_at_out_of_bounds_and_null_elements(spark, nest):
    """element_at beyond array length → NULL (non-ANSI); NULL elements
    survive explode_outer; NULL arrays produce a single NULL row."""
    r = nest.filter(F.col("id") == 5).select(
        F.try_element_at("arr_i", F.lit(100)).alias("oob"),
        F.size("arr_i").alias("sz"),
    ).collect()[0]
    assert r.oob is None and r.sz == 5
    with pytest.raises(Exception, match="(?i)index|bound"):
        nest.filter(F.col("id") == 5).select(
            F.element_at("arr_i", 100)
        ).collect()
    null_arr = nest.filter(F.col("arr_i").isNull())
    exploded = null_arr.select("id", F.explode_outer("arr_i").alias("x"))
    assert exploded.count() == null_arr.count()
    assert all(row.x is None for row in exploded.collect())


def test_map_missing_key_and_struct_field(spark, nest):
    r = nest.filter(F.col("id") == 7).select(
        F.element_at("m_is", 99).alias("missing"),
        F.col("s.a").alias("sa"),
        F.col("s.c").alias("sc"),
    ).collect()[0]
    assert r.missing is None
    assert r.sa == 7 and r.sc == 3.5


def test_malformed_json_returns_null(spark, nest):
    """get_json_object/from_json on malformed input → NULL, never an
    error (PERMISSIVE mode — Spark's default)."""
    bad = nest.filter(F.col("id") % 10 == 1)
    got = bad.select(
        F.get_json_object("json_str", "$.a").alias("a"),
        F.from_json("json_str", "a INT, c STRUCT<d: STRING>").alias("p"),
    ).collect()
    assert all(r.a is None for r in got)
    assert all(r.p is None or r.p.a is None for r in got)
    ok = nest.filter(F.col("id") % 10 == 2).select(
        F.get_json_object("json_str", "$.c.d").alias("d")
    ).collect()
    assert all(r.d is not None for r in ok)


N_A_MAX = 1000 // 4 - 1  # last i within a regular group (agg_edge shape)
