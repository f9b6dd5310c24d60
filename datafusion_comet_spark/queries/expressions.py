"""Scalar expression coverage (SURVEY.md §2.2).

One query per expression family, mirroring the reference's serde
dispatch tables (reference:
spark/src/main/scala/org/apache/comet/serde/QueryPlanSerde.scala:76-261)
and its SQL-file test corpus layout
(spark/src/test/resources/sql-tests/expressions/{string,math,datetime,
hash,bitwise,conditional,cast,array,map,struct,misc}/).

Cross-engine notes baked into the oracles:
- DuckDB ``CAST(double AS INT)`` rounds, Spark truncates → oracle uses
  ``CAST(trunc(x) AS ...)``;
- DuckDB ``dow`` is 0-based Sunday, Spark ``dayofweek`` is 1-based →
  oracle adds 1;
- Spark ``year()``/``hour()``/... return int, DuckDB EXTRACT returns
  BIGINT → Spark side casts to long;
- murmur3/xxhash64/crc32/url_encode have no DuckDB counterpart →
  separate no-oracle queries pinned by unit tests instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from . import register
from ._shared import _t
from ._values_oracles import VALUES_ORACLES


# --------------------------------------------------------------------------
# Strings  (reference serde/strings.scala:34-482)
# --------------------------------------------------------------------------
@register(
    "expr_string_basics",
    oracle="""
SELECT p_partkey,
       upper(p_name)                       AS up,
       lower(p_brand)                      AS lo,
       CAST(length(p_name) AS INT)         AS len,
       substr(p_name, 2, 3)                AS sub,
       concat_ws('|', p_brand, p_type)     AS cw,
       lpad(p_brand, 12, '*')              AS lp,
       rpad(p_brand, 12, '*')              AS rp,
       reverse(p_type)                     AS rev,
       repeat(p_brand, 2)                  AS rep,
       trim('  ' || p_type || ' ')         AS tr,
       replace(p_name, ' ', '_')           AS repl,
       left(p_name, 4)                     AS l4,
       right(p_name, 4)                    AS r4,
       CAST(ascii(p_brand) AS INT)         AS asc,
       chr(CAST(65 + (p_partkey % 26) AS INT)) AS ch,
       CAST(instr(p_name, 'a') AS INT)     AS pos_a,
       split_part(p_name, ' ', 1)          AS word1,
       translate(p_type, 'AEO', 'aeo')     AS trans
FROM part
WHERE p_partkey < 300
ORDER BY p_partkey
""",
    tags=("expression", "string"),
)
def expr_string_basics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upper/lower/length/substring/concat_ws/pads/reverse/repeat/trim/
    replace/left/right/ascii/chr/instr/split_part/translate."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.lower("p_brand").alias("lo"),
        F.length("p_name").alias("len"),
        F.substring("p_name", 2, 3).alias("sub"),
        F.concat_ws("|", "p_brand", "p_type").alias("cw"),
        F.lpad("p_brand", 12, "*").alias("lp"),
        F.rpad("p_brand", 12, "*").alias("rp"),
        F.reverse("p_type").alias("rev"),
        F.repeat("p_brand", 2).alias("rep"),
        F.trim(F.concat(F.lit("  "), F.col("p_type"), F.lit(" "))).alias("tr"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("repl"),
        F.left(F.col("p_name"), F.lit(4)).alias("l4"),
        F.right(F.col("p_name"), F.lit(4)).alias("r4"),
        F.ascii("p_brand").alias("asc"),
        F.chr(F.lit(65) + (F.col("p_partkey") % 26)).alias("ch"),
        F.instr("p_name", "a").alias("pos_a"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("word1"),
        F.translate("p_type", "AEO", "aeo").alias("trans"),
    ).orderBy("p_partkey")


@register(
    "expr_string_search",
    oracle="""
SELECT p_partkey,
       p_name LIKE '%bolt%'            AS has_bolt,
       p_name LIKE 'red%'              AS is_red,
       p_name LIKE '%t'                AS ends_t,
       contains(p_name, 'wid')         AS has_wid,
       starts_with(p_brand, 'Brand#1') AS b1,
       ends_with(p_type, 'MO')         AS promo_ish
FROM part
WHERE p_partkey < 500
ORDER BY p_partkey
""",
    tags=("expression", "string"),
)
def expr_string_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE / contains / startswith / endswith (reference Contains,
    StartsWith, EndsWith, Like — serde/strings.scala)."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    return part.select(
        "p_partkey",
        F.col("p_name").like("%bolt%").alias("has_bolt"),
        F.col("p_name").like("red%").alias("is_red"),
        F.col("p_name").like("%t").alias("ends_t"),
        F.col("p_name").contains("wid").alias("has_wid"),
        F.col("p_brand").startswith("Brand#1").alias("b1"),
        F.col("p_type").endswith("MO").alias("promo_ish"),
    ).orderBy("p_partkey")


@register(
    "expr_regex",
    oracle="""
SELECT doc_id,
       regexp_matches(text, 'join.*filter')            AS jf,
       regexp_extract(text, '([a-z]+)', 1)             AS first_word,
       regexp_replace(text, '[aeiou]', '_', 'g')       AS devowel,
       CAST(len(regexp_extract_all(text, 'data')) AS INT) AS n_data
FROM documents
WHERE doc_id < 50
ORDER BY doc_id
""",
    tags=("expression", "regex"),
)
def expr_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rlike / regexp_extract / regexp_replace / regexp_extract_all
    count (reference RLike/RegExpReplace with constant patterns only,
    serde/strings.scala:353; regex-compat caveats
    docs/.../compatibility/regex.md — patterns here are dialect-neutral)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id",
        F.col("text").rlike("join.*filter").alias("jf"),
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("text", "[aeiou]", "_").alias("devowel"),
        F.size(F.expr("regexp_extract_all(text, 'data', 0)")).alias("n_data"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Datetime  (reference serde/datetime.scala:35-716)
# --------------------------------------------------------------------------
@register(
    "expr_datetime_fields",
    oracle="""
SELECT o_orderkey,
       EXTRACT(year FROM o_orderdate)      AS y,
       EXTRACT(month FROM o_orderdate)     AS mo,
       EXTRACT(day FROM o_orderdate)       AS d,
       EXTRACT(quarter FROM o_orderdate)   AS q,
       EXTRACT(dow FROM o_orderdate) + 1   AS dow,
       EXTRACT(isodow FROM o_orderdate) - 1 AS wd,
       EXTRACT(doy FROM o_orderdate)       AS doy,
       EXTRACT(week FROM o_orderdate)      AS woy
FROM orders
WHERE o_orderkey < 500
ORDER BY o_orderkey
""",
    tags=("expression", "datetime"),
)
def expr_datetime_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/day/quarter/dayofweek/weekday/dayofyear/weekofyear
    (reference serde/datetime.scala field getters)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.dayofmonth("o_orderdate").cast("long").alias("d"),
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
        F.weekday("o_orderdate").cast("long").alias("wd"),
        F.dayofyear("o_orderdate").cast("long").alias("doy"),
        F.weekofyear("o_orderdate").cast("long").alias("woy"),
    ).orderBy("o_orderkey")


@register(
    "expr_datetime_arith",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) + 30                       AS plus30,
       CAST(o_orderdate AS DATE) - 7                        AS minus7,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3mo,
       date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
         AS days_since,
       CAST(date_trunc('month', o_orderdate) AS DATE)       AS month_start,
       CAST(date_trunc('week', o_orderdate) AS DATE)        AS week_start,
       last_day(CAST(o_orderdate AS DATE))                  AS month_end
FROM orders
WHERE o_orderkey < 500
ORDER BY o_orderkey
""",
    tags=("expression", "datetime"),
)
def expr_datetime_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_add/date_sub/add_months/datediff/trunc/last_day
    (reference DateAdd/DateSub/DateDiff/TruncDate/LastDay)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.date_add(d, 30).alias("plus30"),
        F.date_sub(d, 7).alias("minus7"),
        F.add_months(d, 3).alias("plus3mo"),
        F.datediff(d, F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since"),
        F.trunc(d, "month").alias("month_start"),
        F.trunc(d, "week").alias("week_start"),
        F.last_day(d).alias("month_end"),
    ).orderBy("o_orderkey")


@register(
    "expr_datetime_format",
    oracle="""
SELECT event_id,
       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M')      AS fmt,
       CAST(floor(EXTRACT(epoch FROM CAST(ts AS TIMESTAMP))) AS BIGINT)
         AS unix_sec,
       EXTRACT(hour FROM CAST(ts AS TIMESTAMP))               AS h,
       EXTRACT(minute FROM CAST(ts AS TIMESTAMP))             AS mi,
       EXTRACT(second FROM CAST(ts AS TIMESTAMP))             AS s,
       CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
         AS hour_bucket
FROM events
WHERE event_id < 300
ORDER BY event_id
""",
    tags=("expression", "datetime"),
)
def expr_datetime_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_format/unix_timestamp/hour/minute/second/date_trunc on the
    µs-normalized events stream (reference DateFormat/UnixTimestamp,
    serde/unixtime.scala:30-64)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    return ev.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm").alias("fmt"),
        F.unix_timestamp("ts").alias("unix_sec"),
        F.hour("ts").cast("long").alias("h"),
        F.minute("ts").cast("long").alias("mi"),
        F.floor(F.second("ts")).cast("long").alias("s"),
        F.date_trunc("hour", "ts").alias("hour_bucket"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# Math  (reference serde/math.scala + arithmetic.scala)
# --------------------------------------------------------------------------
@register(
    "expr_math_basics",
    oracle="""
SELECT p_partkey,
       abs(p_retailprice - 1000.0)                    AS ab,
       CAST(ceil(p_retailprice) AS BIGINT)            AS ce,
       CAST(floor(p_retailprice) AS BIGINT)           AS fl,
       round(sqrt(p_retailprice), 6)                  AS sq,
       round(cbrt(p_retailprice), 6)                  AS cb,
       round(exp(p_size / 25.0), 6)                   AS ex,
       round(ln(p_retailprice), 6)                    AS logn,
       round(log10(p_retailprice), 6)                 AS log10_,
       round(log2(p_retailprice), 6)                  AS log2_,
       round(pow(p_size, 2.0), 2)                     AS pw,
       p_size % 7                                     AS md,
       CAST(sign(p_size - 25) AS DOUBLE)              AS sg,
       greatest(p_size, 25)                           AS gr,
       least(p_size, 25)                              AS le,
       round(degrees(p_size / 50.0), 6)               AS deg,
       round(radians(CAST(p_size AS DOUBLE)), 6)      AS rad,
       round(pi(), 6)                                 AS pi_
FROM part
WHERE p_partkey < 300
ORDER BY p_partkey
""",
    tags=("expression", "math"),
)
def expr_math_basics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """abs/ceil/floor/sqrt/cbrt/exp/log/pow/mod/sign/greatest/least/
    degrees/radians/pi (reference QueryPlanSerde.scala:94-138)."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    return part.select(
        "p_partkey",
        F.abs(F.col("p_retailprice") - 1000.0).alias("ab"),
        F.ceil("p_retailprice").alias("ce"),
        F.floor("p_retailprice").alias("fl"),
        F.round(F.sqrt("p_retailprice"), 6).alias("sq"),
        F.round(F.cbrt("p_retailprice"), 6).alias("cb"),
        F.round(F.exp(F.col("p_size") / 25.0), 6).alias("ex"),
        F.round(F.log("p_retailprice"), 6).alias("logn"),
        F.round(F.log10("p_retailprice"), 6).alias("log10_"),
        F.round(F.log2("p_retailprice"), 6).alias("log2_"),
        F.round(F.pow("p_size", F.lit(2.0)), 2).alias("pw"),
        (F.col("p_size") % 7).alias("md"),
        F.signum(F.col("p_size") - 25).alias("sg"),
        F.greatest("p_size", F.lit(25)).alias("gr"),
        F.least("p_size", F.lit(25)).alias("le"),
        F.round(F.degrees(F.col("p_size") / 50.0), 6).alias("deg"),
        F.round(F.radians(F.col("p_size").cast("double")), 6).alias("rad"),
        F.round(F.lit(3.141592653589793), 6).alias("pi_"),
    ).orderBy("p_partkey")


@register(
    "expr_math_trig",
    oracle="""
SELECT p_partkey,
       round(sin(x), 6)  AS sn,  round(cos(x), 6)  AS cs,
       round(tan(x), 6)  AS tn,  round(asin(x / 2.0), 6) AS asn,
       round(acos(x / 2.0), 6) AS acs, round(atan(x), 6) AS atn,
       round(atan2(x, 1.0 - x), 6) AS at2,
       round((exp(x) - exp(-x)) / 2, 6) AS snh,
       round((exp(x) + exp(-x)) / 2, 6) AS csh,
       upper(to_hex(p_partkey)) AS hx
FROM (SELECT p_partkey, (p_size / 50.0) AS x FROM part WHERE p_partkey < 300) t
ORDER BY p_partkey
""",
    tags=("expression", "math"),
)
def expr_math_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigonometric + hyperbolic + hex (reference Sin..Tanh, Hex)."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    x = (F.col("p_size") / 50.0).alias("x")
    t = part.select("p_partkey", x)
    return t.select(
        "p_partkey",
        F.round(F.sin("x"), 6).alias("sn"),
        F.round(F.cos("x"), 6).alias("cs"),
        F.round(F.tan("x"), 6).alias("tn"),
        F.round(F.asin(F.col("x") / 2.0), 6).alias("asn"),
        F.round(F.acos(F.col("x") / 2.0), 6).alias("acs"),
        F.round(F.atan("x"), 6).alias("atn"),
        F.round(F.atan2(F.col("x"), 1.0 - F.col("x")), 6).alias("at2"),
        F.round(F.sinh("x"), 6).alias("snh"),
        F.round(F.cosh("x"), 6).alias("csh"),
        F.hex(F.col("p_partkey")).alias("hx"),
    ).orderBy("p_partkey")


# --------------------------------------------------------------------------
# Conditionals  (reference serde/conditional.scala:29-131)
# --------------------------------------------------------------------------
@register(
    "expr_conditional",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'debt'
            WHEN c_acctbal < 5000 THEN 'mid'
            ELSE 'rich' END                    AS bucket,
       CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is_bldg,
       coalesce(nullif(c_mktsegment, 'MACHINERY'), 'OTHER')  AS seg_or_other,
       ifnull(nullif(c_nationkey, 0), -1)     AS nk_or_neg,
       greatest(c_acctbal, 0.0)               AS pos_bal,
       least(c_acctbal, 0.0)                  AS neg_bal
FROM customer
WHERE c_custkey < 400
ORDER BY c_custkey
""",
    tags=("expression", "conditional"),
)
def expr_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / if / coalesce / nullif / ifnull / greatest / least."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 400)
    return cust.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("rich")
        .alias("bucket"),
        F.expr("IF(c_mktsegment = 'BUILDING', 1, 0)").alias("is_bldg"),
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")), F.lit("OTHER")
        ).alias("seg_or_other"),
        F.ifnull(F.nullif(F.col("c_nationkey"), F.lit(0)), F.lit(-1)).alias(
            "nk_or_neg"
        ),
        F.greatest("c_acctbal", F.lit(0.0)).alias("pos_bal"),
        F.least("c_acctbal", F.lit(0.0)).alias("neg_bal"),
    ).orderBy("c_custkey")


@register(
    "expr_predicates",
    oracle="""
SELECT s_suppkey,
       s_nationkey IN (1, 3, 5, 7)                  AS in_odd,
       s_acctbal BETWEEN 1000 AND 5000              AS mid_bal,
       s_name IS NOT NULL                           AS has_name,
       s_nationkey IS NOT DISTINCT FROM 3           AS null_safe_eq3,
       NOT (s_acctbal > 0)                          AS non_positive
FROM supplier
ORDER BY s_suppkey
""",
    tags=("expression", "predicate"),
)
def expr_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / BETWEEN / IS NULL / null-safe equality (<=>) / NOT
    (reference serde/predicates.scala:31-244)."""
    supp = _t(spark, sf_dir, "supplier")
    return supp.select(
        "s_suppkey",
        F.col("s_nationkey").isin(1, 3, 5, 7).alias("in_odd"),
        F.col("s_acctbal").between(1000, 5000).alias("mid_bal"),
        F.col("s_name").isNotNull().alias("has_name"),
        F.col("s_nationkey").eqNullSafe(F.lit(3)).alias("null_safe_eq3"),
        (~(F.col("s_acctbal") > 0)).alias("non_positive"),
    ).orderBy("s_suppkey")


# --------------------------------------------------------------------------
# Casts  (reference CometCast.scala:139-421, cast.rs)
# --------------------------------------------------------------------------
@register(
    "expr_cast_matrix",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderkey AS VARCHAR)                  AS key_str,
       CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT)  AS key_roundtrip,
       CAST(trunc(o_totalprice) AS BIGINT)          AS price_long,
       CAST(trunc(o_totalprice / 1000) AS INT)      AS price_k,
       CAST(o_custkey AS DOUBLE)                    AS cust_dbl,
       CAST(o_orderdate AS DATE)                    AS od_date,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR)   AS od_str,
       CAST(o_orderstatus = 'O' AS INT)             AS is_open_int,
       CAST('123' AS BIGINT)                        AS lit_int,
       CAST('2020-06-01' AS DATE)                   AS lit_date
FROM orders
WHERE o_orderkey < 500
ORDER BY o_orderkey
""",
    tags=("expression", "cast"),
)
def expr_cast_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast matrix: int↔string, double→int (truncating), int→double,
    timestamp→date→string, bool→int, string→int/date (reference's
    single largest compat kernel:
    spark/src/main/scala/org/apache/comet/expressions/CometCast.scala:139-421,
    native/spark-expr/src/conversion_funcs/cast.rs)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return orders.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderkey").cast("string").cast("long").alias("key_roundtrip"),
        F.col("o_totalprice").cast("long").alias("price_long"),
        (F.col("o_totalprice") / 1000).cast("int").alias("price_k"),
        F.col("o_custkey").cast("double").alias("cust_dbl"),
        F.col("o_orderdate").cast("date").alias("od_date"),
        F.col("o_orderdate").cast("date").cast("string").alias("od_str"),
        (F.col("o_orderstatus") == "O").cast("int").alias("is_open_int"),
        F.lit("123").cast("long").alias("lit_int"),
        F.lit("2020-06-01").cast("date").alias("lit_date"),
    ).orderBy("o_orderkey")


@register(
    "expr_cast_narrowing",
    oracle="""
SELECT p_partkey,
       TRY_CAST(p_size AS TINYINT)                   AS size_i8,
       TRY_CAST(p_size AS SMALLINT)                  AS size_i16,
       TRY_CAST(p_partkey * 1000000 AS INTEGER)      AS key_scaled_i32,
       TRY_CAST(floor(p_retailprice) AS BIGINT)      AS price_trunc,
       CAST(TRY_CAST(CAST(p_retailprice AS DECIMAL(12,2))
                     AS DECIMAL(18,6)) AS DOUBLE)    AS price_rescaled,
       TRY_CAST(p_size AS DOUBLE)                    AS size_dbl,
       TRY_CAST(CAST(p_size AS DOUBLE) AS FLOAT)     AS size_f32
FROM part
WHERE p_partkey < 400
ORDER BY p_partkey
""",
    tags=("expression", "cast", "narrowing"),
)
def expr_cast_narrowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric↔numeric direction family: int downcasts (in-range and
    overflow→NULL under TRY), decimal rescale, int→double→float.  The
    per-(from,to,evalMode) edge sweep lives in tests/test_cast_pairs.py
    (reference: CometCast.scala:310-378 canCastFromByte..FromDouble)."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 400)
    return part.select(
        "p_partkey",
        F.col("p_size").try_cast("tinyint").alias("size_i8"),
        F.col("p_size").cast("smallint").alias("size_i16"),
        F.expr("try_cast(p_partkey * 1000000 AS int)").alias(
            "key_scaled_i32"
        ),
        F.expr("try_cast(floor(p_retailprice) AS bigint)").alias(
            "price_trunc"
        ),
        F.col("p_retailprice")
        .cast("decimal(12,2)")
        .cast("decimal(18,6)")
        .cast("double")
        .alias("price_rescaled"),
        F.col("p_size").cast("double").alias("size_dbl"),
        F.col("p_size").cast("double").cast("float").alias("size_f32"),
    ).orderBy("p_partkey")


@register(
    "expr_cast_string_parsing",
    oracle="""
SELECT o_orderkey,
       TRY_CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT)  AS key_roundtrip,
       TRY_CAST(o_orderstatus AS INTEGER)               AS status_as_int,
       TRY_CAST(' ' || CAST(o_orderkey AS VARCHAR) || ' '
                AS BIGINT)                              AS key_padded,
       TRY_CAST(o_orderpriority AS DOUBLE) IS NULL      AS prio_not_numeric,
       TRY_CAST(substr(CAST(o_orderdate AS VARCHAR), 1, 10)
                AS DATE)                                AS od_parsed,
       TRY_CAST(CAST(o_orderdate AS VARCHAR) AS TIMESTAMP)
                                                        AS ots_parsed
FROM orders
WHERE o_orderkey < 400
ORDER BY o_orderkey
""",
    tags=("expression", "cast", "string"),
)
def expr_cast_string_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """string→{numeric, date, timestamp} direction family under TRY
    semantics: numeric round-trip, malformed→NULL, whitespace trim,
    ISO date/timestamp parse (reference:
    CometCast.scala:206-233 canCastFromString)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 400)
    od_str = F.col("o_orderdate").cast("string")
    return orders.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").try_cast("bigint").alias(
            "key_roundtrip"
        ),
        F.col("o_orderstatus").try_cast("int").alias("status_as_int"),
        F.concat(F.lit(" "), F.col("o_orderkey").cast("string"), F.lit(" "))
        .try_cast("bigint")
        .alias("key_padded"),
        F.col("o_orderpriority")
        .try_cast("double")
        .isNull()
        .alias("prio_not_numeric"),
        F.substring(od_str, 1, 10).try_cast("date").alias("od_parsed"),
        od_str.try_cast("timestamp").alias("ots_parsed"),
    ).orderBy("o_orderkey")


@register(
    "expr_cast_temporal",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate AS DATE)                         AS od_date,
       CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)      AS od_midnight,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR)        AS od_str,
       CAST(o_orderdate AS VARCHAR)                      AS ots_str,
       CAST(epoch(o_orderdate) AS BIGINT)                AS ots_epoch_s
FROM orders
WHERE o_orderkey < 400
ORDER BY o_orderkey
""",
    tags=("expression", "cast", "temporal"),
)
def expr_cast_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal direction family: timestamp→date (truncation),
    date→timestamp (midnight), both→string rendering, and the
    epoch-seconds link via unix_seconds (the ANSI-legal spelling of
    the LEGACY-only timestamp→bigint cast, pinned separately in
    tests/test_cast_pairs.py; reference:
    CometCast.scala:283-297 canCastFromTimestamp)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 400)
    od = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        od.cast("date").alias("od_date"),
        od.cast("date").cast("timestamp").alias("od_midnight"),
        od.cast("date").cast("string").alias("od_str"),
        od.cast("string").alias("ots_str"),
        # parquet reads as TIMESTAMP_NTZ; the ntz->ltz cast is exact
        # under the engine's pinned UTC session timezone
        F.unix_seconds(od.cast("timestamp")).alias("ots_epoch_s"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# Hash  (reference serde/hash.scala:28-136)
# --------------------------------------------------------------------------
@register(
    "expr_hash_portable",
    oracle="""
SELECT n_nationkey,
       md5(n_name)            AS h_md5,
       sha256(n_name)         AS h_sha256
FROM nation
ORDER BY n_nationkey
""",
    tags=("expression", "hash"),
)
def expr_hash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 / sha2-256 — the portable subset (reference Md5/Sha2)."""
    nation = _t(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        F.md5(F.col("n_name").cast("binary")).alias("h_md5"),
        F.sha2(F.col("n_name").cast("binary"), 256).alias("h_sha256"),
    ).orderBy("n_nationkey")


@register(
    "expr_hash_spark_native",
    # VALUES oracle: independent pure-Python Murmur3/XXH64 + zlib.crc32 +
    # hashlib.sha1 recompute (dev/gen_values_oracles.py); also unit-pinned.
    oracle=VALUES_ORACLES["expr_hash_spark_native"],
    tags=("expression", "hash"),
)
def expr_hash_spark_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """murmur3 (F.hash, seed 42 — bit-identical to the reference's
    native/spark-expr/src/hash_funcs/murmur3.rs), xxhash64, crc32, sha1."""
    nation = _t(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        F.hash("n_name").alias("h_murmur3"),
        F.xxhash64("n_name").alias("h_xx64"),
        F.crc32(F.col("n_name").cast("binary")).alias("h_crc32"),
        F.sha1(F.col("n_name").cast("binary")).alias("h_sha1"),
    ).orderBy("n_nationkey")


# --------------------------------------------------------------------------
# Bitwise  (reference serde/bitwise.scala:27-143)
# --------------------------------------------------------------------------
@register(
    "expr_bitwise",
    oracle="""
SELECT p_partkey,
       p_size & 12                       AS b_and,
       p_size | 3                        AS b_or,
       xor(p_size, 21)                   AS b_xor,
       ~p_size                           AS b_not,
       p_size << 2                       AS shl,
       p_size >> 1                       AS shr,
       CAST(bit_count(p_size) AS INT)    AS bcnt,
       (p_size >> 3) & 1                 AS bit3
FROM part
WHERE p_partkey < 300
ORDER BY p_partkey
""",
    tags=("expression", "bitwise"),
)
def expr_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """& | ^ ~ shiftleft shiftright bit_count getbit."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    sz = F.col("p_size")
    return part.select(
        "p_partkey",
        sz.bitwiseAND(12).alias("b_and"),
        sz.bitwiseOR(3).alias("b_or"),
        sz.bitwiseXOR(21).alias("b_xor"),
        F.bitwise_not(sz).alias("b_not"),
        F.shiftleft(sz, 2).alias("shl"),
        F.shiftright(sz, 1).alias("shr"),
        F.bit_count(sz).alias("bcnt"),
        F.shiftright(sz, 3).bitwiseAND(F.lit(1)).alias("bit3"),
    ).orderBy("p_partkey")


# --------------------------------------------------------------------------
# Arrays  (reference serde/arrays.scala:35-814)
# --------------------------------------------------------------------------
@register(
    "expr_array_ops",
    oracle="""
SELECT doc_id,
       CAST(len(toks) AS INT)                     AS n_toks,
       list_contains(toks, 'data')                AS has_data,
       list_sort(toks)[1]                         AS first_sorted,
       toks[1]                                    AS head,
       toks[-1]                                   AS tail,
       array_to_string(list_slice(toks, 2, 4), '|')  AS mid3,
       array_to_string(list_slice(toks, 1, 3), '-') AS joined3,
       CAST(list_position(toks, 'the') AS INT)    AS pos_the,
       array_to_string(list_sort(list_distinct(toks)), '|') AS uniq_sorted
FROM (SELECT doc_id, str_split(text, ' ') AS toks
      FROM documents WHERE doc_id < 40) t
ORDER BY doc_id
""",
    tags=("expression", "array"),
)
def expr_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """size/array_contains/sort_array/element_at/slice/array_join/
    array_position/array_distinct (reference serde/arrays.scala)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    t = docs.select("doc_id", F.split("text", " ").alias("toks"))
    return t.select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        F.array_contains("toks", "data").alias("has_data"),
        F.element_at(F.sort_array("toks"), 1).alias("first_sorted"),
        F.element_at("toks", 1).alias("head"),
        F.element_at("toks", -1).alias("tail"),
        F.array_join(F.slice("toks", 2, 3), "|").alias("mid3"),
        F.array_join(F.slice("toks", 1, 3), "-").alias("joined3"),
        F.array_position("toks", "the").cast("int").alias("pos_the"),
        # arrays serialized at the output boundary (driver-hash
        # safety: numpy-vs-list stringification); the array ops
        # themselves still execute underneath
        F.array_join(
            F.sort_array(F.array_distinct("toks")), "|"
        ).alias("uniq_sorted"),
    ).orderBy("doc_id")


@register(
    "expr_array_lambda",
    oracle="""
SELECT doc_id,
       array_to_string(list_transform(list_slice(toks, 1, 5),
                       x -> upper(x)), '|') AS up5,
       coalesce(array_to_string(list_filter(toks, x -> length(x) > 5),
                '|'), '') AS long_toks,  -- DuckDB: empty list -> NULL
       CAST(len(list_filter(toks, x -> x = 'the')) AS INT)   AS n_the,
       CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
         AS total_chars
FROM (SELECT doc_id, str_split(text, ' ') AS toks
      FROM documents WHERE doc_id < 40) t
ORDER BY doc_id
""",
    tags=("expression", "array", "lambda"),
)
def expr_array_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: transform / filter / aggregate
    (reference covers only ArrayFilter among lambdas — strict superset
    here; serde/arrays.scala ArrayFilter)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    t = docs.select("doc_id", F.split("text", " ").alias("toks"))
    return t.select(
        "doc_id",
        F.array_join(
            F.transform(F.slice("toks", 1, 5), lambda x: F.upper(x)),
            "|",
        ).alias("up5"),
        F.array_join(
            F.filter("toks", lambda x: F.length(x) > 5), "|"
        ).alias("long_toks"),
        F.size(F.filter("toks", lambda x: x == "the")).alias("n_the"),
        F.aggregate(
            "toks",
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.length(x).cast("long"),
        ).alias("total_chars"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Maps & structs  (reference serde/maps.scala, serde/structs.scala)
# --------------------------------------------------------------------------
@register(
    "expr_map_struct",
    oracle="""
SELECT n_nationkey,
       'key|region' AS mkeys,
       CAST(n_nationkey AS VARCHAR) || '|' ||
         CAST(n_regionkey AS VARCHAR) AS mvals,
       CAST(n_nationkey AS BIGINT)  AS s_key,
       n_name                       AS s_name,
       2                            AS m_size
FROM nation
ORDER BY n_nationkey
""",
    tags=("expression", "map", "struct"),
)
def expr_map_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map_from_arrays/map_keys/map_values/element_at + named_struct
    field access; emitted as plain arrays/scalars so the cross-engine
    hash is type-stable (map hashing is engine-specific)."""
    nation = _t(spark, sf_dir, "nation")
    m = F.map_from_arrays(
        F.array(F.lit("key"), F.lit("region")),
        F.array(
            F.col("n_nationkey").cast("long"), F.col("n_regionkey").cast("long")
        ),
    )
    s = F.named_struct(
        F.lit("key"), F.col("n_nationkey").cast("long"), F.lit("name"), F.col("n_name")
    )
    return nation.select(
        "n_nationkey",
        F.array_join(F.map_keys(m), "|").alias("mkeys"),
        F.array_join(
            F.transform(F.map_values(m), lambda v: v.cast("string")),
            "|",
        ).alias("mvals"),
        s.getField("key").alias("s_key"),
        s.getField("name").alias("s_name"),
        F.size(m).alias("m_size"),
    ).orderBy("n_nationkey")


# --------------------------------------------------------------------------
# JSON  (reference serde/structs.scala StructsToJson/JsonToStructs/
#        GetJsonObject; native/spark-expr/src/json_funcs/)
# --------------------------------------------------------------------------
@register(
    "expr_json",
    oracle="""
SELECT event_id,
       json_extract_string(props, '$.k')                    AS k_str,
       CAST(json_extract_string(props, '$.k') AS BIGINT)    AS k_int,
       json_extract_string(props, '$.missing')              AS missing,
       to_json(struct_pack(id := event_id, typ := event_type)) AS packed
FROM events
WHERE event_id < 300
ORDER BY event_id
""",
    tags=("expression", "json"),
)
def expr_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object / from_json-equivalent extraction / to_json."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("long").alias("k_int"),
        F.get_json_object("props", "$.missing").alias("missing"),
        F.to_json(
            F.named_struct(
                F.lit("id"), F.col("event_id"), F.lit("typ"), F.col("event_type")
            )
        ).alias("packed"),
    ).orderBy("event_id")


@register(
    "expr_url_misc",
    # VALUES oracle: independent Java-URLEncoder-in-Python recompute
    # (dev/gen_values_oracles.py); also unit-pinned.
    oracle=VALUES_ORACLES["expr_url_misc"],
    tags=("expression", "url"),
)
def expr_url_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """url_encode/url_decode (reference StaticInvoke support,
    serde/statics.scala:29-85)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    enc = F.url_encode(F.substring("text", 1, 30))
    return docs.select(
        "doc_id",
        enc.alias("encoded"),
        F.url_decode(enc).alias("roundtrip"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# CSV struct conversion  (reference StructsToCsv serde/structs.scala;
#  native/spark-expr/src/csv_funcs/)
# --------------------------------------------------------------------------
@register(
    "expr_csv_struct",
    oracle="""
SELECT n_nationkey,
       n_nationkey || ',' || n_name AS as_csv,
       n_nationkey AS rt_key,
       n_name AS rt_name
FROM nation
ORDER BY n_nationkey
""",
    tags=("expression", "csv", "struct"),
)
def expr_csv_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_csv over a struct and the from_csv round trip back to typed
    fields — the reference's StructsToCsv/CsvToStructs pair."""
    nation = _t(spark, sf_dir, "nation")
    csv = F.to_csv(F.struct("n_nationkey", "n_name"))
    parsed = F.from_csv(csv, F.lit("k INT, name STRING"))
    return nation.select(
        "n_nationkey",
        csv.alias("as_csv"),
        parsed.getField("k").alias("rt_key"),
        parsed.getField("name").alias("rt_name"),
    ).orderBy("n_nationkey")


# --------------------------------------------------------------------------
# TRY eval mode + integral/decimal arithmetic edge semantics
# (reference serde/arithmetic.scala:88-359 eval modes LEGACY/TRY/ANSI,
#  expr.proto:270-281; native math_funcs/{div,modulo_expr}.rs)
# --------------------------------------------------------------------------
@register(
    "expr_try_arithmetic",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_quantity + l_discount                         AS plain_add,
       CASE WHEN l_linenumber = 0 THEN NULL
            ELSE l_extendedprice / l_linenumber END     AS try_div,
       CASE WHEN l_linenumber = 0 THEN NULL
            ELSE CAST(l_orderkey // l_linenumber AS BIGINT) END AS int_div,
       CASE WHEN l_linenumber = 0 THEN NULL
            ELSE ((l_orderkey % l_linenumber) + l_linenumber)
                  % l_linenumber END                    AS pmod_val,
       -l_quantity                                      AS neg_qty
FROM lineitem
WHERE l_orderkey < 300
ORDER BY l_orderkey, l_linenumber
""",
    tags=("expression", "arithmetic", "try-mode"),
)
def expr_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRY-mode arithmetic (NULL on error instead of raise):
    try_add/try_divide, integral div, pmod, unary minus — the
    reference's MathExpr eval-mode surface (expr.proto:276-281).
    try_divide by zero → NULL, mirrored with CASE in the oracle."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_add("l_quantity", "l_discount").alias("plain_add"),
        F.try_divide("l_extendedprice", "l_linenumber").alias("try_div"),
        F.expr("try_divide(l_orderkey, l_linenumber)")
        .cast("long")
        .alias("int_div"),
        F.pmod("l_orderkey", "l_linenumber").alias("pmod_val"),
        (-F.col("l_quantity")).alias("neg_qty"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "expr_decimal_arith",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(CAST(price_d * (1 - disc_d) AS DECIMAL(22, 4)) AS DOUBLE)
                                                        AS discounted,
       CAST(CAST(price_d + tax_d AS DECIMAL(16, 2)) AS DOUBLE)
                                                        AS plus_tax,
       CAST(CAST(round(price_d / 7, 4) AS DECIMAL(20, 4)) AS DOUBLE)
                                                        AS seventh,
       CAST(price_d AS DOUBLE)                          AS as_double
FROM (
  SELECT l_orderkey, l_linenumber,
         CAST(l_extendedprice AS DECIMAL(14, 2)) AS price_d,
         CAST(l_discount AS DECIMAL(6, 4))       AS disc_d,
         CAST(l_tax AS DECIMAL(6, 4))            AS tax_d
  FROM lineitem
  WHERE l_orderkey < 200
) t
ORDER BY l_orderkey, l_linenumber
""",
    tags=("expression", "decimal"),
)
def expr_decimal_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal arithmetic with pinned result types — the reference's
    largest kernel family (native/spark-expr/src/math_funcs/
    wide_decimal_binary_expr.rs, div.rs).  Spark and DuckDB infer
    different intermediate precision/scale, so every result is cast
    to an explicit DECIMAL(p,s) on both sides (SURVEY.md §7.4 risk #1).
    The pinned decimals stay INTERNAL — the output boundary emits
    double (one extra cast on both sides): raw decimal outputs render
    differently through the two engines' pandas round-trips and are
    banned registry-wide (test_queries_oracle.py)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    price = F.col("l_extendedprice").cast("decimal(14,2)")
    disc = F.col("l_discount").cast("decimal(6,4)")
    tax = F.col("l_tax").cast("decimal(6,4)")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (price * (F.lit(1) - disc))
        .cast("decimal(22,4)")
        .cast("double")
        .alias("discounted"),
        (price + tax).cast("decimal(16,2)").cast("double").alias("plus_tax"),
        F.round(price / 7, 4)
        .cast("decimal(20,4)")
        .cast("double")
        .alias("seventh"),
        price.cast("double").alias("as_double"),
    ).orderBy("l_orderkey", "l_linenumber")


# --------------------------------------------------------------------------
# Nondeterministic expressions, pinned to a deterministic plan
# (reference serde/nondetermenistic.scala:24-86 — partition-seeded
#  rand/randn, MonotonicallyIncreasingID, SparkPartitionID)
# --------------------------------------------------------------------------
@register(
    "expr_nondeterministic",
    oracle="""
SELECT rid, pid, n_nationkey,
       CASE WHEN r BETWEEN 0 AND 1 THEN 1 ELSE 0 END AS r_in_range
FROM (
  SELECT row_number() OVER (ORDER BY n_nationkey) - 1 AS rid,
         0 AS pid, n_nationkey, 0.5 AS r
  FROM nation
) t
ORDER BY n_nationkey
""",
    tags=("expression", "nondeterministic"),
)
def expr_nondeterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """monotonically_increasing_id / spark_partition_id / rand(seed),
    pinned deterministic by coalescing to ONE sorted partition: ids
    become 0..n-1, partition id 0, and rand(seed) collapses to a
    range check.  (The reference seeds rand per-partition the same
    way — partition-stable streams, serde/nondetermenistic.scala.)"""
    nation = (
        _t(spark, sf_dir, "nation")
        .coalesce(1)
        .sortWithinPartitions("n_nationkey")
    )
    return nation.select(
        F.monotonically_increasing_id().alias("rid"),
        F.spark_partition_id().alias("pid"),
        "n_nationkey",
        F.when(F.rand(seed=42).between(0, 1), 1).otherwise(0).alias("r_in_range"),
    ).orderBy("n_nationkey")


@register(
    "expr_higher_order",
    oracle="""
SELECT doc_id,
       CAST(len(list_filter(str_split(text, ' '),
                            t -> length(t) > 4)) AS INT) AS n_long,
       CAST(list_sum(list_transform(str_split(text, ' '),
                                    t -> length(t))) AS INT) AS total_len,
       len(list_filter(str_split(text, ' '), t -> length(t) > 9)) > 0
         AS any_very_long,
       array_to_string(list_sort(list_distinct(str_split(text, ' ')))[1:3],
                       '|') AS first3
FROM documents
WHERE doc_id < 50
ORDER BY doc_id
""",
    tags=("expression", "higher-order"),
)
def expr_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array lambdas: filter / transform / aggregate /
    exists / sort+distinct+slice over a tokenized text column.  The
    reference covers only the `filter` lambda (ArrayFilter, reference:
    spark/src/main/scala/org/apache/comet/serde/arrays.scala:35-814);
    Spark evaluates the whole lambda family JVM-side inside codegen —
    no Python in the loop, so the 100 TB path stays vectorized."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: F.length(t) > 4)).alias("n_long"),
        F.aggregate(
            toks, F.lit(0), lambda acc, t: acc + F.length(t)
        ).alias("total_len"),
        F.exists(toks, lambda t: F.length(t) > 9).alias("any_very_long"),
        F.array_join(
            F.slice(F.sort_array(F.array_distinct(toks)), 1, 3), "|"
        ).alias("first3"),
    ).orderBy("doc_id")


@register(
    "expr_map_lambda",
    oracle="""
WITH per AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events WHERE user_id < 200 GROUP BY user_id, event_type
), agg AS (
  SELECT user_id,
         list({'key': event_type, 'value': n}) AS entries,
         sum(n) AS total
  FROM per GROUP BY user_id
)
SELECT user_id,
       coalesce(array_to_string(
         list_sort(list_transform(list_filter(entries, e -> e.value >= 3),
                                  e -> e.key || ':' ||
                                       CAST(e.value AS VARCHAR))), '|'), '')
         AS busy,
       CAST(2 * total AS BIGINT) AS total2,
       array_to_string(list_sort(list_transform(entries,
                       e -> upper(e.key))), '|') AS types_uc
FROM agg
ORDER BY user_id
""",
    tags=("expression", "map", "higher-order"),
)
def expr_map_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order lambdas: a per-user event_type→count map built
    with map_from_entries, then map_filter / transform_values /
    transform_keys / map_entries over it.  The reference's map surface
    has no lambda handlers at all (reference: serde/maps.scala:27-168)
    — these are Spark natives, evaluated JVM-side.  The oracle never
    materializes a MAP: it checks the same semantics through DuckDB
    list lambdas over the entry structs."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    per = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    agg = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("event_type").alias("key"), F.col("n").alias("value")
                    )
                )
            )
        ).alias("m")
    )
    return agg.select(
        "user_id",
        F.array_join(
            F.sort_array(
                F.transform(
                    F.map_entries(F.map_filter("m", lambda k, v: v >= 3)),
                    lambda e: F.concat_ws(
                        ":", e["key"], e["value"].cast("string")
                    ),
                )
            ),
            "|",
        ).alias("busy"),
        F.aggregate(
            F.map_values(F.transform_values("m", lambda k, v: v * 2)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("total2"),
        F.array_join(
            F.sort_array(
                F.map_keys(F.transform_keys("m", lambda k, v: F.upper(k)))
            ),
            "|",
        ).alias("types_uc"),
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# Intervals (beyond the reference: YearMonth/DayTime intervals are an
# explicit TODO there — serde/QueryPlanSerde.scala:822-828; SURVEY §1.2)
# --------------------------------------------------------------------------
@register(
    "expr_interval",
    oracle="""
SELECT o_orderpriority,
       min(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE))  AS min_plus_3m,
       max(CAST(o_orderdate - INTERVAL 90 DAY AS DATE))   AS max_minus_90d,
       min(CAST(o_orderdate AS TIMESTAMP) + INTERVAL 36 HOUR) AS min_plus_36h,
       max(CAST(o_orderdate + INTERVAL '1' YEAR AS DATE)) AS max_plus_1y,
       count(*) AS n
FROM orders
WHERE o_orderdate < DATE '1997-01-01'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("expression", "interval", "datetime"),
)
def expr_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI interval arithmetic: date ± INTERVAL (month/day/year) and
    timestamp + INTERVAL hour.  The reference explicitly does NOT
    support interval types (reference: serde/QueryPlanSerde.scala:822-828
    marks YearMonthIntervalType/DayTimeIntervalType as TODO) — Spark
    evaluates these natively in codegen, a strict superset."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("date")
    )
    d = F.col("o_orderdate")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.min((d + F.expr("INTERVAL 3 MONTH")).cast("date")).alias("min_plus_3m"),
            F.max((d - F.expr("INTERVAL 90 DAY")).cast("date")).alias("max_minus_90d"),
            F.min(d.cast("timestamp") + F.expr("INTERVAL 36 HOUR")).alias("min_plus_36h"),
            F.max((d + F.expr("INTERVAL 1 YEAR")).cast("date")).alias("max_plus_1y"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Variant (Spark 4 semi-structured type; beyond the reference, whose JSON
# surface is get_json_object/from_json/to_json only — serde/structs.scala)
# --------------------------------------------------------------------------
@register(
    "expr_variant",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("expression", "variant", "json"),
)
def expr_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType path: ``parse_json`` the props column once
    into a variant, extract a typed field with ``variant_get``, and
    aggregate.  Variant stores shredded binary — at 100 TB this beats
    per-access ``get_json_object`` re-parsing; the reference's JSON
    surface stops at get_json_object/from_json (reference:
    native/spark-expr/src/json_funcs/, serde/structs.scala:32-322)."""
    events = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "sql_registered_pandas_udf",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(length(text) % 1000) AS BIGINT) AS folded
FROM documents
WHERE text IS NOT NULL
GROUP BY lang
ORDER BY lang
""",
    tags=("expression", "udf", "pandas-udf", "udtf"),
)
def sql_registered_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An Arrow-vectorized pandas UDF registered INTO the SQL function
    namespace (``spark.udf.register`` of a ``@pandas_udf``) and called
    from a SQL string — the full loop of the reference's JVM-UDF
    bridge (reference: common/.../CometUDF.scala, expr.proto:519-532:
    register once, call from any query).  The kernel (length % 1000)
    is SQL-expressible so the oracle pins that registration + Arrow
    transfer + SQL dispatch is value-faithful.  Tagged ``udtf`` for
    the plan gate: a Python UDF in the projection is the POINT here,
    not a hot-path accident."""
    from pyspark.sql.functions import pandas_udf

    # no type annotations: the module's `from __future__ import
    # annotations` stringifies hints, which the pandas_udf typehint
    # resolver cannot evaluate against a function-local pandas import —
    # the explicit returnType carries the contract instead.
    @pandas_udf("long")
    def dcs_fold_len(s):
        return s.str.len().astype("int64") % 1000

    spark.udf.register("dcs_fold_len", dcs_fold_len)
    _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).createOrReplaceTempView("dcs_pudf_docs")
    return spark.sql("""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(dcs_fold_len(text)) AS BIGINT) AS folded
        FROM dcs_pudf_docs
        GROUP BY lang
        ORDER BY lang
    """)


@register(
    "arrow_native_udf",
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(length(text) - length(replace(text, ' ', '')) + 1)
            AS BIGINT) AS sum_ws_tokens
FROM documents
WHERE text IS NOT NULL
GROUP BY source
ORDER BY source
""",
    tags=("expression", "udf", "arrow-udf", "udtf"),
)
def arrow_native_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1 ``@arrow_udf`` — the scalar UDF that receives and
    returns **pyarrow Arrays directly**, no pandas materialization in
    between.  This is the closest PySpark construct to the
    reference's CometUDF contract ``evaluate(inputs:
    Array[ValueVector]): ValueVector`` (reference:
    common/src/main/scala/org/apache/comet/udf/CometUDF.scala,
    expr.proto:519-532): a columnar batch in, a columnar batch out,
    kernels from the Arrow compute library rather than per-row
    Python.  The kernel (whitespace token count via
    ``count_substring``) is SQL-expressible so the oracle pins the
    Arrow round-trip's values.  Tagged ``udtf`` for the plan gate:
    the Python eval operator is the surface under test."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("long")
    def dcs_ws_tokens(text):
        return pc.cast(pc.add(pc.count_substring(text, " "), 1), pa.int64())

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return (
        docs.select("source", dcs_ws_tokens("text").alias("t"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("t").cast("bigint").alias("sum_ws_tokens"),
        )
        .orderBy("source")
    )


@register(
    "events_props_json_extract",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS max_k
FROM events
WHERE props IS NOT NULL
GROUP BY event_type
ORDER BY event_type
""",
    tags=("expression", "json", "semi-structured"),
)
def events_props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload extraction over the REAL testdata
    payload column: events.props is a JSON string; pull `$.k` with
    get_json_object (the reference's only JSON surface —
    native/spark-expr/src/json_funcs/, GetJsonObject in
    serde/QueryPlanSerde.scala:150-157) and aggregate.  At scale this
    is the log-enrichment hot path: extraction stays codegen-resident,
    no UDF, no schema inference pass — for repeated multi-key access
    the upgrade is one from_json/VariantType parse per row
    (expr_variant) instead of N get_json_object calls."""
    ev = _t(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).alias("sum_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "correlated_scalar_subquery",
    oracle="""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(avg(CAST(top_order AS DECIMAL(18,2))) AS DOUBLE), 2) AS avg_top_order
FROM (
  SELECT c.c_custkey, c.c_mktsegment,
         (SELECT max(o.o_totalprice) FROM orders o
          WHERE o.o_custkey = c.c_custkey) AS top_order
  FROM customer c
) t
WHERE top_order IS NOT NULL
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    tags=("expression", "subquery", "decorrelation"),
)
def correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (per-customer max order value):
    Catalyst DECORRELATES it into an aggregate + left outer join — one
    pass over orders, not one subquery per customer row.  The
    reference receives the already-decorrelated plan (its
    ScalarSubquery handles only uncorrelated scalars,
    serde/CometScalarSubquery.scala:28); the rebuild pins the rewrite
    end-to-end through SQL.  At 100 TB the decorrelation IS the
    difference between a join and a per-row table scan."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("dcs_css_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("dcs_css_orders")
    return spark.sql("""
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_customers,
               round(CAST(avg(CAST(top_order AS DECIMAL(18,2))) AS DOUBLE), 2) AS avg_top_order
        FROM (
          SELECT c.c_custkey, c.c_mktsegment,
                 (SELECT max(o.o_totalprice) FROM dcs_css_orders o
                  WHERE o.o_custkey = c.c_custkey) AS top_order
          FROM dcs_css_customer c
        ) t
        WHERE top_order IS NOT NULL
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """)


@register(
    "pandas_api_on_spark",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       max(o_totalprice) AS max_price,
       min(o_totalprice) AS min_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("expression", "pandas-api"),
)
def pandas_api_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas-API-on-Spark layer (``df.pandas_api()`` →
    pandas-style groupby/agg → ``to_spark()``): a third user-facing
    API over the SAME Catalyst/Tungsten execution the reference
    accelerates (the reference sits below the API layer and is
    agnostic to it, SURVEY.md §0; this engine keeps all three —
    SQL, DataFrame, pandas — compiling to one planner).  The
    aggregate uses only order-independent stats (count/max/min) so
    the oracle hash-match is exact."""
    import pyspark.pandas as pps

    psdf = (
        _t(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_totalprice")
        .pandas_api()
    )
    g = (
        psdf.groupby("o_orderpriority", as_index=False)
        .agg(
            n=("o_totalprice", "count"),
            max_price=("o_totalprice", "max"),
            min_price=("o_totalprice", "min"),
        )
        .sort_values("o_orderpriority")
    )
    out = g.to_spark()
    return out.select(
        "o_orderpriority",
        F.col("n").cast("bigint").alias("n"),
        "max_price",
        "min_price",
    ).orderBy("o_orderpriority")


@register(
    "sql_scripting_block",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_big
FROM orders
WHERE o_totalprice > (SELECT CAST(avg(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) * 1.5
                      FROM orders)
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    tags=("expression", "sql-scripting", "spark4"),
)
def sql_scripting_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scripting (BEGIN … END with DECLARE'd variables):
    procedural control flow compiled INTO the same single-session
    planner — the variable is bound once (one aggregate job) and the
    main statement uses it as a literal, replacing the scalar
    subquery the oracle spells.  No reference counterpart (its IR is
    single-statement, operator.proto:31-57); the ANSI SQL/PSM
    scripting surface comes free with the Spark 4 frontend.

    The threshold works out identically on both paths because the
    avg is computed over the SAME exact-decimal cast the oracle
    uses."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("dcs_script_orders")
    return spark.sql("""
        BEGIN
          DECLARE thresh DOUBLE;
          SET thresh = (SELECT CAST(avg(CAST(o_totalprice AS DECIMAL(18,2)))
                                    AS DOUBLE) * 1.5
                        FROM dcs_script_orders);
          SELECT o_orderstatus,
                 CAST(count(*) AS BIGINT) AS n_big
          FROM dcs_script_orders
          WHERE o_totalprice > thresh
          GROUP BY o_orderstatus
          ORDER BY o_orderstatus;
        END
    """)


@register(
    "collation_group_caseless",
    oracle="""
SELECT lower(seg_mixed) AS segment,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT seg_mixed) AS BIGINT) AS n_casings,
       min(seg_mixed) AS first_casing
FROM (
  SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
              ELSE c_mktsegment END AS seg_mixed
  FROM customer
) t
GROUP BY lower(seg_mixed)
ORDER BY segment
""",
    tags=("expression", "collation", "spark4"),
)
def collation_group_caseless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 COLLATE UTF8_LCASE): a
    mixed-case column groups CASELESSLY while count(DISTINCT) inside
    each group still sees the binary casings — two collation levels in
    one aggregate.  The reference explicitly REJECTS collated strings
    for sort and hash partitioning (raw-byte comparison only,
    reference: serde/QueryPlanSerde.scala:832-833,
    CometShuffleExchangeExec.scala:344-346; SURVEY.md §1.2) — this is
    a capability superset, executed natively by Spark's collation-aware
    hash/sort.  The group representative under a caseless collation is
    scan-order-dependent, so the output label is lower()ed and the
    deterministic min() casing is emitted alongside — the same
    canonicalization discipline the oracle uses."""
    cust = _t(spark, sf_dir, "customer").select(
        F.when(
            F.col("c_custkey") % 2 == 0, F.lower("c_mktsegment")
        ).otherwise(F.col("c_mktsegment")).alias("seg_mixed")
    )
    return (
        cust.groupBy(
            F.expr("seg_mixed COLLATE UTF8_LCASE").alias("k")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count_distinct(
                F.expr("seg_mixed COLLATE UTF8_BINARY")
            ).cast("bigint").alias("n_casings"),
            F.min(F.expr("seg_mixed COLLATE UTF8_BINARY")).alias(
                "first_casing"
            ),
        )
        .select(
            F.lower(F.col("k").cast("string")).alias("segment"),
            "n",
            "n_casings",
            "first_casing",
        )
        .orderBy("segment")
    )
