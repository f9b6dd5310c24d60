"""Regex-compatibility pin set (round-3 verdict item 6).

The reference documents Java-vs-Rust regex divergence and falls back
to Spark for ALL patterns because its native engine (Rust `regex`,
RE2-class) cannot reproduce Java semantics (reference:
docs/source/user-guide/latest/compatibility/regex.md;
spark/src/main/scala/org/apache/comet/expressions/RegExp.scala:25-31 —
``isSupportedPattern`` returns false unconditionally).

This engine IS Spark, so Java semantics hold natively — the analogous
risk is the ORACLE: DuckDB's regex is RE2, so a differential check
over these patterns would either error or silently disagree.  Each
case below pins Spark's (Java's) behavior as the contract and
demonstrates the DuckDB divergence (error or different value), which
is exactly the per-pattern compatibility table the reference keeps in
prose form.  Oracle-checked inventory queries must avoid these
constructs; this file is where they are allowed and pinned.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

# (name, pattern, input, expected Spark rlike result, duck behavior)
# duck behavior: "error" = RE2 rejects the pattern outright;
# otherwise the differing boolean RE2 yields.
RLIKE_PINS = [
    # Java backreferences — RE2 has none (the classic divergence)
    ("backreference", r"(ab)\1", "abab", True, "error"),
    ("named_backref", r"(?<g>a)\k<g>", "aa", True, "error"),
    # lookaround — unsupported in RE2 by design (no backtracking)
    ("lookahead", r"a(?=b)", "ab", True, "error"),
    ("neg_lookahead", r"a(?!c)", "ab", True, "error"),
    ("lookbehind", r"(?<=a)b", "ab", True, "error"),
    # possessive quantifiers / atomic groups — Java-only backtracking
    # control
    ("possessive", r"a*+b", "aab", True, "error"),
    ("atomic_group", r"(?>ab)c", "abc", True, "error"),
    # Java '$' matches before a FINAL line terminator even without
    # MULTILINE; RE2 '$' means hard end-of-text
    ("dollar_before_trailing_newline", r"abc$", "abc\n", True, False),
    # Java character-class intersection [a&&[b]] — RE2 parses '&&'
    # literally, silently changing the match
    ("class_intersection", r"^[a-z&&[c-e]]$", "d", True, False),
    ("class_intersection_miss", r"^[a-z&&[c-e]]$", "x", False, False),
    # Java POSIX-style \p{Alpha}; RE2 only knows Unicode script/
    # category names
    ("posix_p_alpha", r"^\p{Alpha}+$", "xyz", True, "error"),
    # \Z (end before final terminator) is Java; RE2 has only \z
    ("Z_anchor", r"abc\Z", "abc\n", True, "error"),
]


@pytest.mark.parametrize(
    "name,pattern,inp,spark_expected,duck_behavior",
    RLIKE_PINS,
    ids=[c[0] for c in RLIKE_PINS],
)
def test_rlike_pin(spark, duck, name, pattern, inp, spark_expected,
                   duck_behavior):
    df = spark.createDataFrame([(inp,)], "s string")
    got = df.select(F.col("s").rlike(pattern).alias("r")).collect()[0]["r"]
    assert got == spark_expected, (
        f"{name}: Spark rlike({pattern!r}) on {inp!r} = {got}, "
        f"pinned {spark_expected}"
    )
    # prove the divergence is real, not hypothetical
    if duck_behavior == "error":
        with pytest.raises(Exception):
            duck.execute(
                "SELECT regexp_matches(?, ?)", [inp, pattern]
            ).fetchone()
    else:
        dres = duck.execute(
            "SELECT regexp_matches(?, ?)", [inp, pattern]
        ).fetchone()[0]
        assert dres == duck_behavior and dres != spark_expected or (
            dres == duck_behavior == spark_expected
        ), f"{name}: duck federated drift — got {dres}"


def test_regexp_replace_replaces_all_matches(spark, duck):
    """Spark regexp_replace is Java replaceAll (every occurrence);
    DuckDB replaces the FIRST match unless the 'g' flag is passed —
    the most common silent-wrong-answer regex migration bug."""
    df = spark.createDataFrame([("aaa",)], "s string")
    got = df.select(
        F.regexp_replace("s", "a", "b").alias("r")
    ).collect()[0]["r"]
    assert got == "bbb"
    assert duck.execute(
        "SELECT regexp_replace('aaa', 'a', 'b')"
    ).fetchone()[0] == "baa"
    assert duck.execute(
        "SELECT regexp_replace('aaa', 'a', 'b', 'g')"
    ).fetchone()[0] == "bbb"


def test_regexp_replace_dollar_group_reference(spark, duck):
    """Group references in the replacement: Java uses $1, RE2 uses
    \\1 — the same template means different things in each engine."""
    df = spark.createDataFrame([("ab",)], "s string")
    got = df.select(
        F.regexp_replace("s", "(a)(b)", "$2$1").alias("r")
    ).collect()[0]["r"]
    assert got == "ba"
    # duck: $2$1 is literal text; \2\1 is the group syntax
    assert duck.execute(
        r"SELECT regexp_replace('ab', '(a)(b)', '\2\1')"
    ).fetchone()[0] == "ba"
    assert duck.execute(
        "SELECT regexp_replace('ab', '(a)(b)', '$2$1')"
    ).fetchone()[0] == "$2$1"


def test_regexp_extract_optional_group_no_match(spark):
    """Java: an unmatched optional group yields NULL -> Spark maps it
    to empty string; pinned because RE2 engines differ on unmatched-
    group rendering."""
    df = spark.createDataFrame([("abc",)], "s string")
    got = df.select(
        F.regexp_extract("s", "a(x)?(b)", 1).alias("g1"),
        F.regexp_extract("s", "a(x)?(b)", 2).alias("g2"),
    ).collect()[0]
    assert got["g1"] == "" and got["g2"] == "b"
