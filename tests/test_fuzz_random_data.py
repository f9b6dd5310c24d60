"""Random-DATA differential fuzzing — the reference's own fuzz
direction (reference: spark/src/main/scala/org/apache/comet/testing/
FuzzDataGenerator.scala generates random tables, then runs a fixed
query battery through both engines).  Complements
test_fuzz_differential.py, which fuzzes QUERIES over fixed data: here
hypothesis generates the table (ints with extreme magnitudes, unicode
strings, NULLs in both keys and values) and a fixed battery of
aggregate / window / join / set queries runs on Spark and DuckDB over
the SAME in-memory rows.  Derandomized for stable CI.

Determinism notes: a synthetic unique `rid` column gives windows a
total order; int magnitudes are bounded to ±10^15 so 200-row sums stay
far from int64 overflow on both engines (DuckDB would widen to
HUGEINT, Spark would raise under ANSI); doubles are excluded (their
partial-agg addition order is engine-noise, covered by decimal paths
elsewhere).
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

INT = st.one_of(
    st.none(),
    st.integers(-(10**15), 10**15),
    st.sampled_from([0, -1, 1, 999_999_999_999_999]),
)
STR = st.one_of(
    st.none(),
    st.sampled_from(
        ["", "a", "B", "aa", "ab", "héllo", "日本", "x y", "0", "-1"]
    ),
)
ROWS = st.lists(st.tuples(INT, STR), min_size=1, max_size=120)

BATTERY = [
    "SELECT s AS k, count(*) AS n, count(i) AS ni, "
    "CAST(sum(i) AS BIGINT) AS si, min(i) AS mn, max(i) AS mx "
    "FROM t GROUP BY s ORDER BY k NULLS FIRST",
    "SELECT rid, i, s, row_number() OVER (ORDER BY rid) AS rn, "
    "rank() OVER (ORDER BY i NULLS FIRST, rid) AS rk "
    "FROM t ORDER BY rid",
    "SELECT count(DISTINCT i) AS di, count(DISTINCT s) AS ds, "
    "count(*) AS n FROM t",
    "SELECT a.rid AS ar, b.rid AS br FROM t a JOIN t b "
    "ON a.s = b.s AND a.rid < b.rid ORDER BY ar, br",
    "SELECT i FROM t WHERE i IS NOT NULL INTERSECT SELECT i FROM t "
    "WHERE i >= 0 ORDER BY i",
    "SELECT s, CAST(sum(i) AS BIGINT) AS si FROM t "
    "GROUP BY s HAVING count(*) > 1 ORDER BY s NULLS FIRST",
]


def _canon(rows):
    out = []
    for r in rows:
        out.append(
            tuple(
                (v is None, type(v).__name__ in ("int", "long"), str(v))
                for v in r
            )
        )
    return out


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=ROWS)
def test_random_table_battery_matches_duckdb(spark, duck, rows):
    pdf = pd.DataFrame(
        {
            "rid": range(len(rows)),
            "i": pd.array([r[0] for r in rows], dtype="Int64"),
            "s": pd.array([r[1] for r in rows], dtype="string"),
        }
    )
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("t")
    duck.register("t", pdf)
    try:
        for q in BATTERY:
            srows = [tuple(r) for r in spark.sql(q).collect()]
            orows = [tuple(r) for r in duck.execute(q).fetchall()]
            assert _canon(srows) == _canon(orows), (
                f"divergence on {q!r}\n"
                f"rows={rows[:10]}...\n"
                f"spark={srows[:5]} duck={orows[:5]}"
            )
    finally:
        spark.catalog.dropTempView("t")
        duck.unregister("t")
