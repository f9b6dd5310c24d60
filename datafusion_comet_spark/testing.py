"""Differential test harness and measurement harness.

Differential: the reference's checkSparkAnswer methodology (reference:
spark/src/test/scala/org/apache/spark/sql/CometTestBase.scala:159-345)
with DuckDB standing in for vanilla Spark as the oracle, mirroring the
driver's own verify loop: row count + column names + order-insensitive
value comparison, floats with tolerance, NaN/-0.0 canonicalized.

Measurement: ``timings`` is the one wall-clock timer of bench.py and
the dev/ scripts (the reference's single benchmarks/tpc/tpcbench.py
methodology), and ``ab`` the one interleaved same-process conf A/B with
an exact row check.  The one scoped conf change, ``conf_override``,
lives in ``session`` so that queries can use it without importing
DuckDB.  ``forged_sizes`` is the one scoped change of the catalog's
cached table facts (``catalog.table_facts``).
"""

from __future__ import annotations

import math
import os
import time
from contextlib import contextmanager
from datetime import date, datetime
from decimal import Decimal
from typing import Any

import duckdb

from .catalog import _TABLE_FACTS, FIXED_SIZE_DIMS, TABLES, table_facts, table_path
from .session import BROADCAST_THRESHOLD_BYTES, conf_override


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with the star-schema tables registered as views
    (the same registration the driver performs)."""
    con = duckdb.connect()
    for t in TABLES:
        path = table_path(sf_dir, t)
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def _canon(v: Any, float_round: int = 6) -> Any:
    """Canonicalize a single value for order-insensitive comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0  # collapse -0.0
        return round(v, float_round)
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x, float_round) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x, float_round)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v


def _rows_to_canonical(
    rows: list[tuple], col_names: list[str], float_round: int
) -> list[tuple]:
    order = sorted(range(len(col_names)), key=lambda i: col_names[i])
    out = [tuple(_canon(r[i], float_round) for i in order) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))
    return out


def compare_to_oracle(spark_df, oracle_sql: str, sf_dir: str) -> None:
    """Assert the Spark DataFrame matches the DuckDB oracle result.

    Column-name sets must match (driver sorts columns by name before
    hashing); rows are compared as canonicalized sorted multisets,
    floats rounded to 6 decimal places.
    """
    compare_rows_to_oracle(spark_df.columns, spark_df.collect(), oracle_sql, sf_dir)


def compare_rows_to_oracle(
    spark_cols: list[str],
    spark_rows: list,
    oracle_sql: str,
    sf_dir: str,
) -> None:
    """``compare_to_oracle`` on rows already collected (for callers that
    must not run the query a second time)."""
    con = duckdb_connection(sf_dir)
    try:
        cur = con.execute(oracle_sql)
        oracle_cols = [d[0] for d in cur.description]
        oracle_rows = cur.fetchall()
    finally:
        con.close()

    assert sorted(spark_cols) == sorted(oracle_cols), (
        f"column mismatch: spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}"
    )
    spark_rows = [tuple(r) for r in spark_rows]
    assert len(spark_rows) == len(oracle_rows), (
        f"row count mismatch: spark={len(spark_rows)} oracle={len(oracle_rows)}"
    )
    a = _rows_to_canonical(spark_rows, spark_cols, 6)
    b = _rows_to_canonical(oracle_rows, oracle_cols, 6)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, (
        f"{len(mismatches)}/{len(a)} rows differ; first 5: {mismatches[:5]}"
    )


def scale_factor(sf_dir: str) -> float:
    """The scale factor a data dir's basename names (``.../sf0.1`` ->
    0.1), or -1.0 when the basename is not ``sf<number>``."""
    try:
        return float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        return -1.0


def timings(spark, thunk, n: int) -> list[float]:
    """Wall seconds of each of ``n`` calls of ``thunk``.

    The SQL cache is cleared after every call, outside the timed region
    and also when the call raises, so no run reads a cache that an
    earlier run's persist() filled.  ``thunk`` must consume its result
    (collect(), a write) inside the call."""
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        try:
            thunk()
            out.append(time.perf_counter() - t0)
        finally:
            spark.catalog.clearCache()
    return out


def ab(
    spark, build, arms: dict[str, dict[str, str]], blocks: int, runs: int
) -> tuple[dict[str, float], bool]:
    """Interleaved same-process A/B over named conf arms.

    ``build()`` returns a fresh DataFrame; it is called under each arm's
    confs, so analysis and planning see them.  After one arm-neutral
    warmup run, each of ``blocks`` blocks runs every arm in turn,
    ``runs`` times each, under ``conf_override`` (cache cleared after
    every run).  Returns the per-arm minimum seconds and whether the
    arms' last collected rows are exactly equal as multisets (no
    rounding: a conf that only changes the plan must not change a bit).
    """
    timings(spark, lambda: build().collect(), 1)
    best: dict[str, float] = {}
    rows: dict[str, list] = {}
    for _ in range(blocks):
        for arm, conf in arms.items():

            def run():
                rows[arm] = build().collect()

            with conf_override(spark, conf):
                secs = timings(spark, run, runs)
            best[arm] = min(secs + [best.get(arm, math.inf)])
    key = lambda r: [(x is None, str(x)) for x in r]
    multisets = [sorted(map(tuple, r), key=key) for r in rows.values()]
    return best, all(m == multisets[0] for m in multisets)


@contextmanager
def forged_sizes(
    sf_dir: str,
    table_bytes: dict[str, int] | None = None,
    row_groups: dict[str, int] | None = None,
    rows: dict[str, int] | None = None,
):
    """For the body, ``catalog.table_facts`` answers the forged value of
    each named fact of each named table of ``sf_dir``; the facts not
    named keep their real values.  On exit, exception included, each
    forged table's record is restored, or dropped if it was not cached."""
    forged = {
        "bytes": table_bytes or {},
        "row_groups": row_groups or {},
        "rows": rows or {},
    }
    names = {t for vals in forged.values() for t in vals}
    saved = {t: _TABLE_FACTS.get((sf_dir, t)) for t in names}
    try:
        for t in names:
            real = table_facts(sf_dir, t)
            _TABLE_FACTS[(sf_dir, t)] = real._replace(
                **{fact: vals[t] for fact, vals in forged.items() if t in vals}
            )
        yield
    finally:
        for t, old in saved.items():
            if old is None:
                _TABLE_FACTS.pop((sf_dir, t), None)
            else:
                _TABLE_FACTS[(sf_dir, t)] = old


# Exact plan expectations are pinned for TWO regime windows; beyond
# them the broadcast-flip LADDER continues (each scale decade pushes
# more pruned-size estimates over the threshold — measured at
# gen_scale_data sf2, where q4/q11/q18/q20 and the EXISTS family flip
# next; SCALE.md round-9 ladder note) and exact pins would need a
# golden set per rung.  Plan suites SKIP outside the pinned windows
# rather than pretend one flip set fits every scale.
PINNED_LARGE_MAX_BYTES = 200 << 20


def scale_regime(sf_dir: str) -> bool:
    """True when lineitem's on-disk size exceeds the static broadcast
    threshold (session.BROADCAST_THRESHOLD_BYTES), i.e. the dataset is
    in the LARGE plan regime where Catalyst correctly flips the joins
    whose pruned-size estimate crosses the threshold from broadcast to
    shuffle.  Plan tests key their expectations on this bit so both
    regimes are asserted (small: driver testdata <= sf0.1; large:
    dev/gen_scale_data.py sf1, where the flips were measured).
    """
    return table_facts(sf_dir, "lineitem").bytes > BROADCAST_THRESHOLD_BYTES


def beyond_pinned_regime(sf_dir: str) -> bool:
    """True when the dataset is past BOTH pinned plan-regime windows
    (lineitem > PINNED_LARGE_MAX_BYTES) — exact plan tests should skip
    with a pointer at the regime ladder instead of failing on the
    next legitimate flip rung."""
    return table_facts(sf_dir, "lineitem").bytes > PINNED_LARGE_MAX_BYTES


@contextmanager
def asymptotic_mode(spark, sf_dir: str):
    """The 100 TB plan regime, forced at test scale: disable the
    size-estimate broadcast path (autoBroadcastJoinThreshold = -1) and
    forge every SCALING table's on-disk byte count to 1 TB so the
    size-gated hint helpers (_dim_hint / _stats_join_back) withhold
    their hints.  What remains broadcast under this mode is exactly
    what stays broadcast at any scale: the fixed-cardinality dims
    (region/nation) and explicit hints on provably bounded sides
    (scalar thresholds, literal spines, |langs|-row cutoffs).

    This is the LADDER'S ENDPOINT — the regime past
    beyond_pinned_regime's window where every scaling join is a
    shuffle join and the plan is scale-stable again.  The broadcast
    flips between the pinned windows are the transition band; plans
    captured under this mode are the asymptotic contract
    (tests/test_asymptotic_regime.py pins them as *.asymptotic.txt
    goldens).  AQE may still locally re-broadcast a small runtime
    stage at execution; the static plan pinned here is the strategy
    Catalyst commits to before those runtime stats exist.
    """
    scaling = [t for t in TABLES if t not in FIXED_SIZE_DIMS]
    # 100 TB layouts carry far more row groups than any cluster has
    # cores, so the scan-starvation rebalance (_spread_scan) must be a
    # no-op in the asymptotic plans
    with conf_override(
        spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    ), forged_sizes(
        sf_dir,
        table_bytes=dict.fromkeys(scaling, 1 << 40),
        row_groups=dict.fromkeys(scaling, 1 << 20),
    ):
        yield
