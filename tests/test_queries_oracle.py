"""Every registered query, built once and checked on that one build —
the reference's checkSparkAnswerAndOperator, which checks a query's
answer and its operators on one run of the query (reference:
spark/src/test/scala/org/apache/spark/sql/CometTestBase.scala:159-175,
225-268).

Each query's test builds it once, walks its static plan once (before
it runs) and checks the per-query invariants on that walk:

- no Python UDF evaluation (``BatchEvalPython`` / ``ArrowEvalPython``)
  in the plan, except in the ``udtf``-tagged queries that exist to
  exercise the Python UDTF surface;
- no ``WindowExec`` fed by a SinglePartition exchange (the single
  reducer that holds 100 TB), except the ``_SINGLE_WINDOW_BOUNDED``
  queries, whose windowed input is bounded by construction;
- only scalar output columns (no array, map, struct or decimal);
- no one-partition ``CoalesceExec`` (a stage run in one task), except
  in the ``_ONE_TASK_BOUNDED`` queries, whose one-task input is bounded
  by construction; even there the stage may run no join and scan no
  table that grows with the data (``_ONE_TASK_OPS``).

Then it runs the query: against its DuckDB oracle at sf0.001 (the
same gate the driver runs at sf0.01), or, for a query with no oracle,
to a row count.  The few queries whose hard case sf0.001 does not
reach are also compared at the scale that does (``_AT_SCALE``).  Last,
no session conf may have changed under the query (``_CONF_SETTERS``
names the deliberate exceptions).
"""

from __future__ import annotations

import pytest
from conftest import corpus_beside
from pyspark.errors import SparkNoSuchElementException

from datafusion_comet_spark.catalog import FIXED_SIZE_DIMS
from datafusion_comet_spark.plans import scan_table, walk_plan
from datafusion_comet_spark.queries import load_all
from datafusion_comet_spark.testing import compare_rows_to_oracle, compare_to_oracle

REGISTRY = load_all()
WITH_ORACLE = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
WITHOUT_ORACLE = sorted(n for n, q in REGISTRY.items() if q.oracle is None)

# Queries whose single-partition window input is bounded BY
# CONSTRUCTION — the justification strings are the audit trail; a new
# entry here needs the same scrutiny the originals got in round 3.
_SINGLE_WINDOW_BOUNDED = {
    "tpcds_quarterly_share_growth": (
        "window input is the world rollup keyed by quarter(date) — "
        "<=4 rows by schema domain, invariant to data scale"
    ),
    "tpcds_weekday_pivot_ratio": (
        "window input is the month pivot over a 6-month constant "
        "range — <=6 rows, invariant to data scale"
    ),
    "range_generator": (
        "input is a constant 1000-row literal Range; a global running "
        "sum IS the declared semantics"
    ),
    "global_index_assignment": (
        "window input is the per-partition count rollup — |partitions| "
        "rows, bounded by cluster layout, not data size"
    ),
    "window_distribution_global": (
        "window input is the per-partition count rollup — |partitions| "
        "rows (distributed zipWithIndex idiom)"
    ),
    "sample_temperature_mixture": (
        "window input is the per-source count aggregate — |sources| "
        "rows; windowing it (vs a scalar-subquery crossJoin) keeps a "
        "single corpus count pass in the plan"
    ),
    "pipeline_mixture_assembly": (
        "same bounded normalizer window as sample_temperature_mixture "
        "(per-source count aggregate, |sources| rows), composed into "
        "the assembly pipeline"
    ),
}

# Queries that run a stage in ONE task (a one-partition CoalesceExec,
# mostly ``_shared._sort_one_task``'s final sort), with why the rows
# entering that stage are bounded by construction.  coalesce(1) does
# not shuffle, so the whole stage below it, back to the exchanges that
# feed it, runs in that task: the bound must hold for the rows the
# stage reads (the partial aggregates of a fixed key domain, or a
# WindowGroupLimit's survivors), not only for the result.  These
# strings are the one place each bound is written down.
_ONE_TASK_BOUNDED = {
    "q1_pricing_summary": "returnflag × linestatus, ≤ 6 groups",
    "q4_order_priority": "order priority, ≤ 5 groups",
    "q5_local_supplier": "nations of one region, ≤ 5 groups",
    "q7_volume_shipping": "2 × 2 nations × ship years 1995-2001, ≤ 28 groups",
    "q8_market_share": "order years 1995-2001, ≤ 7 groups",
    "q9_product_profit": "25 nations × order years 1995-2001, ≤ 175 groups",
    "q12_late_shipments": "order priority, ≤ 5 groups",
    "q13_customer_distribution": (
        "c_count: the orders of one customer, whose spread the generator "
        "fixes (16-26 values from sf0.001 to sf1)"
    ),
    "q22_sales_opportunity": "market segment, ≤ 5 groups",
    "ann_bruteforce_topk": "3 query vectors × top 5 below a WindowGroupLimit",
    "ann_ivf_kmeans": "3 query vectors × top 5 below a WindowGroupLimit",
    "text_bm25_multiquery": "3 literal queries × top 10 below a WindowGroupLimit",
    "tpcds_cross_channel_rollup": (
        "rollup of 25 brands × years 1995-2001, ≤ 25 × 8 + 1 groups"
    ),
    "tpcds_return_ratio_rank": (
        "the kept items' rank counts: the top 10 per measure plus the "
        "rows tied with a 10th value (tests/test_asymptotic_regime.py)"
    ),
    "expr_nondeterministic": (
        "nation's 25 rows, coalesced so the partition-dependent "
        "expressions are deterministic"
    ),
}

# What a one-task stage may run: row-local operators and the reducing
# ones that bound it, reading exchanges.  A scan may feed it only for a
# fixed-cardinality table (catalog.FIXED_SIZE_DIMS).
_ONE_TASK_OPS = {
    "ProjectExec",
    "FilterExec",
    "HashAggregateExec",
    "WindowExec",
    "WindowGroupLimitExec",
    "SortExec",
}

# Session confs a query sets on purpose and leaves set, with why.
_PUSHDOWN_FLAG = (
    "spark.sql.python.filterPushdown.enabled",
    "the synthetic_events reader implements pushFilters, which Spark "
    "plans only with the flag on; the returned DataFrame is planned "
    "after the query fn returns, and the flag only affects Python data "
    "sources",
)
_CONF_SETTERS = {
    "python_datasource_pushdown": _PUSHDOWN_FLAG,
    "python_datasource_scan": _PUSHDOWN_FLAG,
}

_PYTHON_EVALS = ("BatchEvalPython", "ArrowEvalPython")
_NON_SCALAR = ("array", "map", "struct", "decimal")


def _single_partition_feed(window) -> bool:
    """Whether a WindowExec is fed by a SinglePartition exchange with
    no WindowGroupLimit on the path.

    Follows the Window's direct input spine — unary child after unary
    child — to the first exchange: that exchange, however many
    Project/Filter/Sort nodes away, is what partitions the Window's
    input.  The walk stops without a verdict at the first non-unary
    node (a join or union partitions only its own inputs) and a
    WindowGroupLimit on the path means rank-limit pruning already
    bounds the feed."""
    node = window.child()
    while True:
        cls = node.getClass().getSimpleName()
        if "Exchange" in cls:
            partitioning = node.outputPartitioning().getClass().getSimpleName()
            return partitioning == "SinglePartition$"
        if cls == "WindowGroupLimitExec" or node.children().size() != 1:
            return False
        node = node.children().apply(0)


def _one_task(cls: str, node) -> bool:
    """A one-partition ``CoalesceExec``: the stage below it runs in one
    task."""
    return cls == "CoalesceExec" and node.numPartitions() == 1


def _one_task_stage_misfits(coalesce) -> list[str]:
    """Operators of the stage under a one-partition ``CoalesceExec``
    (its subtree down to the exchanges that feed it) that a one-task
    stage may not run: anything outside ``_ONE_TASK_OPS``, such as a
    join, an aggregation of another kind or a scan of a table that
    grows with the data."""
    misfits, stack = [], [coalesce.child()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if "Exchange" in cls or cls.endswith("QueryStageExec"):
            continue
        if cls == "FileSourceScanExec":
            if scan_table(node) not in FIXED_SIZE_DIMS:
                misfits.append(f"scan of {scan_table(node)}")
        elif cls not in _ONE_TASK_OPS:
            misfits.append(cls)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return misfits


def _assert_plan_invariants(name: str, df) -> None:
    """Check the per-query invariants on one walk of ``df``'s static
    plan and on its schema.

    Python UDFs: hot paths stay JVM-side.  Windows: q11_important_stock's
    threshold window and tpcds_return_ratio_rank's global ranks were
    retired in round 3 for broadcast-scalar / TakeOrdered+count-rank
    spellings; this keeps them retired.  A WindowGroupLimit between the
    Window and the exchange (rank()<=k pruning sends each upstream
    partition's top-k only) keeps a window legal.

    Scalar outputs: the driver's value-hash round-trips rows through
    pandas, where a Spark array cell (numpy ndarray) and a DuckDB list
    stringify differently even for equal values, and it sorts over all
    columns even for oracle=None queries (``TypeError: unhashable type:
    'list'`` — the round-3 dedup_simhash / doc_length_approx_cuts
    crashes).  Decimals render as ``decimal.Decimal`` on the Spark side
    and float64 on the DuckDB side (the round-4 rollup reds).
    Collections are serialized at the output boundary (array_join /
    '|'-joined casts) and decimal math ends in round(...)::double or
    scaled-integer cents (tpch.py _money)."""
    python, single_window, one_task, misfits = [], False, False, []
    for cls, node in walk_plan(df):
        if cls.startswith(_PYTHON_EVALS):
            python.append(cls)
        elif cls == "WindowExec" and _single_partition_feed(node):
            single_window = True
        elif _one_task(cls, node):
            one_task = True
            misfits += _one_task_stage_misfits(node)
    problems = []
    if python and "udtf" not in REGISTRY[name].tags:
        problems.append(f"Python UDF evaluation in the plan: {python}")
    if name in _SINGLE_WINDOW_BOUNDED and not single_window:
        problems.append(
            "no single-partition window left in the plan: delete its "
            "_SINGLE_WINDOW_BOUNDED entry"
        )
    if name not in _SINGLE_WINDOW_BOUNDED and single_window:
        problems.append("unpartitioned WindowExec over unbounded input")
    if name in _ONE_TASK_BOUNDED and not one_task:
        problems.append(
            "no one-task coalesce left in the plan: delete its "
            "_ONE_TASK_BOUNDED entry"
        )
    if name not in _ONE_TASK_BOUNDED and one_task:
        problems.append("one-task CoalesceExec over unbounded input")
    if misfits:
        problems.append(f"one-task stage runs {misfits}")
    non_scalar = [(c, t) for c, t in df.dtypes if t.startswith(_NON_SCALAR)]
    if non_scalar:
        problems.append(f"non-scalar output columns: {non_scalar}")
    assert not problems, f"{name}: " + "; ".join(problems)


def _effective(conf, key: str) -> str | None:
    try:
        return conf.get(key)
    except SparkNoSuchElementException:  # unset, with no registered default
        return None


def _conf_snapshot(spark):
    """The session's set confs (``spark.conf.getAll``) as a JVM map:
    one round trip, where the Python dict costs one per key."""
    return spark.conf._jconf.getAllAsJava()


def _assert_conf_unchanged(spark, name: str, before) -> None:
    """Every session conf key has the effective value it had in the
    ``before`` snapshot: an unset key reads as its default, so a key
    set back to its default is unchanged."""
    after = _conf_snapshot(spark)
    if before.equals(after):
        return
    before, after = dict(before), dict(after)
    keys = {k for k in before.keys() | after.keys() if before.get(k) != after.get(k)}
    if name in _CONF_SETTERS:
        keys.discard(_CONF_SETTERS[name][0])
    defaults = spark.newSession().conf
    changed = {}
    for k in sorted(keys):
        was = before[k] if k in before else _effective(defaults, k)
        now = after[k] if k in after else _effective(defaults, k)
        if was != now:
            changed[k] = (was, now)
    assert not changed, f"{name} left session confs changed (before, after): {changed}"


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, sf_dir, name):
    q = REGISTRY[name]
    conf = _conf_snapshot(spark)
    df = q.fn(spark, sf_dir)
    _assert_plan_invariants(name, df)
    if "gen_values_oracles" in q.oracle and not sf_dir.rstrip("/").endswith(
        ("sf0.001", "sf0.01")
    ):
        pytest.skip(
            "VALUES-literal oracle pinned for the sf0.001/sf0.01 gate "
            "corpora only (scale-keyed on lineitem count)"
        )
    compare_to_oracle(df, q.oracle, sf_dir)
    _assert_conf_unchanged(spark, name, conf)


# Queries whose answer at sf0.001 leaves their hard case unrun, with the
# corpus that runs it.  q7_volume_shipping returns 0 rows at sf0.001, so
# its oracle test compares two empty results (14 rows at sf0.01).
# tpcds_return_ratio_rank keeps 2 candidates at sf0.001 and 8 at sf0.01,
# fewer than its top 10, so its cut and tie handling first run at sf0.1
# (16 candidates).
_AT_SCALE = [("q7_volume_shipping", "sf0.01"), ("tpcds_return_ratio_rank", "sf0.1")]


@pytest.mark.parametrize("name,scale", _AT_SCALE)
def test_query_matches_oracle_at_scale(spark, name, scale):
    """The query against its oracle on the ``scale`` corpus beside the
    suite's own, with a non-empty answer."""
    data = corpus_beside(scale)
    q = REGISTRY[name]
    df = q.fn(spark, data)
    rows = df.collect()
    assert rows, f"{name} returns no rows at {scale}"
    compare_rows_to_oracle(df.columns, rows, q.oracle, data)


@pytest.mark.parametrize("name", WITHOUT_ORACLE)
def test_query_runs(spark, sf_dir, name):
    """Non-SQL-expressible ops: at minimum they run and return a stable schema."""
    q = REGISTRY[name]
    conf = _conf_snapshot(spark)
    df = q.fn(spark, sf_dir)
    _assert_plan_invariants(name, df)
    assert df.columns
    assert df.count() >= 0
    _assert_conf_unchanged(spark, name, conf)


def test_no_oracle_emits_hugeint_or_decimal(sf_dir):
    """DuckDB widens sum(BIGINT) to HUGEINT (int128).  The driver's
    value-hash converts HUGEINT through pandas as float/object, so a
    value-equal result can still hash-mismatch (the round-1
    q12_late_shipments bug).  Every integer aggregate in an oracle must
    therefore be CAST back to BIGINT.  DECIMAL oracle outputs are
    banned for the same reason (the round-4 rollup reds: precision >18
    is int128-backed, and even narrow decimals render differently
    through the two pandas round-trips) — round once and CAST to
    DOUBLE at the boundary.  DESCRIBE-only: no execution."""
    from datafusion_comet_spark.testing import duckdb_connection

    con = duckdb_connection(sf_dir)
    offenders = []
    for name in WITH_ORACLE:
        desc = con.execute(f"DESCRIBE {REGISTRY[name].oracle}").fetchall()
        for col, typ, *_ in desc:
            if "HUGEINT" in typ.upper() or "DECIMAL" in typ.upper():
                offenders.append((name, col, typ))
    assert not offenders, f"int128/decimal oracle output columns: {offenders}"
