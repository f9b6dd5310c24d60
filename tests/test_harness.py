"""The measurement harness in ``testing.py`` and the contracts built on it.

``timings`` is the one wall-clock timer of bench.py and the dev/
scripts, ``session.conf_override`` the one scoped conf change, ``ab``
the one interleaved conf A/B and ``forged_sizes`` the one forge of the
catalog's table facts.  These tests pin what their callers rely on (no
cache survives a run, confs and facts come back even when the body
raises, the A/B row check sees real differences and only those),
bench.py's one-JSON-line stdout, and that no script grows its own
timer, nor the package its own conf save/restore or data-source
registration, again.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import re
import subprocess
import sys

import pytest

from conftest import plant_stale_cds_archive
from datafusion_comet_spark.catalog import table_facts
from datafusion_comet_spark.queries import load_all
from datafusion_comet_spark.session import conf_override
from datafusion_comet_spark.sources import python_datasource
from datafusion_comet_spark.testing import ab, forged_sizes, scale_factor, timings

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
import bench  # noqa: E402


def _cached_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def test_timings_clears_cache_after_every_run(spark):
    seen = []

    def run():
        spark.range(100).persist().count()
        seen.append(_cached_entries(spark))

    secs = timings(spark, run, 2)
    assert len(secs) == 2 and all(s > 0 for s in secs)
    # each run sees only its own entry: the first run's was cleared
    assert seen == [1, 1]
    assert _cached_entries(spark) == 0


def test_timings_clears_cache_when_the_run_raises(spark):
    def run():
        spark.range(100).persist().count()
        assert _cached_entries(spark) == 1
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        timings(spark, run, 3)
    assert _cached_entries(spark) == 0


def test_conf_override_restores_and_unsets_when_the_body_raises(spark):
    set_key, unset_key = "spark.sql.shuffle.partitions", "spark.graft.harness_probe"
    before = spark.conf.get(set_key)
    assert spark.conf.get(unset_key, None) is None
    inside = str(int(before) + 1)
    with pytest.raises(RuntimeError, match="boom"):
        with conf_override(spark, {set_key: inside, unset_key: "on"}):
            assert spark.conf.get(set_key) == inside
            assert spark.conf.get(unset_key) == "on"
            raise RuntimeError("boom")
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None


def test_forged_sizes_forges_only_the_named_fact_and_restores(sf_dir):
    real = {t: table_facts(sf_dir, t) for t in ("lineitem", "orders")}
    with pytest.raises(RuntimeError, match="boom"):
        with forged_sizes(sf_dir, rows={"lineitem": 7}):
            assert table_facts(sf_dir, "lineitem") == real["lineitem"]._replace(rows=7)
            assert table_facts(sf_dir, "orders") == real["orders"]
            raise RuntimeError("boom")
    assert {t: table_facts(sf_dir, t) for t in real} == real


def test_ab_sees_rows_that_differ_between_arms(spark):
    key = "spark.graft.ab_probe"
    best, rows_equal = ab(
        spark,
        lambda: spark.sql(f"SELECT '${{{key}}}' AS v"),
        {"a": {key: "a"}, "b": {key: "b"}},
        blocks=2,
        runs=1,
    )
    assert set(best) == {"a", "b"} and all(s > 0 for s in best.values())
    assert rows_equal is False
    assert spark.conf.get(key, None) is None


def test_ab_plan_only_conf_keeps_rows_equal(spark, sf_dir):
    q1 = load_all()["q1_pricing_summary"].fn
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    best, rows_equal = ab(
        spark,
        lambda: q1(spark, sf_dir),
        {"1": {key: "1"}, "4": {key: "4"}},
        blocks=1,
        runs=1,
    )
    assert set(best) == {"1", "4"}
    assert rows_equal is True
    assert spark.conf.get(key) == before


def test_bench_prints_one_json_line_in_bench_order(sf_dir, tmp_path):
    """Also with a stale CDS archive where bench's session looks for
    one: the JVM's warning when it rejects an archive goes to stdout
    unless CDS logging is off, and it must not reach bench's line."""
    env = dict(
        os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_BENCH_ITERATIONS="1",
        XDG_CACHE_HOME=str(tmp_path),
    )
    plant_stale_cds_archive(env)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env, capture_output=True, text=True, timeout=1200, check=False,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, proc.stdout
    out = json.loads(lines[0])
    assert list(out) == ["metric", "value", "unit", "queries", "sf"], out
    assert (out["metric"], out["unit"]) == ("bench_total", "sec")
    assert list(out["queries"]) == bench.bench_names(load_all())
    assert out["value"] == round(sum(out["queries"].values()), 3)
    assert out["sf"] == scale_factor(sf_dir)


def test_bench_and_dev_scripts_have_no_timer_of_their_own():
    timer = re.compile(r"perf_counter|time\.time\(|monotonic")
    paths = [os.path.join(REPO, "bench.py")]
    paths += sorted(glob.glob(os.path.join(REPO, "dev", "*.py")))
    hits = []
    for p in paths:
        with open(p) as f:
            hits += [
                f"{os.path.relpath(p, REPO)}:{i}: {line.strip()}"
                for i, line in enumerate(f, 1)
                if timer.search(line)
            ]
    assert not hits, "time through testing.timings instead:\n" + "\n".join(hits)


# The two confs a package module sets and leaves set, each where a
# session the package did not create needs it: events.ts is unreadable
# without nanosAsLong, and Python DataSource filter pushdown is decided
# when the returned DataFrame is planned.
_PERMANENT_CONF_SETTERS = {
    "catalog.py": "spark.sql.legacy.parquet.nanosAsLong",
    os.path.join("queries", "sources.py"): "spark.sql.python.filterPushdown.enabled",
}


def test_package_changes_confs_only_through_conf_override():
    setter = re.compile(r"\.conf\.(set|unset)\(")
    pkg = os.path.join(REPO, "datafusion_comet_spark")
    hits = []
    for p in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(p, pkg)
        if rel == "session.py":
            continue
        permanent = _PERMANENT_CONF_SETTERS.get(rel)
        with open(p) as f:
            hits += [
                f"datafusion_comet_spark/{rel}:{i}: {line.strip()}"
                for i, line in enumerate(f, 1)
                if setter.search(line) and not (permanent and permanent in line)
            ]
    assert not hits, "scope conf changes with session.conf_override:\n" + "\n".join(hits)


def test_package_registers_data_sources_only_in_register_sources():
    """Every Python DataSource of the package is registered by the one
    ``python_datasource.register_sources``, so a query that reads or
    writes one calls that and never registers a class of its own."""
    pkg = os.path.join(REPO, "datafusion_comet_spark")
    hits = []
    for p in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(p) as f:
            hits += [
                (os.path.relpath(p, pkg), i)
                for i, line in enumerate(f, 1)
                if "dataSource.register(" in line
            ]
    lines, start = inspect.getsourcelines(python_datasource.register_sources)
    rel = os.path.join("sources", "python_datasource.py")
    allowed = {(rel, i) for i in range(start, start + len(lines))}
    assert hits and set(hits) <= allowed, hits
