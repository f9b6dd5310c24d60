from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from datafusion_comet_spark.session import get_session

    s = get_session(app_name="dcs-tests")
    yield s


@pytest.fixture(autouse=True)
def _clear_sql_cache():
    """Clear the SQL cache after every test, so no test starts with
    another's persisted subtrees: a lingering one (e.g.
    tpcds_return_ratio_rank's candidate aggregate) rewrites matching
    plans into InMemoryRelation scans and the plan goldens drift.
    Without a running session there is nothing to clear, and a
    pure-Python test still starts no JVM."""
    yield
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.catalog.clearCache()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def corpus_beside(scale: str) -> str:
    """The ``scale`` corpus (``"sf0.01"``) in the directory that holds
    the suite's own (``sf_dir``); skips the calling test when it is
    absent."""
    path = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), scale)
    if not os.path.isdir(path):
        pytest.skip(f"no {scale} corpus beside {SF_DIR}")
    return path


@pytest.fixture(scope="module")
def duck():
    """An in-memory DuckDB connection, one per test module."""
    import duckdb

    return duckdb.connect()


def jobs_in_group(spark, group: str) -> int:
    """Spark jobs started so far under job group ``group``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def plant_stale_cds_archive(environ: dict[str, str]) -> str | None:
    """Put an archive with a valid header but another class path (dumped
    by a JVM that ran only Spark's launcher jar) where a session started
    with ``environ`` looks for its CDS archive; returns its path, or
    None where that session skips CDS."""
    import glob
    import subprocess

    from pyspark.find_spark_home import _find_spark_home

    from datafusion_comet_spark import session

    plan = session.cds_plan(
        session.cds_cache_dir(environ), _find_spark_home(), session._java_home(environ),
        session.session_conf(), environ,
    )
    if plan is None:
        return None
    launcher = glob.glob(os.path.join(_find_spark_home(), "jars", "spark-launcher*.jar"))
    java = os.path.join(session._java_home(environ), "bin", "java")
    subprocess.run(
        [java, f"-XX:ArchiveClassesAtExit={plan.archive}", "-cp", launcher[0],
         "org.apache.spark.launcher.Main"],
        capture_output=True, check=False, timeout=120,
    )
    with open(plan.archive, "rb") as f:
        assert f.read(4) == session._DYNAMIC_ARCHIVE_MAGIC
    return plan.archive


GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "goldens", "plans")
REGEN_GOLDENS = os.environ.get("SPARK_GRAFT_REGEN_GOLDENS") == "1"


def assert_matches_golden(ops: list[str], filename: str) -> None:
    """Assert ``ops`` equals the committed golden ``filename`` (one
    label per line) under ``GOLDEN_DIR``.

    With SPARK_GRAFT_REGEN_GOLDENS=1 the golden is rewritten and the
    test skips.  A missing golden fails: creating it here would compare
    the plan against itself."""
    path = os.path.join(GOLDEN_DIR, filename)
    if REGEN_GOLDENS:
        with open(path, "w") as f:
            f.write("\n".join(ops) + "\n")
        pytest.skip(f"golden regenerated: {path}")
    if not os.path.exists(path):
        pytest.fail(
            f"no committed golden at {path}; generate one with "
            "SPARK_GRAFT_REGEN_GOLDENS=1 and commit it"
        )
    with open(path) as f:
        golden = f.read().splitlines()
    assert ops == golden, (
        f"physical plan shape changed ({filename}):\n"
        f"  golden : {golden}\n"
        f"  current: {ops}\n"
        "If intentional, regenerate with SPARK_GRAFT_REGEN_GOLDENS=1."
    )
