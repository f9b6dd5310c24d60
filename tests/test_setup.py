"""The setup layer: footer-derived table schemas and the driver JVM's
class-data-sharing (AppCDS) archive.

``catalog.footer_schema`` must give exactly the schema Spark's own
inference gives, on every scale the suite has and on generator output,
and must give up (so Spark infers) where its mapping stops.
``session.cds_plan``, which decides the CDS options, is tested as a
function over a temp cache directory: it must skip CDS wherever an
archive could be planted or could not be dumped, keep a caller's
options, and only ever map the name that ``publish_archive`` fills
with ``os.replace``.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from datafusion_comet_spark import session
from datafusion_comet_spark.catalog import (
    TABLES,
    footer_schema,
    load_table,
    load_tables,
    table_path,
)
from datafusion_comet_spark.queries import load_all

from conftest import corpus_beside, jobs_in_group, plant_stale_cds_archive

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _assert_parity(spark, sf_dir: str, name: str) -> None:
    inferred = spark.read.parquet(table_path(sf_dir, name)).schema
    assert footer_schema(spark, sf_dir, name) == inferred, (sf_dir, name)


# --- footer schemas ---------------------------------------------------------

@pytest.fixture(scope="module")
def gen_dir(tmp_path_factory) -> str:
    """``dev/gen_scale_data.py`` output at sf0.001."""
    sys.path.insert(0, os.path.join(REPO, "dev"))
    try:
        import gen_scale_data
    finally:
        sys.path.pop(0)
    base = str(tmp_path_factory.mktemp("gen"))
    out_base, gen_scale_data.OUT_BASE = gen_scale_data.OUT_BASE, base
    argv, sys.argv = sys.argv, ["gen_scale_data.py", "0.001"]
    try:
        gen_scale_data.main()
    finally:
        gen_scale_data.OUT_BASE, sys.argv = out_base, argv
    return os.path.join(base, "sf0.001")


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1", "generator"])
def test_footer_schema_equals_inferred_schema(spark, gen_dir, scale):
    sf_dir = gen_dir if scale == "generator" else corpus_beside(scale)
    for name in TABLES:
        _assert_parity(spark, sf_dir, name)


def _events_with_ts(src_dir: str, out_dir: str, ts_type, **write_kw) -> str:
    os.makedirs(out_dir)
    events = pq.read_table(table_path(src_dir, "events"))
    ts = events.column("ts").cast(pa.int64()).cast(pa.timestamp("us"))
    events = events.set_column(
        events.schema.get_field_index("ts"), "ts", ts.cast(ts_type)
    )
    pq.write_table(events, table_path(out_dir, "events"), **write_kw)
    return out_dir


@pytest.mark.parametrize(
    "ts_type, write_kw, read_as",
    [
        (pa.timestamp("us"), {}, "timestamp_ntz"),
        (pa.timestamp("ns"), {}, "bigint"),  # TIMESTAMP(NANOS): nanosAsLong
        (pa.timestamp("ns"), {"use_deprecated_int96_timestamps": True}, "timestamp"),
        (pa.timestamp("us", tz="UTC"), {}, "timestamp"),
    ],
    ids=["ntz", "nanos", "int96", "utc"],
)
def test_events_ts_branches(spark, sf_dir, tmp_path, ts_type, write_kw, read_as):
    """Both ``events.ts`` encodings load_table normalizes (nanos read as
    a long, micros as NTZ), plus INT96 and UTC-adjusted micros, which are
    all ``timestamp[…]`` in Arrow but not in Spark: the footer schema
    matches inference, and the loaded rows equal the inferred read's."""
    d = _events_with_ts(sf_dir, str(tmp_path / "sf"), ts_type, **write_kw)
    inferred = spark.read.parquet(table_path(d, "events"))
    assert dict(inferred.dtypes)["ts"] == read_as
    _assert_parity(spark, d, "events")
    loaded = load_table(spark, d, "events")
    assert dict(loaded.dtypes)["ts"] == "timestamp"
    want = load_table(spark, sf_dir, "events").orderBy("event_id").collect()
    assert loaded.orderBy("event_id").collect() == want


def _write_parts(table: pa.Table, path: str, parts: int) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
        )


def test_directory_shaped_table(spark, sf_dir, tmp_path):
    """A multi-part lineitem directory: parity, and the loaded rows equal
    the single-file table's."""
    d = str(tmp_path / "sf")
    _write_parts(pq.read_table(table_path(sf_dir, "lineitem")), table_path(d, "lineitem"), 3)
    _assert_parity(spark, d, "lineitem")
    assert footer_schema(spark, d, "lineitem") is not None
    got = load_table(spark, d, "lineitem").exceptAll(load_table(spark, sf_dir, "lineitem"))
    assert got.count() == 0
    assert load_table(spark, d, "lineitem").count() == load_table(spark, sf_dir, "lineitem").count()


def test_disagreeing_parts_fall_back_to_inference(spark, sf_dir, tmp_path):
    d = str(tmp_path / "sf")
    path = table_path(d, "region")
    _write_parts(pq.read_table(table_path(sf_dir, "region")), path, 2)
    last = os.path.join(path, "part-00001.parquet")
    t = pq.read_table(last)
    t = t.set_column(0, "r_regionkey", pc.cast(t.column(0), pa.int64()))
    pq.write_table(t, last)
    assert footer_schema(spark, d, "region") is None
    assert load_table(spark, d, "region").count() == 5


@pytest.mark.parametrize(
    "column",
    [
        pa.array([1, 2], pa.decimal128(9, 2)),
        pa.array([{"a": 1}, {"a": 2}]),
        pa.array([1, 2], pa.uint64()),
    ],
    ids=["decimal", "struct", "uint64"],
)
def test_unmapped_type_falls_back_to_inference(spark, tmp_path, column):
    d = str(tmp_path / "sf")
    os.makedirs(d)
    pq.write_table(pa.table({"k": [1, 2], "v": column}), table_path(d, "region"))
    assert footer_schema(spark, d, "region") is None
    df = load_table(spark, d, "region")
    assert df.schema == spark.read.parquet(table_path(d, "region")).schema
    assert df.count() == 2


def test_unreadable_footer_leaves_the_error_to_spark(spark, tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    assert footer_schema(spark, str(d), "region") is None  # no file
    (d / "region.parquet").write_bytes(b"not parquet")
    assert footer_schema(spark, str(d), "region") is None


def test_load_tables_runs_no_spark_job(spark, sf_dir, tmp_path):
    """Loading the star schema infers no schema: 0 jobs in its group.
    (A fresh directory of links, so no table comes from the cache.)"""
    d = tmp_path / "sf"
    d.mkdir()
    for name in TABLES:
        (d / f"{name}.parquet").symlink_to(table_path(sf_dir, name))
    sc = spark.sparkContext
    sc.setJobGroup("load-tables", "load_tables")
    try:
        tables = load_tables(spark, str(d), register_views=False)
    finally:
        sc._jsc.clearJobGroup()
    assert jobs_in_group(spark, "load-tables") == 0
    assert sorted(vars(tables)) == sorted(TABLES)


# --- the CDS options (session.cds_plan) ------------------------------------

@pytest.fixture
def homes(tmp_path):
    """A fake Spark home (one jar, template-only conf) and JDK home."""
    spark_home, java_home = tmp_path / "spark", tmp_path / "jdk"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    java_home.mkdir()
    (java_home / "release").write_text('JAVA_VERSION="17"\n')
    return str(spark_home), str(java_home)


def _plan(cache, homes, conf=None, environ=None):
    return session.cds_plan(
        str(cache), *homes, conf or {"spark.driver.memory": "2g"}, environ or {}
    )


def test_cds_dumps_to_a_temp_name_and_maps_only_the_published_one(tmp_path, homes):
    cache = tmp_path / "xdg" / "spark-graft" / "cds"
    dump = _plan(cache, homes)
    assert dump.dump_to and dump.dump_to != dump.archive
    assert os.path.dirname(dump.dump_to) == os.path.dirname(dump.archive)
    assert f"-XX:ArchiveClassesAtExit={dump.dump_to}" in dump.java_options
    assert "SharedArchiveFile" not in dump.java_options
    assert "-Xlog:cds*=off" in dump.java_options
    assert dump.conf_dir.startswith(str(cache)) and os.listdir(dump.conf_dir) == []
    for d in (cache.parent, cache, dump.conf_dir):
        assert os.stat(d).st_mode & 0o777 == 0o700
    open(dump.archive, "wb").close()
    use = _plan(cache, homes)
    assert use.dump_to is None and use.archive == dump.archive
    assert f"-XX:SharedArchiveFile={use.archive}" in use.java_options
    assert "ArchiveClassesAtExit" not in use.java_options
    # the heap size decides compressed oops, which an archive must match
    assert _plan(cache, homes, {"spark.driver.memory": "48g"}).archive != use.archive


def test_cds_skipped_for_a_cache_dir_others_could_write(tmp_path, homes, monkeypatch):
    cache = tmp_path / "spark-graft" / "cds"
    assert _plan(cache, homes) is not None
    os.chmod(cache, 0o770)
    assert _plan(cache, homes) is None
    os.chmod(cache, 0o700)
    os.chmod(cache.parent, 0o777)
    assert _plan(cache, homes) is None
    os.chmod(cache.parent, 0o700)
    uid = os.getuid()
    monkeypatch.setattr(os, "getuid", lambda: uid + 1)
    assert _plan(cache, homes) is None


def test_cds_skipped_and_environment_untouched_with_a_real_conf(tmp_path, homes):
    cache = tmp_path / "spark-graft" / "cds"
    before = dict(os.environ)
    environ = {"SPARK_CONF_DIR": str(tmp_path)}
    assert _plan(cache, homes, environ=environ) is None
    assert environ == {"SPARK_CONF_DIR": str(tmp_path)}
    with open(os.path.join(homes[0], "conf", "spark-defaults.conf"), "w") as f:
        f.write("spark.master local[1]\n")
    assert _plan(cache, homes) is None
    assert dict(os.environ) == before
    assert not cache.exists()


def test_cds_keeps_the_callers_java_options(tmp_path, homes):
    cache = tmp_path / "spark-graft" / "cds"
    conf = {"spark.driver.memory": "2g", "spark.driver.extraJavaOptions": "-Dgraft.probe=1"}
    plan = _plan(cache, homes, conf)
    assert plan.java_options.startswith("-Dgraft.probe=1 ")
    assert "ArchiveClassesAtExit" in plan.java_options
    # a caller that decides class data sharing itself is left alone
    conf["spark.driver.extraJavaOptions"] = "-Xshare:off"
    assert _plan(cache, homes, conf) is None


def test_orphaned_dumps_are_removed_live_ones_kept(tmp_path, homes):
    cache = tmp_path / "spark-graft" / "cds"
    archive = _plan(cache, homes).archive
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    orphan = f"{archive}.{dead.pid}-00000000.tmp"
    live = f"{archive}.{os.getpid()}-00000000.tmp"
    for p in (orphan, live):
        open(p, "wb").close()
    _plan(cache, homes)
    assert not os.path.exists(orphan) and os.path.exists(live)


class _FakeJvm:
    """Stands in for the gateway process: the dump is there but without
    its header while it runs, and ``wait`` writes the rest."""

    def __init__(self, events, dump_to, payload, exit_wait=None):
        self.events, self.dump_to, self.payload = events, dump_to, payload
        self.exit_wait = exit_wait
        self.stdin = SimpleNamespace(close=lambda: events.append("close stdin"))
        with open(dump_to, "wb") as f:
            f.write(b"\0" * len(payload))

    def wait(self, timeout):
        self.events.append("wait")
        if self.exit_wait:
            raise self.exit_wait
        with open(self.dump_to, "wb") as f:
            f.write(self.payload)
        return 0


@pytest.mark.parametrize(
    "payload, exit_wait, published",
    [
        (session._DYNAMIC_ARCHIVE_MAGIC + b"\0" * 64, None, True),
        (b"\0" * 68, None, False),  # the header, written last, is missing
        (session._DYNAMIC_ARCHIVE_MAGIC, subprocess.TimeoutExpired("java", 1), False),
    ],
    ids=["complete", "truncated", "jvm-still-running"],
)
def test_publish_archive_renames_only_a_complete_dump_after_exit(
    tmp_path, monkeypatch, payload, exit_wait, published
):
    archive, dump_to = str(tmp_path / "a.jsa"), str(tmp_path / "a.jsa.1-0.tmp")
    events: list[str] = []
    jvm = _FakeJvm(events, dump_to, payload, exit_wait)
    real_replace = os.replace

    def replace(src, dst):
        events.append("replace")
        real_replace(src, dst)

    def stop():
        events.append("stop spark")
        raise RuntimeError("already stopped")  # must not stop the publish

    monkeypatch.setattr(os, "replace", replace)
    assert session.publish_archive(jvm, dump_to, archive, stop) is published
    assert events == ["stop spark", "close stdin", "wait"] + ["replace"] * published
    assert os.path.exists(archive) is published
    assert not os.path.exists(dump_to)


def test_only_os_replace_writes_the_archive_name():
    """session.py opens no file for writing and copies, moves or links
    none; its one os.replace targets the archive, so every other path
    only names the temp dump."""
    with open(session.__file__) as f:
        src = f.read()
    assert not re.search(r"""['"][wax]b?\+?['"]""", src)
    assert not re.search(r"\.write\(|shutil\.(copy|move)|os\.(rename|link|symlink)", src)
    assert re.findall(r"os\.replace\(([^)]*)\)", src) == ["dump_to, archive"]


def test_a_stale_archive_still_gives_a_working_session(spark, sf_dir, tmp_path):
    """An archive with a valid header but another class path, planted
    where the next session looks: the JVM runs without it, the rows are
    the in-process session's and stdout carries only the program's line."""
    xdg = tmp_path / "xdg"
    env = dict(os.environ, XDG_CACHE_HOME=str(xdg))
    archive = plant_stale_cds_archive(env)
    if archive is None:
        pytest.skip("CDS is skipped in this environment")
    planted = os.stat(archive)
    script = (
        "import json, os, sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from datafusion_comet_spark.session import get_session\n"
        "from datafusion_comet_spark.queries import load_all\n"
        "spark = get_session(app_name='dcs-stale-cds')\n"
        "assert 'SPARK_CONF_DIR' not in os.environ\n"
        f"rows = load_all()['q1_pricing_summary'].fn(spark, {sf_dir!r}).collect()\n"
        "print(json.dumps([list(r) for r in rows], default=str))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=600, check=False,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, proc.stdout
    want = load_all()["q1_pricing_summary"].fn(spark, sf_dir).collect()
    assert json.loads(lines[0]) == json.loads(
        json.dumps([list(r) for r in want], default=str)
    )
    # a session that maps an archive never replaces it
    assert os.stat(archive).st_mtime_ns == planted.st_mtime_ns
