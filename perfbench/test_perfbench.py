"""Self-tests of the benchmark.  Run from the repository root:

    python3 -m pytest perfbench -q

The smoke tests run the benchmark command itself, one short run per
workload; the others check its tracing pieces against a live engine.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run as bench  # noqa: E402
from tracing import Py4JCounter, Tracer, walk_plan  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _sf_dir(scale: str) -> str:
    """A scale directory beside the package's default data directory."""
    from datafusion_comet_spark.catalog import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), scale)


_RUNS: dict = {}


def _benchmark_jvms() -> list[int]:
    """Pids of live JVMs that a benchmark run launched (its app name)."""
    pids = []
    for entry in os.listdir("/proc"):
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                if b"\0spark.app.name=perfbench\0" in f.read():
                    pids.append(int(entry))
        except (OSError, ValueError):
            continue
    return pids


def _run(workload: str, trace: int) -> tuple[dict, str, str]:
    """One short run (one warm pass, two when traced) at sf0.001."""
    if (workload, trace) not in _RUNS:
        # output goes to files, not pipes: reading a pipe to its end would
        # also wait for a JVM that inherited it
        logs = os.path.join(HERE, ".work", "selftest")
        os.makedirs(logs, exist_ok=True)
        stem = os.path.join(logs, f"{workload}-{trace}")
        with open(f"{stem}.out", "w+") as out, open(f"{stem}.err", "w+") as err:
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", "1", "--seconds", "0", "--trace", str(trace),
                 "--sf-dir", _sf_dir("sf0.001")],
                cwd=ROOT, stdout=out, stderr=err, timeout=600,
            )
            # the run waits for its JVM to end before it exits
            assert _benchmark_jvms() == []
            out.seek(0)
            err.seek(0)
            stdout, stderr = out.read(), err.read()
        assert proc.returncode == 0, stderr[-3000:]
        result = json.loads(stdout.strip().splitlines()[-1])
        _RUNS[workload, trace] = result, stdout, stderr
    return _RUNS[workload, trace]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_every_end_to_end_metric(workload):
    result, out, err = _run(workload, trace=0)
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 2
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    # every end-to-end metric is also printed by name with its unit,
    # including those reported outside the bounded set
    unbounded = {"cold_p50_s": "s", "warm_p50_s": "s", "warm_tail_s": "s",
                 "queries_per_s": "1/s", "error_rate": "1", "peak_rss_mb": "MB"}
    printed = {line.split()[0]: line.split()[2] for line in out.splitlines()
               if len(line.split()) >= 3 and line.split()[0] in {*want, *unbounded}}
    assert printed == {**want, **unbounded}
    assert "error_rate 0 " in out
    assert "Asked to cache already cached data" not in err


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_traced_run_reports_every_layer(workload):
    result, _out, _err = _run(workload, trace=1)
    assert result["correct"] and result["failed"] == 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(m) == {p["name"] for p in SPEC["per_layer"]}
    assert m["cache.entries_at_start"] == 0
    assert m["queries.py4j_calls"] > 0 and m["exec.jobs"] > 0 and m["exec.scans"] > 0
    # the named layers (not the residual of the query span) cover the
    # query wall time
    assert m["trace.accounted_share"] >= 0.9
    assert m["self.query_s"] <= 0.1 * m["trace.query_wall_s"]
    spans = os.path.join(HERE, ".work", "spans", f"{workload}-seed1.jsonl")
    assert os.path.exists(spans)


def test_traced_pipeline_write_round_trip_builds_by_writing():
    """The write round trip spends most of its build time in
    DataFrameWriter calls and writes files under the sources scratch
    dir; the TPC-H set writes nothing."""
    pipeline = {k: v["value"] for k, v in _run("pipeline_sf0.01", 1)[0]["metrics"].items()}
    tpch = {k: v["value"] for k, v in _run("tpch_sf0.01", 1)[0]["metrics"].items()}
    assert pipeline["sources.files_written"] > 0 and pipeline["sources.bytes_written"] > 0
    assert tpch["sources.files_written"] == 0 and tpch["sources.write_s"] == 0
    with open(os.path.join(HERE, ".work", "spans", "pipeline_sf0.01-seed1.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    warm = [s for s in spans
            if s.get("pass", 0) > 0 and s.get("query_name") == "parquet_write_partitioned"]
    build = sum(s["end"] - s["start"] for s in warm if s["name"] == "queries.build")
    write = sum(s["end"] - s["start"] for s in warm if s["name"] == "sources.write")
    assert write > 0.5 * build


def test_tail_is_highest_percentile_with_ten_samples_above():
    assert bench.tail([float(i) for i in range(1, 41)]) == (30.0, 75.0, 40)
    # too few samples for a tail: never reported below the median
    assert bench.tail([float(i) for i in range(1, 12)]) == (6.0, 100.0 * 6 / 11, 11)


def test_self_times_count_concurrent_children_once():
    tr = Tracer()
    root = tr.add("query", 0.0, 10.0, None)
    collect = tr.add("exec.collect", 2.0, 10.0, root)
    tr.add("queries.build", 0.0, 2.0, root)
    tr.add("exec.job", 3.0, 6.0, collect)
    tr.add("exec.job", 4.0, 8.0, collect)  # overlaps the first job
    tr.add("catalyst.planning", 9.0, 11.0, collect)  # clipped to its parent
    st = tr.self_times([root])
    assert sum(st.values()) == pytest.approx(10.0)
    assert st == pytest.approx({"query": 0.0, "queries": 2.0, "exec": 7.0,
                                "catalyst": 1.0, "sources": 0.0})


@pytest.fixture(scope="module")
def engine_sf01():
    """An engine over the sf0.1 star schema."""
    bench.prepare_environment()
    from datafusion_comet_spark.api import Engine

    eng = Engine(_sf_dir("sf0.1"), app_name="perfbench-test",
                 extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield eng
    bench.stop_processes()


def test_plan_walk_sees_the_scalar_subquery_lineitem_pass(engine_sf01):
    """tpcds_cross_channel_rollup reads lineitem three times at sf0.1:
    the walk must see every pass, with all of lineitem's rows each."""
    from datafusion_comet_spark.catalog import parquet_num_rows

    eng = engine_sf01
    df = eng.run("tpcds_cross_channel_rollup")
    df.collect()
    try:
        nodes = list(walk_plan(eng.spark._jvm, df._jdf.queryExecution().executedPlan()))
    finally:
        eng.spark.catalog.clearCache()
    lineitem = [m for cls, text, m in nodes
                if cls == "FileSourceScanExec" and "lineitem.parquet" in text]
    assert len(lineitem) == 3
    rows = parquet_num_rows(eng.sf_dir, "lineitem")
    assert [m["numOutputRows"] for m in lineitem] == [rows] * 3


def test_py4j_call_count_repeats_exactly(engine_sf01):
    import gc

    eng = engine_sf01
    counter = Py4JCounter(eng.spark)
    counts = []
    for _ in range(3):
        with counter.counting():
            eng.run("text_bm25_multiquery")
        counts.append(counter.calls)
        gc.collect()  # finalizer deletes must not leak into the next count
        eng.spark.catalog.clearCache()
    assert counts[0] > 100
    assert len(set(counts)) == 1, counts
