#!/usr/bin/env python3
"""Layered benchmark of the datafusion_comet_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload tpch_sf0.01 --seed 1 --seconds 21 --trace 0

One run is one fresh process: a closed loop of one client (this process
driving one SparkSession at ``local[4]``) over one workload, on the
package's read-only star schema at sf0.01 (``--sf-dir`` overrides it).

1. Setup: construct ``api.Engine(sf_dir)`` once, in this fresh process
   (it launches the JVM); that construction is ``setup_s``.
2. Oracle: every query's DuckDB rows, computed once, outside all timers.
3. Cold pass: every query of the workload once, in its declared order.
4. Warm: whole passes over the workload, each in an order drawn from
   ``--seed``: as many as fit in ``--seconds`` on a quiet host
   (``WARM_PASS_S``), at least one.
5. Stop: stop Spark, end its JVM and wait until every process started
   under this one has ended.

Each execution checks that Spark's cache is empty, times
``Query.fn(spark, sf_dir)`` (build) and ``DataFrame.collect()``,
compares the rows with the oracle and calls
``spark.catalog.clearCache()``.  A failure, mismatch or timeout is
counted and the run goes on.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` it carries the per-layer metrics: the cold pass and
the odd warm passes are traced, the even warm passes are not, and the
difference between the two is the tracing overhead.  Spans are written
to ``perfbench/.work/spans/``.  Everything the run writes stays under
``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import signal
import statistics
import sys
import tempfile
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

CPUS = 4
# Under the package's default 48g heap limit the collector's heap sizing
# moved whole runs: the pipeline's timing spread over ten seeds was
# 0.28-0.29 against 0.16-0.18 with a 2g cap.
HEAP = "2g"
# a traced run makes two warm passes at least: one traced, one not
MIN_WARM_PASSES = {False: 1, True: 2}
# Nominal wall time of one warm pass over each workload on a quiet
# 4-core host.  A run makes as many warm passes as fit in --seconds at
# these times, however fast the host happens to be, so that a slow spell
# does not also cut the work a run measures.
WARM_PASS_S = {"tpch_sf0.01": 12.0, "pipeline_sf0.01": 7.0}
QUERY_TIMEOUT_S = 30.0

# Each workload: data scale and queries in their declared order (the
# cold pass runs in this order, so JVM warm-up lands on the same queries
# in every run).  BENCHMARK.json records why each was chosen.
WORKLOADS = {
    # the TPC-H-shaped headline set of bench.py:BENCH_QUERIES
    "tpch_sf0.01": ("sf0.01", (
        "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority",
        "q5_local_supplier", "q6_forecast_revenue", "q7_volume_shipping",
        "q8_market_share", "q9_product_profit", "q10_returned_items",
        "q12_late_shipments", "q13_customer_distribution", "q14_promo_revenue",
        "q15_top_supplier", "q17_small_quantity", "q18_large_volume",
        "q19_discounted_revenue", "q21_waiting_supplier", "q22_sales_opportunity",
    )),
    # the two bench-tagged queries with the most py4j calls per build,
    # the persist()-based TPC-DS report, and a write round trip (its
    # writes run inside Query.fn, during build)
    "pipeline_sf0.01": ("sf0.01", (
        "dedup_minhash_lsh", "ann_ivf_kmeans", "tpcds_return_ratio_rank",
        "parquet_write_partitioned",
    )),
}

# Queries whose warm executions reuse state the engine memoizes per
# session on purpose.  Their cold sample is the one that pays the build.
WARM_BY_DESIGN = {
    "ann_ivf_kmeans": "per-session memoized IVF coarse quantizer "
                      "(similarity.py _LLOYD_CACHE): the cold execution pays "
                      "the Lloyd build, warm executions probe the same index",
}

# The bounded end-to-end metrics.  Cold and warm latency are geometric
# means over the queries (a query's warm latency is the median of its
# warm executions): the median of 4-18 unlike queries jumps between
# neighbouring queries from run to run.  The medians, the warm tail,
# queries_per_s, error_rate and peak_rss_mb are printed beside them:
# with one client in a closed loop, queries_per_s is the reciprocal of
# the mean warm execution time, the samples warm_geomean_s already
# bounds, so a bound on it would catch no other regression;
# error_rate is 0 on a healthy run, so it cannot carry a relative bound;
# a run has too few warm samples for a tail above the median; and peak
# RSS follows the JVM collector's heap sizing, which varied by over a
# quarter between identical runs.
END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_geomean_s": "s",
    "warm_geomean_s": "s",
}


# -- measurement helpers ---------------------------------------------------

def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile of ``samples``
    that has at least ten samples above it, never below the median."""
    xs = sorted(samples)
    n = len(xs)
    k = max(n - 10, (n + 1) // 2)  # 1-based rank of the reported sample
    return xs[k - 1], 100.0 * k / n, n


def result_checks(eng, names: list[str]) -> dict:
    """Each query's result check, prepared once, outside all timers.

    A check takes (column names, rows) and is true when the rows match
    the query's DuckDB oracle by ``testing.compare_to_oracle``'s rules:
    equal column-name sets and equal canonical sorted multisets, floats
    rounded to 6 places."""
    from datafusion_comet_spark.testing import _rows_to_canonical, duckdb_connection

    con = duckdb_connection(eng.sf_dir)
    try:
        checks = {}
        for name in names:
            cur = con.execute(eng.oracle(name))
            cols = [d[0] for d in cur.description]
            want = (sorted(cols), _rows_to_canonical(cur.fetchall(), cols, 6))

            def check(got_cols, rows, want=want):
                return (sorted(got_cols) == want[0]
                        and _rows_to_canonical(rows, got_cols, 6) == want[1])
            checks[name] = check
        return checks
    finally:
        con.close()


class Runner:
    """Drives one workload through one Engine; its traced executions
    record spans and read back Spark's bookkeeping."""

    def __init__(self, eng, checks: dict, tracer):
        from tracing import Py4JCounter

        self.eng = eng
        self.spark = eng.spark
        self.sc = eng.spark.sparkContext
        self.checks = checks
        self.records: list[dict] = []
        self.tracer = tracer
        self.py4j = Py4JCounter(self.spark)

    def cache_entries(self) -> int:
        return self.spark._jsparkSession.sharedState().cacheManager().numCachedEntries()

    def execute(self, name: str, pass_no: int, traced: bool) -> dict:
        """One execution: build, collect, oracle check, clearCache.  A
        failure, mismatch or timeout is recorded and the run goes on."""
        from tracing import writer_spans

        t_enter = time.perf_counter()
        tr = self.tracer
        tr.enabled = traced
        attrs = {"query_name": name, "pass": pass_no, "execution": len(self.records)}
        group = f"e{len(self.records)}-{name}"
        rec = {"query": name, "pass": pass_no, "traced": traced, "ok": False,
               "cache_entries": self.cache_entries()}
        fired = threading.Event()

        def cancel():
            fired.set()
            self.sc.cancelJobGroup(group)

        self.sc.setJobGroup(group, name, True)
        timer = threading.Timer(QUERY_TIMEOUT_S, cancel)
        timer.start()
        t_start = time.time()
        df = None
        try:
            with tr.span("query", **attrs) as root:
                with tr.span("queries.build", **attrs) as build:
                    with self.py4j.counting() if traced else nullcontext():
                        with writer_spans(tr, **attrs) if traced else nullcontext():
                            t0 = time.perf_counter()
                            df = self.eng.run(name)
                            t1 = time.perf_counter()
                    if traced:
                        rec["queries.py4j_calls"] = self.py4j.calls
                with tr.span("exec.collect", **attrs) as collect:
                    rows = df.collect()
                    t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, collect_s=t2 - t1, wall_s=t2 - t0,
                       spans=(root, build, collect))
            rec["ok"] = self.checks[name](df.columns, [tuple(r) for r in rows])
            if not rec["ok"]:
                rec["error"] = "result differs from the oracle"
        except Exception as exc:  # one failing query must not end the run
            rec["error"] = "timed out" if fired.is_set() else repr(exc)[:300]
        finally:
            timer.cancel()
        if traced and "spans" in rec:
            self._bookkeeping(rec, df, group, t_start)
        self.spark.catalog.clearCache()
        rec["execution_s"] = time.perf_counter() - t_enter
        self.records.append(rec)
        status = "ok" if rec["ok"] else f"FAILED {rec.get('error')}"
        print(f"# pass {pass_no}{' traced' if traced else ''} {name}: "
              f"{rec.get('wall_s', float('nan')):.3f}s {status}",
              file=sys.stderr, flush=True)
        return rec

    def _bookkeeping(self, rec: dict, df, group: str, t_start: float) -> None:
        """Read back what Spark recorded about the execution: Catalyst
        phases, jobs, the executed plan and the files written."""
        from tracing import plan_counters

        tr = self.tracer
        root, build, collect = rec["spans"]
        rec["root_span"] = root
        attrs = {k: tr.spans[root][k] for k in ("query_name", "pass", "execution")}
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        # DataFrame ops are analyzed eagerly, inside build; optimization
        # and planning run inside collect
        for phase, parent in (("analysis", build), ("optimization", collect),
                              ("planning", collect)):
            opt = phases.get(phase)
            rec[f"catalyst.{phase}_ms"] = 0
            if opt.isDefined():
                p = opt.get()
                rec[f"catalyst.{phase}_ms"] = p.durationMs()
                tr.add(f"catalyst.{phase}", p.startTimeMs() / 1e3,
                       p.endTimeMs() / 1e3, parent, **attrs)

        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        writes = [s["id"] for s in tr.spans[root:] if s["name"] == "sources.write"]
        jobs = stages = tasks = 0
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(job_id)
            jobs += 1
            stages += job.stageIds().size() - job.numSkippedStages()
            tasks += job.numCompletedTasks()
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                t0, t1 = sub.get().getTime() / 1e3, end.get().getTime() / 1e3
                parent = tr.innermost_containing(t0, [root, build, collect, *writes])
                tr.add("exec.job", t0, t1, parent, job_id=job_id, **attrs)
        rec.update({"exec.jobs": jobs, "exec.stages": stages, "exec.tasks": tasks})
        rec["sources.write_s"] = sum(tr.spans[w]["end"] - tr.spans[w]["start"]
                                     for w in writes)
        rec["sources.bytes_written"], rec["sources.files_written"] = written_since(
            self.eng.sf_dir, t_start)
        rec.update(plan_counters(self.sc._jvm, qe.executedPlan()))


def written_since(sf_dir: str, t_start: float) -> tuple[int, int]:
    """(bytes, files) of data files under the package's sources scratch
    dir (``sources.scratch_dir``) modified since ``t_start``."""
    from datafusion_comet_spark.sources import scratch_dir

    nbytes = nfiles = 0
    for dirpath, _dirs, files in os.walk(scratch_dir(sf_dir, "")):
        for f in files:
            if f.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(dirpath, f))
            if st.st_mtime >= t_start:
                nbytes += st.st_size
                nfiles += 1
    return nbytes, nfiles


# -- the run ---------------------------------------------------------------

def setup_engine(sf_dir: str, tracer):
    """Construct the Engine once, in this fresh process; returns it, the
    construction time and, when traced, its component times from spans
    around the calls Engine makes."""
    from datafusion_comet_spark import api
    from tracing import call_spans

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    layers = {"get_session": "session.get_session", "load_tables": "catalog.load_tables",
              "load_all": "queries.load_all"}
    t0 = time.perf_counter()
    with tracer.span("setup"), call_spans(tracer, api, layers):
        eng = api.Engine(sf_dir, app_name="perfbench", extra_conf=conf)
    setup_s = time.perf_counter() - t0
    parts = {f"{s['name']}_s": s["end"] - s["start"] for s in tracer.spans}
    return eng, setup_s, parts


def warm_passes(workload: str, seconds: float, traced: bool) -> int:
    return max(MIN_WARM_PASSES[traced], int(seconds // WARM_PASS_S[workload]))


def run(workload: str, sf_dir: str, seed: int, seconds: float, traced: bool) -> dict:
    from tracing import Tracer

    names = WORKLOADS[workload][1]
    tracer = Tracer(enabled=traced)
    eng, setup_s, setup_parts = setup_engine(sf_dir, tracer)
    runner = Runner(eng, result_checks(eng, names), tracer)
    for name in names:
        if name in WARM_BY_DESIGN:
            print(f"# warm by design: {name}: {WARM_BY_DESIGN[name]}", file=sys.stderr)
    for name in names:
        runner.execute(name, 0, traced)
    # warm: whole passes in seeded order, so every query is sampled
    # equally often; how many is fixed by --seconds, not by the clock
    rng = random.Random(seed)
    n_passes = warm_passes(workload, seconds, traced)
    pass_s = []
    for pass_no in range(1, n_passes + 1):
        t0 = time.perf_counter()
        for name in rng.sample(names, len(names)):
            runner.execute(name, pass_no, traced and pass_no % 2 == 1)
        pass_s.append(time.perf_counter() - t0)
    warm_elapsed = sum(pass_s)
    rss_kb = vm_hwm_kb("self") + vm_hwm_kb(
        eng.spark._jvm.java.lang.ProcessHandle.current().pid())

    recs = runner.records
    cold = [r["wall_s"] for r in recs if r["pass"] == 0 and r["ok"]]
    warm_recs = [r for r in recs if r["pass"] > 0]
    warm = [r["wall_s"] for r in warm_recs if r["ok"]]
    failed = sum(not r["ok"] for r in recs)
    dirty = sum(r["cache_entries"] > 0 for r in recs)
    tail_v, tail_p, tail_n = tail(warm) if warm else (0.0, 0.0, 0)
    # a query's warm latency is the median of its warm executions
    by_query: dict[str, list[float]] = {}
    for r in warm_recs:
        if r["ok"]:
            by_query.setdefault(r["query"], []).append(r["wall_s"])
    warm_medians = [statistics.median(xs) for xs in by_query.values()]
    e2e = {
        "setup_s": setup_s,
        "cold_geomean_s": statistics.geometric_mean(cold) if cold else 0.0,
        "warm_geomean_s": statistics.geometric_mean(warm_medians) if warm_medians else 0.0,
    }
    peak_rss_mb = rss_kb / 1024.0
    print(f"workload {workload}: {len(names)} queries, seed {seed}, "
          f"{n_passes} warm passes in {warm_elapsed:.1f} s, "
          f"{len(recs)} executions")
    for k, v in e2e.items():
        print(f"{k} {v:.6g} {END_TO_END_UNITS[k]}")
    print(f"cold_p50_s {statistics.median(cold) if cold else 0.0:.6g} s")
    print(f"warm_p50_s {statistics.median(warm) if warm else 0.0:.6g} s")
    print(f"warm_tail_s {tail_v:.6g} s  (p{tail_p:.1f} of n={tail_n} warm samples)")
    print(f"queries_per_s {len(warm) / warm_elapsed:.6g} 1/s  (completed warm executions)")
    print(f"error_rate {failed / len(recs):.6g} 1  ({failed} of {len(recs)})")
    print(f"peak_rss_mb {peak_rss_mb:.6g} MB  (this process plus its JVM)")
    print(f"cache.entries_at_start > 0 on {dirty} executions")

    result = {"correct": failed == 0 and dirty == 0, "attempted": len(recs),
              "failed": failed}
    if not traced:
        result["metrics"] = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                             for k, v in e2e.items()}
        return result
    layer = per_layer(runner, setup_s, setup_parts, peak_rss_mb)
    os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
    path = os.path.join(WORK, "spans", f"{workload}-seed{seed}.jsonl")
    runner.tracer.write_jsonl(path)
    print(f"spans written to {os.path.relpath(path, ROOT)}")
    for k, (v, unit) in layer.items():
        print(f"{k} {v:.6g} {unit}")
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    return result


# per-layer metric -> unit; all but the setup components and
# cache.entries_at_start are means per traced warm execution
PER_LAYER_UNITS = {
    "setup.total_s": "s", "session.get_session_s": "s", "catalog.load_tables_s": "s",
    "queries.load_all_s": "s",
    "queries.build_s": "s", "queries.py4j_calls": "count", "queries.build_share": "ratio",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.collect_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count",
    "exec.scans": "count", "exec.scan_rows": "count", "exec.scan_bytes": "bytes",
    "exec.scan_time_ms": "ms", "exec.shuffles": "count", "exec.shuffle_bytes": "bytes",
    "exec.shuffle_records": "count", "exec.broadcast_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.reused_exchanges": "count",
    "cache.entries_at_start": "count", "cache.inmemory_scans": "count",
    "sources.write_s": "s", "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "self.query_s": "s", "self.queries_s": "s", "self.catalyst_s": "s",
    "self.exec_s": "s", "self.sources_s": "s",
    "trace.query_wall_s": "s", "trace.accounted_share": "ratio",
    "trace.overhead_s": "s", "mem.peak_rss_mb": "MB",
}

_MEANS = (
    "queries.py4j_calls", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.scans", "exec.scan_rows", "exec.scan_bytes", "exec.scan_time_ms",
    "exec.shuffles", "exec.shuffle_bytes", "exec.shuffle_records",
    "exec.broadcast_bytes", "exec.spill_bytes", "exec.reused_exchanges",
    "cache.inmemory_scans", "sources.write_s", "sources.bytes_written",
    "sources.files_written",
)


def per_layer(runner: Runner, setup_s: float, setup_parts: dict,
              peak_rss_mb: float) -> dict[str, tuple[float, str]]:
    """Per-layer metrics.  The setup components are those of this run's
    one construction, ``cache.entries_at_start`` is the maximum over all
    executions, and the rest are means per successful traced warm
    execution.  ``trace.accounted_share`` is the named layers' self time
    (queries, catalyst, exec, sources) over query wall time, and
    ``trace.overhead_s`` the mean traced minus the mean untraced
    execution time, matched by query."""
    out: dict[str, float] = {"setup.total_s": setup_s, "mem.peak_rss_mb": peak_rss_mb}
    for k in ("session.get_session_s", "catalog.load_tables_s", "queries.load_all_s"):
        out[k] = setup_parts.get(k, 0.0)
    warm = [r for r in runner.records if r["pass"] > 0 and r["ok"]]
    ok = [r for r in warm if r["traced"]]
    n = len(ok) or 1
    build = sum(r["build_s"] for r in ok) / n
    collect = sum(r["collect_s"] for r in ok) / n
    out["queries.build_s"] = build
    out["queries.build_share"] = build / (build + collect) if build + collect else 0.0
    out["exec.collect_s"] = collect
    for k in _MEANS:
        out[k] = sum(r.get(k, 0) for r in ok) / n
    out["cache.entries_at_start"] = max(r["cache_entries"] for r in runner.records)
    selfs = runner.tracer.self_times([r["root_span"] for r in ok])
    for layer, secs in selfs.items():
        out[f"self.{layer}_s"] = secs / n
    wall = sum(r["wall_s"] for r in ok) / n
    out["trace.query_wall_s"] = wall
    named = sum(v for layer, v in selfs.items() if layer != "query") / n
    out["trace.accounted_share"] = named / wall if wall else 0.0
    by_query: dict[str, dict[bool, list[float]]] = {}
    for r in warm:
        by_query.setdefault(r["query"], {True: [], False: []})[r["traced"]].append(
            r["execution_s"])
    diffs = [statistics.mean(t[True]) - statistics.mean(t[False])
             for t in by_query.values() if t[True] and t[False]]
    out["trace.overhead_s"] = statistics.mean(diffs) if diffs else 0.0
    return {k: (out[k], PER_LAYER_UNITS[k]) for k in PER_LAYER_UNITS}


def default_sf_dir(workload: str) -> str:
    """The workload's scale directory beside the package's default data
    directory (``catalog.DEFAULT_SF_DIR``)."""
    from datafusion_comet_spark.catalog import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), WORKLOADS[workload][0])


def prepare_environment() -> None:
    """Pin the engine's parallelism and heap, and keep every file the run
    writes (JVM temp files, Spark local dirs, the sources scratch dir)
    inside perfbench/.work."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)


# -- processes -------------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of every process started under it,
    so that a Python worker left behind by an exited JVM is still ours to
    wait for (Linux only; elsewhere nothing changes)."""
    try:
        import ctypes

        prctl = ctypes.CDLL(None, use_errno=True).prctl
        prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
        prctl.restype = ctypes.c_int
        prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def descendants() -> list[int]:
    """Pids of every process under this one, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), ()):
            out.append(pid)
            todo.append(pid)
    return out


def reap() -> None:
    """Collect the exit status of every child that has ended."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def stop_processes(grace_s: float = 30.0) -> list[int]:
    """Stop Spark and the JVM it runs in, then wait until every process
    started under this one has ended; what is left after ``grace_s`` is
    killed.  Returns the pids that outlived even that."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception as exc:  # the JVM is ended below either way
            print(f"perfbench: SparkContext.stop failed: {exc!r}", file=sys.stderr)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        # the gateway JVM exits when its stdin reaches end of file
        try:
            proc.stdin.close()
        except OSError:
            pass
    deadline, killed = time.monotonic() + grace_s, False
    while True:
        reap()
        left = descendants()
        if not left:
            return []
        if time.monotonic() >= deadline:
            if killed:
                return left
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline, killed = time.monotonic() + 10.0, True
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", help="star-schema directory to run on "
                    "(default: the workload's scale beside the package's default)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "datafusion_comet_spark")):
        print(f"perfbench: datafusion_comet_spark not found under {ROOT}", file=sys.stderr)
        return 2
    prepare_environment()
    sf_dir = args.sf_dir or default_sf_dir(args.workload)
    if not os.path.isdir(sf_dir):
        print(f"perfbench: data directory not found: {sf_dir}", file=sys.stderr)
        return 2
    adopt_orphans()
    # a terminated run still stops the JVM and waits for it
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    try:
        result = run(args.workload, sf_dir, args.seed, args.seconds, bool(args.trace))
    finally:
        left = stop_processes()
    if left:
        print(f"perfbench: processes still running after the run: {left}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
