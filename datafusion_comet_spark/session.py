"""SparkSession factory with scale-aware defaults.

The reference derives per-task memory limits and shuffle behavior from
Spark config (reference: spark/src/main/scala/org/apache/comet/CometExecIterator.scala:293-326,
native shuffle codecs operator.proto:301-306).  In a single-engine
PySpark build that whole subsystem collapses into session
configuration; the settings below are the 100 TB-posture defaults:

- AQE on, as in Spark's defaults (runtime coalesce, skew-join splitting,
  dynamic join demotion)
- broadcast threshold generous enough that dimension tables of a
  TPC-H-ish star schema broadcast instead of shuffling
- shuffle partition count sized from the env (local[32] in tests;
  a 1000-executor cluster would set SPARK_GRAFT_CPUS accordingly and
  AQE coalesces down from there)
- Arrow-based Python interchange (the idiomatic analogue of the
  reference's Arrow FFI boundary)
- session timezone pinned to UTC (reference carries an explicit
  timezone in every temporal expression, expr.proto:374-396)
- each distinct generated (whole-stage codegen) class compiled once per
  driver JVM: a compiled-class cache that holds the working set, and
  class names without the stage id, so one pipeline at two stage
  positions shares a class.  The cache size is a static conf: a session
  this module did not launch (``Engine(spark=...)``, another program's
  own builder) keeps Spark's 100-entry cache.  The reference precompiles its kernels
  and generates no code per query.

Setup: the driver JVM's class-data-sharing (AppCDS) archive.  Launching
the driver JVM and loading Spark's classes is most of the time before
the first query.  ``get_session`` therefore gives the driver JVM a
dynamic AppCDS archive through ``spark.driver.extraJavaOptions``:

- The archive lives in a user-private cache directory,
  ``$XDG_CACHE_HOME/spark-graft/cds/`` (``~/.cache/spark-graft/cds/``
  when ``XDG_CACHE_HOME`` is unset), one file per JDK (``java.home``
  and its ``release`` file), Spark version, jar listing (names, sizes,
  mtimes), driver heap size and caller ``extraJavaOptions``.  The
  directories are created with mode 0700; when one is not owned by the
  current user, or group or others can write to it, CDS is skipped,
  because the JVM trusts the classes it maps from an archive.
- The first session for a key dumps the archive with
  ``-XX:ArchiveClassesAtExit`` to a unique temp name (about 160 MB; that
  session starts a few seconds slower, as the JVM records what it
  loads, and takes about 12 s longer to exit on a 4-core box).  An
  ``atexit`` hook stops Spark, closes the gateway's stdin, waits for the
  JVM to exit and only then moves the file into place with
  ``os.replace``, and only if the JVM wrote its header, which it writes
  last: a truncated archive crashes the JVM that maps it, so no reader
  may see a partial file.  Later sessions map it with ``-XX:SharedArchiveFile``.  A JVM
  that cannot use the archive (a changed class path, say) runs without
  it; CDS logging is switched off so that its warning does not reach
  stdout.
- The JVM refuses to dump while its class path holds a non-empty
  directory, and Spark puts its conf directory there.  So CDS is used
  only when ``SPARK_CONF_DIR`` is unset, ``$SPARK_HOME/conf`` holds only
  ``*.template`` files and nothing else extends the class path; the
  launch then points ``SPARK_CONF_DIR`` at an empty directory in the
  cache.  Otherwise nothing changes.
- To drop the archive, delete ``~/.cache/spark-graft/cds``; the next
  session dumps a new one.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import secrets
import shlex
import shutil
import stat
import subprocess
from dataclasses import dataclass

from pyspark.sql import SparkSession

# The static broadcast budget: autoBroadcastJoinThreshold, the
# on-disk gate of the size-gated hints (queries/_shared._dim_hint) and
# the small/large plan-regime split (testing.scale_regime).
BROADCAST_THRESHOLD_BYTES = 32 << 20

DEFAULT_CONF: dict[str, str] = {
    # --- adaptive execution: the scale story -------------------------------
    # Let AQE re-optimize (coalesce/skew-split) INSIDE persisted plans.
    # Default false pins a cached aggregate's shuffle output at the full
    # spark.sql.shuffle.partitions count, so every consumer stage of a
    # persist()-based query (tpcds_return_ratio_rank's cand,
    # text_bm25_multiquery's tf) runs |partitions| near-empty tasks of
    # pure scheduling overhead.  True sizes cached partitions from bytes
    # (advisoryPartitionSizeInBytes) — 1 task at sf0.1, advisory-sized
    # at 100 TB.  Measured (dev/cached_coalesce_ab.json, interleaved
    # min-of-9 warm / min-of-3 cold per arm, identical rows):
    # return_ratio_rank warm 0.951→0.660 s, cold 1.30→0.906 s;
    # bm25_multiquery warm 0.936→0.628 s, cold 1.25→1.013 s.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Prefer hash join when a side is small post-AQE; mirrors the
    # reference's biggest tuned win (replaceSortMergeJoin, BASELINE.md).
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    "spark.sql.autoBroadcastJoinThreshold": f"{BROADCAST_THRESHOLD_BYTES >> 20}m",
    # --- scan / pushdown ---------------------------------------------------
    "spark.sql.parquet.aggregatePushdown": "true",
    # --- python interchange ------------------------------------------------
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # --- semantics ---------------------------------------------------------
    "spark.sql.session.timeZone": "UTC",
    # Parquet INT64(TIMESTAMP_NANOS) columns (events.ts) are unreadable as
    # TimestampType in Spark; read them as raw nanosecond longs and let the
    # catalog normalize to microsecond timestamps (catalog.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # --- plan construction -------------------------------------------------
    # PySpark wraps every Column and functions call in _with_origin,
    # which with debugging on costs ~5 extra py4j round trips per call
    # (active-session lookup, origin object, conf read, set, clear) to
    # record the Python call site for DataFrame error contexts — the
    # dominant share of build time (q1_pricing_summary 668 -> 188 py4j
    # commands per build).  The cost of turning it off: an analysis or
    # runtime error's query context no longer names the Python line.
    # PySpark reads this once per process at the first Column call, so
    # it must be set before any query is built; to get call sites back,
    # start the session with
    # extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # --- generated code ----------------------------------------------------
    # Static: it takes effect only in a JVM this module launches.
    # Spark keeps compiled whole-stage classes in an LRU of 100, keyed by
    # the generated source.  One pass over the 18 TPC-H bench queries
    # needs about 210 classes and the 4 pipeline queries about 110, so
    # every warm pass evicted and recompiled nearly all of them (243
    # Janino compiles per tpch pass at sf0.01, 530 per pass over the 29
    # bench queries).  4096 holds the 440 classes of the 29 bench queries
    # and the ~3000 a whole-registry test run compiles; that run ends
    # with ~20 MB more Metaspace in use (SCALE.md "Generated-code cache").
    "spark.sql.codegen.cache.maxEntries": "4096",
    # A session conf.  With the stage id in the class name, one pipeline
    # generates a new source (and a new compile) at every stage position
    # it occupies; without it they share one class (cold tpch pass
    # 256 -> 212 compiles, cold pass over the 29 bench queries 534 -> 440).
    "spark.sql.codegen.useIdInClassName": "false",
    # --- misc --------------------------------------------------------------
    "spark.ui.enabled": "false",
}


# Environment variables that put a directory or jar on the driver's class
# path, or hand spark-submit its own arguments: with any of them set, the
# class path is not the one an archive can be keyed by and dumped with.
_CLASS_PATH_ENV = (
    "SPARK_CONF_DIR",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES",
    "SPARK_TESTING",
    "PYSPARK_SUBMIT_ARGS",
)
# JVM options a caller could pass that decide class data sharing itself
_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
# first bytes of a dynamic CDS archive (magic 0xf00baba8, little-endian).
# The JVM writes the header last, after every region, so a file that
# starts with it is complete.
_DYNAMIC_ARCHIVE_MAGIC = bytes.fromhex("a8ab0bf0")
# how long the exit hook waits for the dumping JVM
_DUMP_WAIT_S = 120.0


@dataclass(frozen=True)
class CdsPlan:
    """How one driver JVM launch uses the class-data-sharing archive."""

    java_options: str  # the whole spark.driver.extraJavaOptions value
    conf_dir: str  # the empty directory SPARK_CONF_DIR points at
    archive: str  # the published archive; only os.replace writes it
    dump_to: str | None  # temp file this JVM dumps to, when none is published


def cds_cache_dir(environ=os.environ) -> str | None:
    """``$XDG_CACHE_HOME/spark-graft/cds``, else ``~/.cache/...``."""
    root = environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(root):
        home = os.path.expanduser("~")
        if not os.path.isabs(home):
            return None
        root = os.path.join(home, ".cache")
    return os.path.join(root, "spark-graft", "cds")


def _private_dir(path: str) -> bool:
    """Create ``path`` with mode 0700 if missing; True when it is a
    directory owned by this user that group and others cannot write."""
    try:
        os.makedirs(path, mode=0o700, exist_ok=True)
        st = os.stat(path)
    except OSError:
        return False
    return (
        stat.S_ISDIR(st.st_mode)
        and st.st_uid == os.getuid()
        and not st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)
    )


def _cds_key(spark_home: str, java_home: str, conf: dict[str, str]) -> str:
    """What decides whether an archive fits a launch: the JDK, the Spark
    jars and the heap size (above about 32 GB the JVM turns compressed
    object pointers off and rejects an archive dumped with them on)."""
    import pyspark

    h = hashlib.sha256()
    h.update(os.path.realpath(java_home).encode() + b"\0")
    with open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    h.update(pyspark.__version__.encode() + b"\0")
    jars = os.path.join(spark_home, "jars")
    for entry in sorted(os.scandir(jars), key=lambda e: e.name):
        st = entry.stat()
        h.update(f"{entry.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    for key in ("spark.driver.memory", "spark.driver.extraJavaOptions"):
        h.update(f"{key}={conf.get(key, '')}\n".encode())
    return h.hexdigest()[:32]


def _remove_orphan_dumps(cache_dir: str) -> None:
    """Delete the temp dumps of processes that died before publishing."""
    for entry in os.scandir(cache_dir):
        if not entry.name.endswith(".tmp"):
            continue
        pid = entry.name.rsplit(".", 2)[-2].split("-")[0]
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            with contextlib.suppress(FileNotFoundError):
                os.remove(entry.path)
        except (ValueError, PermissionError):
            pass


def cds_plan(
    cache_dir: str | None,
    spark_home: str,
    java_home: str | None,
    conf: dict[str, str],
    environ=os.environ,
) -> CdsPlan | None:
    """The CDS options for a driver JVM launched with ``conf``, or None
    when CDS must be skipped (see the module docstring).  Creates the
    cache directories; writes nothing else and changes no environment."""
    caller_opts = conf.get("spark.driver.extraJavaOptions", "")
    if (
        cache_dir is None
        or java_home is None
        or any(environ.get(k) for k in _CLASS_PATH_ENV)
        or "spark.driver.extraClassPath" in conf
        or any(flag in caller_opts for flag in _CDS_FLAGS)
    ):
        return None
    spark_conf = os.path.join(spark_home, "conf")
    conf_dir = os.path.join(cache_dir, "conf")
    try:
        if os.path.isdir(spark_conf) and any(
            not f.endswith(".template") for f in os.listdir(spark_conf)
        ):
            return None
        if not all(map(_private_dir, (os.path.dirname(cache_dir), cache_dir, conf_dir))):
            return None
        if os.listdir(conf_dir):
            return None
        archive = os.path.join(cache_dir, f"driver-{_cds_key(spark_home, java_home, conf)}.jsa")
        if os.path.isfile(archive):
            dump_to, opt = None, f"-XX:SharedArchiveFile={archive}"
        else:
            _remove_orphan_dumps(cache_dir)
            dump_to = f"{archive}.{os.getpid()}-{secrets.token_hex(4)}.tmp"
            opt = f"-XX:ArchiveClassesAtExit={dump_to}"
    except OSError:
        return None
    # CDS warnings (a rejected archive, say) go to stdout by default
    java_options = " ".join(filter(None, (caller_opts, shlex.quote(opt), "-Xlog:cds*=off")))
    return CdsPlan(java_options, conf_dir, archive, dump_to)


def _java_home(environ=os.environ) -> str | None:
    """The JDK spark-submit launches: ``$JAVA_HOME``, else the one of
    the ``java`` on the path."""
    if environ.get("JAVA_HOME"):
        return environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def publish_archive(proc, dump_to: str, archive: str, stop_spark) -> bool:
    """Publish the archive the exiting driver JVM ``proc`` dumps to
    ``dump_to``: stop Spark, close the gateway's stdin (the JVM exits at
    its end of file and dumps on the way out), wait for the exit, and
    only then ``os.replace`` the dump onto ``archive`` if it is complete.
    The temp file is removed on every other path.  Returns whether the
    archive was published."""
    try:
        try:
            stop_spark()
        except Exception:  # the JVM is ended below either way
            pass
        with contextlib.suppress(OSError):
            proc.stdin.close()
        proc.wait(timeout=_DUMP_WAIT_S)
        with open(dump_to, "rb") as f:
            complete = f.read(len(_DYNAMIC_ARCHIVE_MAGIC)) == _DYNAMIC_ARCHIVE_MAGIC
        if complete:
            os.replace(dump_to, archive)
        return complete
    except (OSError, subprocess.TimeoutExpired):
        return False
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(dump_to)


def _launch_with_cds(builder, conf: dict[str, str]) -> SparkSession:
    """``builder.getOrCreate()``, with the CDS archive when this call
    launches the driver JVM and ``cds_plan`` allows it."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return builder.getOrCreate()  # the JVM is already running
    plan = cds_plan(cds_cache_dir(), _find_spark_home(), _java_home(), conf)
    if plan is None:
        return builder.getOrCreate()
    builder = builder.config("spark.driver.extraJavaOptions", plan.java_options)
    os.environ["SPARK_CONF_DIR"] = plan.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        del os.environ["SPARK_CONF_DIR"]
    proc = getattr(SparkContext._gateway, "proc", None)
    if plan.dump_to is not None and proc is not None:
        pid = os.getpid()

        def at_exit() -> None:
            if os.getpid() == pid:  # not in a forked child
                publish_archive(proc, plan.dump_to, plan.archive, _stop_active_context)
        atexit.register(at_exit)
    return spark


def _stop_active_context() -> None:
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()


@contextlib.contextmanager
def conf_override(spark: SparkSession, settings: dict[str, str]):
    """Set session confs for the body; on exit, exception included,
    restore each key's earlier value, or unset it if it was unset.
    The package's one scoped conf change."""
    saved = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def session_conf(extra_conf: dict[str, str] | None = None) -> dict[str, str]:
    """The conf ``get_session`` launches with: the defaults, sized from
    the env, then ``extra_conf``."""
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(default_parallelism())
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    conf.setdefault("spark.driver.memory", driver_mem)
    if extra_conf:
        conf.update(extra_conf)
    return conf


def get_session(
    app_name: str = "datafusion-comet-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` which is the
    test/bench environment; on a real cluster the caller passes the
    cluster master (or runs under spark-submit and this just picks up
    the existing session).
    """
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{default_parallelism()}]"
    )
    conf = session_conf(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = _launch_with_cds(builder, conf)
    spark.sparkContext.setLogLevel("WARN")
    return spark
