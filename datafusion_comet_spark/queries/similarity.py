"""Similarity search over embedding vectors (array<float> column).

North-star operators (BASELINE.json): brute-force cosine top-k as the
exact baseline, plus an LSH-bucketed variant as the 100 TB scale path
(bucket join instead of full cross product).  Dot products run as JVM
array expressions (zip_with + aggregate) — no Python in the hot path;
queries are broadcast so the scan side streams.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table, table_facts
from . import register
from ._shared import _sort_one_task, _spread_scan, _t
from ._values_oracles import VALUES_ORACLES


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings scan with the footer-gated scan-starvation rebalance
    (_shared._spread_scan): the per-row assignment/signature arithmetic
    of the ANN family (8×64-dim nearest-centroid, hyperplane signs,
    int8 quantization) dominates these pipelines, and a few-row-group
    layout pins it to that many tasks while the rebalance exchange
    ships only ~0.5 KB/row.  Measured min-of-8 interleaved at sf0.1:
    ann_ivf_kmeans 0.94→0.87 s, ann_bruteforce_topk 0.45→0.39 s.
    No-op wherever footer row groups >= cores (every 100 TB layout).
    Used only by the full-corpus per-row-heavy queries; bounded or
    stats-only embedding queries read the raw scan."""
    return _spread_scan(
        load_table(spark, sf_dir, "embeddings"), sf_dir, "embeddings"
    )


def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    """Σ aᵢ·bᵢ as a JVM fold — deterministic left-to-right order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# Embedding width of the testdata/scaledata corpora (TESTDATA.md); a
# production deployment derives it from the table schema once at plan
# time — it only parameterizes expression GENERATION, not execution.
EMB_DIM = 64


def dot_unrolled(a, b) -> Column:
    """Σ aᵢ·bᵢ unrolled to straight-line codegen arithmetic.

    Round-11 finding: the zip_with+aggregate fold spelling is
    CodegenFallback — evaluated by the interpreted expression walker
    even inside a WholeStageCodegen stage — and its per-pair cost is
    NOT steady-state-stable in a shared JVM: measured ~12-35 µs/pair
    in a fresh session degrading ~10-20x (to ~0.3-0.7 ms/pair) after
    other lambda shapes pass through the same ZipWith/ArrayAggregate
    eval call sites (megamorphic inline caches; jstack-confirmed, no
    CodeCache-full warnings — dev/dupskew_r11/embcos_ab.json shows
    5.7 s -> 70-83 s across iterations of ONE unchanged plan).  On a
    long-lived 1000-executor cluster every executor reaches that
    polluted steady state, so quadratic pair-join paths must not
    carry interpreted folds.  The unrolled form is pure GetArrayItem
    + multiply + add — codegen end to end — with the SAME
    left-associated accumulation order as the fold, so doubles are
    bit-identical and oracle hashes unchanged.  Requires fixed-width
    arrays: getItem past the end yields NULL and would poison the
    sum (the fold tolerates ragged arrays; callers on variable-width
    data must keep `dot`)."""
    acc: Column = F.lit(0.0)
    for i in range(EMB_DIM):
        acc = acc + a.getItem(i) * b.getItem(i)
    return acc


def l2_norm(a) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def l2_norm_unrolled(a) -> Column:
    """|a| unrolled to straight-line codegen arithmetic — same
    left-associated 0.0 + a₀² + a₁² + ... fold order as ``l2_norm``'s
    transform+aggregate spelling, so doubles are bit-identical (see
    dot_unrolled for why: the HOF fold is CodegenFallback and its
    interpreted eval sites degrade megamorphically in shared JVMs).
    Fixed-width arrays only."""
    acc: Column = F.lit(0.0)
    for i in range(EMB_DIM):
        acc = acc + a.getItem(i) * a.getItem(i)
    return F.sqrt(acc)


def cosine(a, b) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_unrolled(a, b) -> Column:
    """cosine(a, b) as pure codegen arithmetic: unrolled dot and norms
    with the exact fold orders of the HOF spellings — bit-identical
    doubles, no interpreted ZipWith/ArrayAggregate in the per-pair hot
    path (round-11 finding, see dot_unrolled).  Callers that can hoist
    the norms per ROW should do that instead and divide by the product;
    this form is for bounded-row reranks where hoisting buys nothing."""
    return dot_unrolled(a, b) / (l2_norm_unrolled(a) * l2_norm_unrolled(b))


# --- scale gate for the pair-arithmetic SPELLING (round 11) ---------------
#
# Two measured regimes for Σ aᵢ·bᵢ-shaped per-pair arithmetic:
#
# * SMALL corpus (the sf0.1 bench: 5k vectors, ≤15k pairs): each
#   unrolled 64-term tree adds ~0.6 s of FIXED per-execution plan cost
#   (analysis + optimizer + codegen-source walks of ~200 extra nodes —
#   the round-9 `_nearest` lesson), while the interpreted fold's
#   per-pair cost is µs-scale.  Interleaved min-of-6 at sf0.1
#   (bruteforce shape): fold 0.566 s vs any-unrolled-arm 1.1-1.6 s.
# * LARGE corpus (≥ ~1M pairs): the fold runs interpreted
#   (CodegenFallback) and its ZipWith/ArrayAggregate eval sites degrade
#   megamorphically in long-lived JVMs — measured ~12-35 µs/pair fresh
#   to 0.3-0.7 ms/pair polluted (dev/dupskew_r11/embcos_ab.json:
#   5.7 s → 70-83 s for ONE unchanged plan), which dwarfs any plan
#   cost.  dedup_embedding_cosine ships the unrolled form
#   unconditionally for exactly this reason (its pair count scales
#   with the corpus even at test SF).
#
# Both spellings share the exact left-associated fold order, so the
# doubles — and every oracle hash — are bit-identical; the gate only
# picks WHICH code shape computes them.  Keyed on the footer row count
# (zero data passes), not bytes: the crossover tracks pair volume.
_UNROLL_MIN_ROWS = 100_000


def _unroll_pairs(sf_dir: str, table: str) -> bool:
    return table_facts(sf_dir, table).rows >= _UNROLL_MIN_ROWS


def pair_dot(sf_dir: str):
    """Σ aᵢ·bᵢ for per-PAIR hot paths over the embeddings: interpreted
    fold below the scale gate (cheap plans win at bench scale), unrolled
    codegen above it (megamorphic-safe at corpus scale).
    Value-identical either way."""
    return dot_unrolled if _unroll_pairs(sf_dir, "embeddings") else dot


def row_norm(sf_dir: str):
    """|a| for per-ROW norm hoists, same gate as pair_dot."""
    return l2_norm_unrolled if _unroll_pairs(sf_dir, "embeddings") else l2_norm


def pair_cosine(sf_dir: str):
    """cosine(a, b) for per-pair reranks, same gate as pair_dot."""
    return cosine_unrolled if _unroll_pairs(sf_dir, "embeddings") else cosine


@register(
    "ann_bruteforce_topk",
    oracle="""
SELECT qid, vec_id, sim, rn
FROM (
  SELECT q.vec_id AS qid, c.vec_id AS vec_id,
         round(list_cosine_similarity(q.emb, c.emb), 6) AS sim,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id
         ) AS rn
  FROM (SELECT vec_id, embedding::DOUBLE[] AS emb
        FROM embeddings WHERE vec_id < 3) q
  CROSS JOIN (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) c
  WHERE q.vec_id <> c.vec_id
) t
WHERE rn <= 5
ORDER BY qid, rn
""",
    tags=("similarity", "ann", "bench"),
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 per query vector: broadcast the (small) query
    set against the candidate scan, rank per query.  At 100 TB the
    candidate side stays partition-local (no shuffle until the final
    per-query top-k, which AQE-coalesces to tiny)."""
    # Materialize the L2 norm per row BELOW the join: cosine(a,b) =
    # dot/(|a|·|b|), and the norm folds are interpreted lambdas — computed
    # per pair they dominate; per row they are O(n) not O(n·q).
    emb = (
        _emb(spark, sf_dir)
        .select("vec_id", _as_double("embedding").alias("emb"))
        .select(
            "vec_id", "emb", row_norm(sf_dir)(F.col("emb")).alias("nrm")
        )
    )
    queries = emb.filter("vec_id < 3").selectExpr(
        "vec_id AS qid", "emb AS q_emb", "nrm AS q_nrm"
    )
    scored = (
        emb.join(F.broadcast(queries), F.expr("vec_id != qid"))
        .select(
            "qid",
            "vec_id",
            (
                pair_dot(sf_dir)(F.col("q_emb"), F.col("emb"))
                / (F.col("nrm") * F.col("q_nrm"))
            ).alias("sim_raw"),
        )
    )
    return (
        scored.selectExpr(
            "qid",
            "vec_id",
            "round(sim_raw, 6) AS sim",
            "row_number() OVER (PARTITION BY qid ORDER BY sim_raw DESC, vec_id)"
            " AS rn",
        )
        .filter("rn <= 5")
        .transform(_sort_one_task, "qid", "rn")
    )


@register(
    "embedding_norm_stats",
    oracle="""
SELECT label,
       count(*) AS n,
       round(CAST(avg(CAST(sqrt(list_sum(list_transform(embedding::DOUBLE[],
                 x -> x * x))) AS DECIMAL(18,9))) AS DOUBLE), 6) AS avg_norm,
       round(max(sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                              x -> x * x)))), 6) AS max_norm,
       CAST(max(len(embedding)) AS INT) AS dim
FROM embeddings
GROUP BY label
ORDER BY label
""",
    tags=("similarity", "stats"),
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics — embedding hygiene checks."""
    emb = _t(spark, sf_dir, "embeddings")
    norm = l2_norm(_as_double(F.col("embedding")))
    return (
        emb.select("label", norm.alias("norm"), F.size("embedding").alias("d"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(F.col("norm").cast("decimal(18,9)")).cast("double"), 6)
            .alias("avg_norm"),
            F.round(F.max("norm"), 6).alias("max_norm"),
            F.max("d").alias("dim"),
        )
        .orderBy("label")
    )


@register(
    "ann_lsh_bucketed",
    # VALUES oracle: independent pure-Python recompute (murmur3 hyperplane
    # signs + sequential-fold cosine, dev/gen_values_oracles.py); pytest
    # additionally validates recall against the brute-force query.
    oracle=VALUES_ORACLES["ann_lsh_bucketed"],
    tags=("similarity", "ann", "lsh"),
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH: 12-bit signature from deterministic
    pseudo-hyperplanes (sign pattern = murmur3(plane, dim)), candidates
    share a bucket, exact cosine re-rank inside the bucket.

    Scale shape: the cross product is replaced by an equi-join on
    ``bucket`` — at 1000 executors this is a plain hash-shuffle join
    whose per-bucket fan-out is 2^-12 of the data."""
    n_planes = 12
    emb = _emb(spark, sf_dir).select(
        "vec_id", "label", _as_double("embedding").alias("emb")
    )

    def plane_dot(v, j: int) -> Column:
        # pseudo-hyperplane: component d is ±1 by the murmur3 bit of (j, d)
        signs = F.transform(
            F.sequence(F.lit(0), F.size(v) - 1),
            lambda d: F.when(
                F.pmod(F.hash(F.concat_ws(":", F.lit(j), d.cast("string"))), F.lit(2))
                == 0,
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)),
        )
        return dot(v, signs)

    sig = sum(
        [
            F.when(plane_dot(F.col("emb"), j) > 0, F.lit(2**j)).otherwise(F.lit(0))
            for j in range(n_planes)
        ],
        F.lit(0),
    )
    # norm per ROW below the bucket join; scale-gated pair-dot spelling
    # (the interpreted-fold-per-pair fix, see pair_dot) — nrm_a·nrm_b is
    # IEEE-commutative with cosine's |a|·|b|, sims bit-identical
    bucketed = emb.select(
        "vec_id",
        "label",
        "emb",
        row_norm(sf_dir)(F.col("emb")).alias("nrm"),
        sig.alias("bucket"),
    )
    left = bucketed.select(
        F.col("vec_id").alias("a"),
        F.col("emb").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        "bucket",
    )
    right = bucketed.select(
        F.col("vec_id").alias("b"),
        F.col("emb").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        "bucket",
    )
    pairs = (
        left.join(right, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.round(
                pair_dot(sf_dir)(F.col("emb_a"), F.col("emb_b"))
                / (F.col("nrm_a") * F.col("nrm_b")),
                6,
            ).alias("sim"),
        )
        .filter(F.col("sim") > 0.2)
    )
    return pairs.orderBy(F.col("sim").desc(), "a", "b").limit(100)


@register(
    "embedding_quantize_int8",
    oracle="""
SELECT vec_id,
       array_to_string(list_transform(embedding::DOUBLE[],
                      x -> CAST(round(greatest(-1.0, least(1.0, x)) * 127)
                                AS INT)), '|') AS q
FROM embeddings
WHERE vec_id < 100
ORDER BY vec_id
""",
    tags=("similarity", "quantize"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of embeddings (clip to [-1,1], scale
    by 127, round) — the storage/bandwidth lever for vector corpora:
    4× smaller than float32 before any indexing.  Element-wise
    transform; partition-local, no shuffle."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    clipped = lambda x: F.greatest(F.lit(-1.0), F.least(F.lit(1.0), x))
    q = F.transform(
        _as_double(F.col("embedding")),
        lambda x: F.round(clipped(x) * 127, 0).cast("int"),
    )
    # serialized at the output boundary (driver-hash safety for
    # array columns); the per-element quantization runs underneath
    q_str = F.array_join(F.transform(q, lambda x: x.cast("string")), "|")
    return emb.select("vec_id", q_str.alias("q")).orderBy("vec_id")


def _sq_dist(vec_col, centroid_col) -> Column:
    """Squared L2 as a sequential JVM fold — deterministic per row."""
    return F.aggregate(
        F.zip_with(vec_col, centroid_col, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _nearest(vec_col, centroids: list[list[float]]) -> Column:
    """0-based nearest-centroid id against LITERAL centroids — pure
    map-side arithmetic (no join, no shuffle; the index fits in the
    plan).  Ties break to the FIRST minimum via array_position, which
    is deterministic.

    Deliberately the compact HOF spelling, NOT an unrolled per-term
    expression: round 9 measured the unrolled k×dim tree (512 nodes at
    k=8, dim=64) making every probe 10× SLOWER — Catalyst analysis,
    AQE re-optimization, and codegen each walk the giant tree per
    stage, dwarfing the HOF's per-row interpretation cost at any
    corpus size where the probe is join-dominated (SCALE.md round-9
    entry).  The per-element lambda cost is linear, distributed, and
    plan-constant — the right trade for corpus-scale assignment."""
    dists = F.transform(
        _centroid_literal(centroids), lambda c: _sq_dist(vec_col, c)
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _centroid_literal(centroids: list[list[float]]) -> Column:
    """The k×dim centroids as ONE array<array<double>> literal, spelled
    as a from_json over a JSON string rather than k×dim F.lit calls in
    nested F.array: each Column call is a py4j round trip (512 of them
    at k=8, dim=64).  ConstantFolding evaluates the from_json to one
    array Literal, so the optimized plan is the same transform([[…]]),
    and json.dumps writes each double's shortest round-trip repr, so
    every value parses back bit-exactly (tests/test_build_budget.py)."""
    return F.from_json(
        F.lit(json.dumps([[float(v) for v in c] for c in centroids])),
        "array<array<double>>",
    )


def _lloyd_grouped(
    df: DataFrame,
    id_col: str,
    gid_col: Column,
    n_groups: int,
    vec_col: str,
    k: int,
    iters: int,
    seed: int,
    init: str = "hash",
    train_max_rows: int | None = None,
    train_total_rows: int | None = None,
) -> dict[int, list[list[float]]]:
    """DETERMINISTIC k-means (Lloyd) over ``n_groups`` independent
    vector spaces: ONE distributed pass (the hash-reservoir filter +
    a collect of the bounded training set), then driver-local
    training.

    Why not pyspark.ml KMeans: MLlib's M-step sums float32 partials in
    partition order, so centroids — and therefore cell assignments and
    final ANN answers — change with parallelism, which is exactly what
    made the IVF family unpinnable (rounds 3-6 carried it as
    `oracle=None`).  Rounds 7-8 fixed that with a distributed
    decimal-exact Lloyd; round 9 moved the iteration loop driver-local
    after measuring that at any real size the distributed loop's cost
    was per-JOB overhead, not data (sf1, 20k×64: ~480 s for 17 tiny
    jobs' plan/codegen/schedule cost vs 6 s local — SCALE.md round-9
    entry).  The training set is BOUNDED by construction
    (train_max_rows), so collecting it is the standard sample-train
    design (faiss/sklearn train on a host; Jegou et al. TPAMI 2011) —
    callers with corpus-scale input MUST pass train_max_rows (all
    internal callers do); assignment/search of the full corpus stay
    distributed map-side projections via _nearest.

    The local arithmetic is BIT-IDENTICAL to the pinned rounds-7/8
    distributed spelling (verified value-for-value against captured
    HEAD outputs, tests/test_semantics.py):

    - init: ``"hash"`` takes the k vectors ranked first by
      (xxhash64(id, seed), id) per group — the hash computed by Spark
      in the collect projection, so ordering semantics cannot drift;
      ``"farthest"`` is deterministic farthest-first traversal
      (Gonzalez 1985): hash-min seed, then k-1 argmax-of-min-distance
      picks with smallest-id tie-breaks.  Farthest-first spreads seeds
      — on the near-uniform test embeddings it lifts single-probe IVF
      recall 0.067 → 0.33 at 500 vecs (measured round 7), so the
      COARSE quantizer uses it; the PQ sub-codebooks keep hash init
      (16 codes in a 16-dim subspace is init-robust);
    - E-step: argmin with first-minimum tie-break; squared distances
      use np.add.accumulate — a strict left-to-right float64 fold,
      bit-identical to the pinned 0.0+(v0-c0)²+(v1-c1)²+... expression
      (np.sum's pairwise reduction would differ in low bits and could
      flip argmin ties);
    - M-step: per-(group, cell, dim) means over the EXACT
      decimal(30,15) images of the values (scaled-integer sums —
      Decimal(repr(x)) replicates BigDecimal.valueOf(double), the same
      trick the VALUES-oracle generator uses), divided with HALF_UP at
      scale 15 exactly as Spark's decimal division resolves for this
      operand pair, then one correctly-rounded cast to double;
    - empty cells keep their previous centroid; early-stop when an
      iteration changes nothing.

    Partitioning-invariance is structural: the reservoir filter and
    the seed hash are pure row functions, and everything after the
    collect is single-host.

    Centroids are driver-side by construction — they ARE the index,
    k×dim floats, broadcast back as literals (reference predates any
    vector-search operator; architecture per Jegou et al. TPAMI 2011).
    The trainer keeps no state: every call trains.  The IVF queries
    share one index per session and dataset, trained through _ivf_memo
    by _ivf_index and _pq_codebooks.

    ``train_max_rows`` bounds QUANTIZER TRAINING cost at corpus scale
    (round-7 verdict, What's wrong #2): each Lloyd iteration is a full
    E-step pass over the training set, so a 100 TB corpus would pay
    iters full scans just to fit k×dim floats.  When the mean group
    size exceeds the bound, training runs on a deterministic
    hash-reservoir subset selected by xxhash64(id) mod — map-side,
    partitioning-invariant, NOT df.sample, whose per-partition seeding
    breaks the determinism contract above; assignment/search still
    cover the full corpus.  The filter keeps one GLOBAL fraction,
    train_max_rows*n_groups/total — per-group sizes land near
    train_max_rows only when groups are balanced (true for the PQ
    sub-codebook split, which is a fixed slice of every row).  Under
    group skew a small group is sampled proportionally and can retain
    fewer than k rows; the post-collect group-size guard below raises
    rather than fit a degenerate codebook.  Standard k-means practice (Jegou et al.
    TPAMI 2011 train IVF quantizers on bounded samples).  The
    threshold is far above every gate corpus (500-2000 vecs), so
    pinned VALUES oracles see identical behavior; the sampled path's
    recall cost is measured in SCALE.md (round-8 entry).

    ``train_total_rows`` is the corpus row count that sizes the
    reservoir fraction; it is required with ``train_max_rows``.  Pass
    ``catalog.table_facts(...).rows``: footer metadata, zero data
    passes (round-8 verdict, What's wrong #2).  The fraction only needs
    ~1 significant digit, so any honest estimate is acceptable."""
    base = df.select(
        F.col(id_col).alias("_id"),
        gid_col.cast("int").alias("_g"),
        F.col(vec_col).alias("_v"),
    )
    if train_max_rows is not None and train_total_rows > train_max_rows * n_groups:
        # keep a global train_max_rows*n_groups/train_total_rows
        # fraction (see docstring): hash-mod filter is map-side (no
        # shuffle) and a pure function of the id, so the training set
        # — hence the centroids — is identical under any partitioning
        den = 1_000_000
        num = max(1, (train_max_rows * n_groups * den) // train_total_rows)
        base = base.filter(
            F.pmod(F.xxhash64(F.col("_id"), F.lit(seed ^ 0x5EED)), F.lit(den))
            < F.lit(num)
        )
    # ONE distributed pass: the reservoir filter + a collect of the
    # bounded training set (with the seed-order hash computed by
    # Spark's own xxhash64 so ordering semantics cannot drift).
    # Training then runs driver-local with arithmetic BIT-IDENTICAL to
    # the distributed spelling rounds 7-8 pinned (sequential-fold float
    # distances, decimal(30,15)-exact means) — verified against
    # captured HEAD outputs in tests/test_semantics.py.
    rows = base.select(
        "_g", "_id", "_v",
        F.xxhash64(F.col("_id"), F.lit(seed)).alias("_h"),
    ).collect()

    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal

    groups: dict[int, list] = {g: [] for g in range(n_groups)}
    for r in rows:
        groups[r["_g"]].append((r["_h"], r["_id"], [float(x) for x in r["_v"]]))
    starved = {g: len(m) for g, m in groups.items() if len(m) < k}
    if starved:
        raise ValueError(
            f"k-means training found fewer than k={k} rows per group "
            f"({starved}); group skew starved the train_max_rows "
            "reservoir — raise train_max_rows or balance the groups"
        )
    # seed order = (xxhash64(id, seed), id): identical to the old
    # row_number window ordering
    for g in range(n_groups):
        groups[g].sort(key=lambda t: (t[0], t[1]))
    vecs = {
        g: np.array([t[2] for t in groups[g]], dtype=np.float64)
        for g in range(n_groups)
    }
    ids = {g: np.array([t[1] for t in groups[g]]) for g in range(n_groups)}

    def dists_to(g: int, cs: list[list[float]]) -> "np.ndarray":
        # squared L2 per (row, centroid) with the EXACT fold order of
        # the pinned expression: 0.0 + (v0-c0)^2 + (v1-c1)^2 + ...
        # np.add.accumulate is a strict left-to-right float64 loop
        # (unlike np.sum's pairwise reduction, which would differ in
        # low bits and could flip argmin ties)
        out = np.empty((vecs[g].shape[0], len(cs)))
        for c, cent in enumerate(cs):
            d = vecs[g] - np.asarray(cent, dtype=np.float64)
            out[:, c] = np.add.accumulate(d * d, axis=1)[:, -1]
        return out

    cents: dict[int, list[list[float]]] = {}
    if init == "farthest":
        cents = {g: [list(groups[g][0][2])] for g in range(n_groups)}
        for _ in range(k - 1):
            for g in range(n_groups):
                mind = dists_to(g, cents[g]).min(axis=1)
                # old window: ORDER BY _d DESC, _id ASC — max distance,
                # smallest id among exact float ties
                cand = np.nonzero(mind == mind.max())[0]
                pick = cand[np.argmin(ids[g][cand])]
                cents[g].append(list(vecs[g][pick]))
    else:
        cents = {
            g: [list(t[2]) for t in groups[g][:k]] for g in range(n_groups)
        }

    # exact decimal(30,15) images of every training value, as scaled
    # integers (unscaled value at scale 15): Decimal(repr(x)) is the
    # shortest round-trip repr — the same trick the VALUES-oracle
    # generator uses to replicate BigDecimal.valueOf(double)
    q15 = Decimal(1).scaleb(-15)
    scaled: dict[int, "np.ndarray"] = {}
    for g in range(n_groups):
        ints = [
            [
                int(
                    Decimal(repr(x))
                    .quantize(q15, rounding=ROUND_HALF_UP)
                    .scaleb(15)
                )
                for x in t[2]
            ]
            for t in groups[g]
        ]
        flat_max = max((abs(v) for row in ints for v in row), default=0)
        # int64 partial sums are exact while chunk * max < 2^62;
        # arbitrarily-scaled inputs fall back to Python-int (object)
        # sums, which are exact at any magnitude
        if flat_max < 2**62:
            scaled[g] = np.array(ints, dtype=np.int64)
        else:
            scaled[g] = np.array(ints, dtype=object)

    def exact_mean_scaled(num: int, n: int) -> float:
        # Spark: sum(decimal(30,15)) / count  ->  decimal(_,15) with
        # HALF_UP at scale 15 (allowPrecisionLoss adjustment keeps the
        # scale at 15 for this operand pair), then cast to double.
        # num is the exact integer sum at scale 15.
        q, r = divmod(abs(num), n)
        if 2 * r >= n:
            q += 1
        if num < 0:
            q = -q
        return float(Decimal(q).scaleb(-15))

    for _ in range(iters):
        new = {g: [list(c) for c in cs] for g, cs in cents.items()}
        for g in range(n_groups):
            assign = np.argmin(dists_to(g, cents[g]), axis=1)  # first min
            dim = vecs[g].shape[1]
            for c in range(k):
                members = np.nonzero(assign == c)[0]
                if len(members) == 0:
                    continue  # empty cells keep their previous centroid
                sub = scaled[g][members]
                if sub.dtype == object:
                    sums = [int(s) for s in sub.sum(axis=0)]
                else:
                    mx = int(np.abs(sub).max()) + 1
                    chunk = max(1, (2**62) // mx)
                    sums = [0] * dim
                    for lo in range(0, len(members), chunk):
                        part = sub[lo : lo + chunk].sum(
                            axis=0, dtype=np.int64
                        )
                        for d in range(dim):
                            sums[d] += int(part[d])
                n_m = int(len(members))
                for d in range(dim):
                    new[g][c][d] = exact_mean_scaled(sums[d], n_m)
        if new == cents:
            break
        cents = new
    return cents


# Coarse-quantizer training bound for corpus-scale index builds: far
# above every gate corpus (500-2000 vecs → full-corpus training, so
# VALUES oracles are unaffected), but bounds the per-iteration E-step
# to a fixed-size sample at 100 TB.  Recall cost measured at sf0.01:
# SCALE.md round-8 entry.
COARSE_TRAIN_MAX_ROWS = 100_000

# Product-quantizer shape of ann_ivf_pq_adc: PQ_M subspaces of
# PQ_SUBDIM dims, each with a PQ_CODES-centroid codebook.
PQ_M, PQ_SUBDIM, PQ_CODES = 4, 16, 16

# The IVF family's trained index per (session applicationId, sf_dir):
# the two things that identify its training data.  The builders below
# fix every training parameter, so no caller can pair a key with other
# parameters.  The applicationId keeps a fresh session (the
# partition-independence probe of dev/gen_values_oracles.py) from
# reading another session's index.
_IVF_INDEX: dict[tuple[str, str], dict[str, object]] = {}


def _ivf_memo(spark: SparkSession, sf_dir: str, part: str, train):
    """``train()``'s result for ``part`` of the dataset's index, trained
    once per session.  The result is a pure function of the data, so
    the memo cannot change answers.  Every registry query that reads
    it carries the ``warm_by_design`` tag: its warm executions probe
    the index its first execution built (pinned by
    tests/test_build_budget.py)."""
    index = _IVF_INDEX.setdefault(
        (spark.sparkContext.applicationId, sf_dir), {}
    )
    if part not in index:
        index[part] = train()
    return index[part]


def _ivf_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[list[float]]]:
    """The IVF family's embeddings projection (vec_id, emb) and its
    coarse quantizer: 8 centroids from a farthest-first Lloyd (seed 42,
    10 iterations; see _lloyd_grouped), trained on at most
    COARSE_TRAIN_MAX_ROWS vectors.  The footer row count sizes the
    training reservoir, so sizing costs no data pass (round-8 verdict,
    What's wrong #2)."""
    emb = _emb(spark, sf_dir).select(
        "vec_id", _as_double("embedding").alias("emb")
    )
    coarse = _ivf_memo(spark, sf_dir, "coarse", lambda: _lloyd_grouped(
        emb, "vec_id", F.lit(0), 1, "emb", k=8, iters=10, seed=42,
        init="farthest", train_max_rows=COARSE_TRAIN_MAX_ROWS,
        train_total_rows=table_facts(sf_dir, "embeddings").rows,
    )[0])
    return emb, coarse


def _pq_codebooks(
    spark: SparkSession, sf_dir: str, emb: DataFrame
) -> dict[int, list[list[float]]]:
    """The PQ_M sub-codebooks of ann_ivf_pq_adc, trained in LOCKSTEP as
    one grouped Lloyd over the PQ_SUBDIM-wide slices of ``emb`` (hash
    init, seed 43, 10 iterations), memoized like the coarse quantizer.
    Training is bounded like the coarse quantizer's: the reservoir
    keys on vec_id, so a vector's PQ_M slices are kept or dropped
    TOGETHER and the groups stay perfectly balanced."""

    def train():
        subs = emb.select(
            "vec_id",
            F.posexplode(
                F.array(*[
                    F.slice("emb", m * PQ_SUBDIM + 1, PQ_SUBDIM)
                    for m in range(PQ_M)
                ])
            ).alias("m", "sub"),
        )
        return _lloyd_grouped(
            subs, "vec_id", F.col("m"), PQ_M, "sub", k=PQ_CODES, iters=10,
            seed=43, train_max_rows=COARSE_TRAIN_MAX_ROWS,
            train_total_rows=table_facts(sf_dir, "embeddings").rows * PQ_M,
        )

    return _ivf_memo(spark, sf_dir, "pq", train)


def _cells(sf_dir: str, emb: DataFrame, cents: list[list[float]]) -> DataFrame:
    """(vec_id, emb, nrm, cell): each vector with its norm and its
    coarse cell.  Norm per ROW (O(n)), never per pair: cosine's |a|·|b|
    recomputed inside the cell join costs O(pairs·dim) — and above the
    scale gate those folds run interpreted and degrade megamorphically
    (round-11 finding, see pair_dot).  q_nrm·nrm is IEEE-commutative
    with the original l2_norm(a)·l2_norm(b) product, so sims are
    bit-identical."""
    return emb.select(
        "vec_id",
        "emb",
        row_norm(sf_dir)(F.col("emb")).alias("nrm"),
        _nearest(F.col("emb"), cents).alias("cell"),
    )


@register(
    "ann_ivf_kmeans",
    oracle=VALUES_ORACLES["ann_ivf_kmeans"],
    tags=("similarity", "ann", "ivf", "bench", "warm_by_design"),
)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a k-means coarse quantizer (deterministic
    Lloyd, see _ivf_index) assigns every vector to a
    cell; each query searches ONLY its own cell — the inverted-file
    structure that turns brute-force O(n) per query into O(n/k).

    Scale shape: the index build is one collect of a bounded training
    sample, trained on the driver once per session (centroids are
    k×dim floats, literal-broadcast);
    assignment is pure map-side arithmetic; search is an equi-join on
    cell id.  At 100 TB the cell column is written back to the corpus
    as a partition key so a query touches one partition per probed
    cell.  Round 7: replaced pyspark.ml KMeans — whose float partial
    sums made centroids partition-order-sensitive and this family
    unpinnable — with the decimal-exact Lloyd, making the output
    constant and VALUES-oracle-checked."""
    emb, cents = _ivf_index(spark, sf_dir)
    assigned = _cells(sf_dir, emb, cents)
    queries = assigned.filter("vec_id < 3").selectExpr(
        "vec_id AS qid", "emb AS q_emb", "nrm AS q_nrm", "cell"
    )
    scored = (
        assigned.join(F.broadcast(queries), "cell")
        .filter("vec_id != qid")
        .select(
            "qid",
            "vec_id",
            (
                pair_dot(sf_dir)(F.col("q_emb"), F.col("emb"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("sim_raw"),
        )
    )
    return (
        scored.selectExpr(
            "qid",
            "vec_id",
            "round(sim_raw, 6) AS sim",
            "row_number() OVER (PARTITION BY qid ORDER BY sim_raw DESC, vec_id)"
            " AS rn",
        )
        .filter("rn <= 5")
        .transform(_sort_one_task, "qid", "rn")
    )


@register(
    "ann_ivf_multiprobe",
    oracle=VALUES_ORACLES["ann_ivf_multiprobe"],
    tags=("similarity", "ann", "ivf", "multiprobe", "warm_by_design"),
)
def ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with multi-probe (nProbe=2): each query searches its TWO
    nearest coarse cells instead of one — the standard recall knob for
    inverted-file ANN (recall loss at cell boundaries is the
    single-probe failure mode; probing neighbors recovers most of it
    for 2× the candidate work, still O(n·nProbe/k) not O(n)).

    Index metadata (8 centroids) is driver-side by construction —
    centroids ARE the index, tiny and broadcast; the corpus never
    leaves executors.  Probe selection is a rank-2 window over the
    query×centroid cross (|queries|×k rows); candidate search is the
    same cell equi-join as single-probe, deduplicated by (qid,
    vec_id) before ranking.  Deterministic Lloyd quantizer (round 7,
    see _lloyd_grouped) — same build as ann_ivf_kmeans, so the two
    variants share cells and the probe-count/recall trade is isolated."""
    emb, cents = _ivf_index(spark, sf_dir)
    assigned = _cells(sf_dir, emb, cents)
    centroids = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "cell int, ctr array<double>",
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("q_emb"),
        row_norm(sf_dir)(F.col("emb")).alias("q_nrm"),
    )
    # nProbe=2 nearest centroids per query
    dist2 = _sq_dist(F.col("q_emb"), F.col("ctr"))
    wp = W.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("cell"))
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .select("qid", "q_emb", "q_nrm", "cell", dist2.alias("d2"))
        .select(
            "qid", "q_emb", "q_nrm", "cell",
            F.row_number().over(wp).alias("pr"),
        )
        .filter(F.col("pr") <= 2)
        .select("qid", "q_emb", "q_nrm", "cell")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (
                pair_dot(sf_dir)(F.col("q_emb"), F.col("emb"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("sim_raw"),
        )
        .dropDuplicates(["qid", "vec_id"])
    )
    w = W.partitionBy("qid").orderBy(F.col("sim_raw").desc(), F.col("vec_id"))
    return (
        scored.select(
            "qid",
            "vec_id",
            F.round("sim_raw", 6).alias("sim"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 5)
        .orderBy("qid", "rn")
    )


@register(
    "embedding_centroid_per_label",
    oracle="""
SELECT label, CAST(i AS INT) AS dim,
       round(CAST(avg(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE), 6) AS centroid_val,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM embeddings CROSS JOIN range(1, 9) r(i)
WHERE embedding IS NOT NULL
GROUP BY label, i
ORDER BY label, dim
""",
    tags=("similarity", "embedding", "centroid"),
)
def embedding_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (first 8 dims in long form): the
    distributed vector-mean every clustering / class-prototype /
    IVF-retrain step needs.  posexplode turns (vec, label) into
    (label, dim, value) rows and ONE hash aggregate averages per
    (label, dim) — map-side partials do the heavy summation, the
    shuffle carries |labels|×|dims| partial sums, never vectors.

    The alternative people write first — zip_with/aggregate lambdas
    folding whole arrays per group — runs interpreted and single-
    reducer per label; the explode form is how vector means scale.
    (Spark sums left-to-right per partition, DuckDB per its own scan
    order: float-sum association differs in the last ulps, which the
    6-decimal round absorbs — same convention as every float oracle
    here.)"""
    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).filter(F.col("pos") < 8)
    return (
        exploded.groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            F.round(
                F.avg(F.col("v").cast("double").cast("decimal(18,9)"))
                .cast("double"), 6
            ).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
        .orderBy("label", "dim")
    )


@register(
    "ann_ml_random_projection",
    # VALUES oracle: every emitted distance verified against the
    # independent euclidean distance before pinning
    # (dev/gen_values_oracles.py); recall also pinned in
    # tests/test_semantics.py.
    oracle=VALUES_ORACLES["ann_ml_random_projection"],
    tags=("similarity", "ann", "ml", "lsh"),
)
def ann_ml_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean ANN via pyspark.ml BucketedRandomProjectionLSH — the
    third LSH family in the engine (MinHash≈Jaccard for sets, SimHash
    ≈cosine for text, random-projection≈L2 for embeddings).  Vectors
    hash to ⌊(v·w)/bucketLength⌋ per seeded hyperplane w; the
    similarity self-join probes only colliding buckets and evaluates
    the EXACT euclidean distance on candidates — the same
    candidates-then-exact contract as every LSH operator here.

    Scale shape: bucket hashing is a map-only projection; the join
    shuffles (bucket, vector) rows, so cost scales with collision
    density (bucketLength and numHashTables are the recall/cost
    knobs), never with |pairs|.  Output bounded to the 200 closest
    pairs (TakeOrderedAndProject)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            array_to_vector(_as_double(F.col("embedding"))).alias("features"),
        )
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        numHashTables=6, bucketLength=2.0, seed=42,
    )
    model = lsh.fit(emb)
    pairs = model.approxSimilarityJoin(emb, emb, 4.0, distCol="l2_dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("a"),
            F.col("datasetB.vec_id").alias("b"),
            F.round("l2_dist", 6).alias("l2_dist"),
        )
        .orderBy("l2_dist", "a", "b")
        .limit(200)
    )


@register(
    "ann_quantized_rerank",
    oracle="""
WITH q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS q_emb,
         list_transform(embedding::DOUBLE[],
             x -> CAST(round(greatest(-1.0, least(1.0, x)) * 127) AS INT))
           AS q_q
  FROM embeddings WHERE vec_id < 3
),
c AS (
  SELECT vec_id, embedding::DOUBLE[] AS c_emb,
         list_transform(embedding::DOUBLE[],
             x -> CAST(round(greatest(-1.0, least(1.0, x)) * 127) AS INT))
           AS c_q
  FROM embeddings
),
coarse AS (
  SELECT qid, c.vec_id AS vec_id, q_emb, c_emb,
         row_number() OVER (
           PARTITION BY qid
           ORDER BY list_dot_product(q_q::DOUBLE[], c_q::DOUBLE[]) DESC,
                    c.vec_id) AS crn
  FROM q CROSS JOIN c
  WHERE qid <> c.vec_id
),
rerank AS (
  SELECT qid, vec_id,
         round(list_cosine_similarity(q_emb, c_emb), 6) AS sim,
         row_number() OVER (
           PARTITION BY qid
           ORDER BY list_cosine_similarity(q_emb, c_emb) DESC, vec_id) AS rn
  FROM coarse WHERE crn <= 20
)
SELECT qid, vec_id, sim, rn FROM rerank WHERE rn <= 5 ORDER BY qid, rn
""",
    tags=("similarity", "ann", "quantize", "rerank"),
)
def ann_quantized_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: int8-quantized coarse scan -> exact rerank.

    The production memory-bandwidth lever for vector search at corpus
    scale: stage 1 scores every candidate with an INTEGER dot product
    over int8-quantized vectors (4x less data movement than float32;
    in a real deployment the quantized column is precomputed at write
    time, so the float column is never read in stage 1), keeps the
    top-20 per query; stage 2 computes exact float cosine only on
    those candidates.  Integer coarse scores are order-independent and
    bit-exact on both engines, so the candidate cut is deterministic;
    the same two-stage pipeline runs in the oracle, making the final
    top-5 oracle-matched rather than recall-approximate.  Plan shape:
    broadcast 3 query rows, one corpus scan, WindowGroupLimit prunes
    to 20 per query before any exact-cosine work."""
    quant = lambda arr: F.transform(
        arr,
        lambda x: F.round(
            F.greatest(F.lit(-1.0), F.least(F.lit(1.0), x)) * 127, 0
        ).cast("int"),
    )
    emb = (
        _emb(spark, sf_dir)
        .select("vec_id", _as_double("embedding").alias("c_emb"))
        .select("vec_id", "c_emb", quant(F.col("c_emb")).alias("c_q"))
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        F.col("c_emb").alias("q_emb"),
        F.col("c_q").alias("q_q"),
    )
    # integer dot, scale-gated spelling — the coarse stage runs PER
    # PAIR, so above the gate the zip_with/aggregate fold would be the
    # interpreted-eval hot path (round-11 finding, see pair_dot);
    # integer sums are order-exact, and the unrolled form keeps the
    # fold's exact shape anyway: 0L + (q₀·c₀)L + (q₁·c₁)L + ...
    if _unroll_pairs(sf_dir, "embeddings"):
        int_dot: Column = F.lit(0).cast("long")
        for _i in range(EMB_DIM):
            int_dot = int_dot + (
                F.col("q_q").getItem(_i) * F.col("c_q").getItem(_i)
            ).cast("long")
    else:
        int_dot = F.aggregate(
            F.zip_with(
                F.col("q_q"), F.col("c_q"), lambda x, y: (x * y).cast("long")
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
    wc = W.partitionBy("qid").orderBy(
        F.col("coarse").desc(), F.col("vec_id")
    )
    coarse = (
        emb.join(F.broadcast(queries), F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "q_emb", "c_emb", int_dot.alias("coarse"))
        .withColumn("crn", F.row_number().over(wc))
        .filter(F.col("crn") <= 20)
    )
    sim_raw = pair_cosine(sf_dir)(F.col("q_emb"), F.col("c_emb"))
    wr = W.partitionBy("qid").orderBy(F.col("sim_raw").desc(), F.col("vec_id"))
    return (
        coarse.select("qid", "vec_id", sim_raw.alias("sim_raw"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 5)
        .select("qid", "vec_id", F.round("sim_raw", 6).alias("sim"), "rn")
        .orderBy("qid", "rn")
    )


@register(
    "ann_ivf_pq_adc",
    oracle=VALUES_ORACLES["ann_ivf_pq_adc"],
    tags=("similarity", "ann", "ivf", "pq", "warm_by_design"),
)
def ann_ivf_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with asymmetric distance computation (ADC) — the
    standard architecture for billion-vector ANN (Jegou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011):

      1. coarse quantizer (k-means, k=8) routes each vector to a cell
         — identical to ann_ivf_kmeans;
      2. PRODUCT quantizer: the 64-dim space splits into M=4
         16-dim subspaces, each with its own 16-centroid codebook, so
         a vector compresses to 4 one-byte codes (16x smaller than
         float32 — at 100 TB the codes for 1e9 vectors fit in ~4 GB,
         scannable in memory while the raw vectors stay in object
         storage);
      3. ADC: per query, a lookup table of |M| x 16 partial squared
         distances (query subvector vs every codebook centroid) is
         broadcast; a candidate's approximate distance is the SUM of
         4 table lookups — no float vector is touched during the
         candidate scan;
      4. the ADC top-20 per query is reranked with EXACT cosine on
         the full vectors (the only stage reading float vectors, 20
         rows per query).

    Scale shape: codebooks are driver-tiny (4 x 16 x 16 floats); the
    candidate scan is an equi-join of the unpivoted code table
    against the broadcast LUT restricted to the query's coarse cell,
    then ONE (qid, vec_id) aggregate — never an all-pairs float
    computation.  The recall dial vs ann_ivf_kmeans's full-cell exact
    scan is the ADC candidate width (20 here).  Deterministic Lloyd
    quantizers (round 7): the coarse quantizer is ann_ivf_kmeans's
    own (_ivf_index — the rerank-exactness pin depends on shared
    cells), and the 4 sub-codebooks train in LOCKSTEP as one grouped
    Lloyd (_pq_codebooks), not one fit per book."""
    emb, coarse = _ivf_index(spark, sf_dir)
    books_cents = _pq_codebooks(spark, sf_dir, emb)
    df = emb.select(
        "vec_id",
        "emb",
        _nearest(F.col("emb"), coarse).alias("cell"),
        *[
            _nearest(
                F.slice("emb", m * PQ_SUBDIM + 1, PQ_SUBDIM), books_cents[m]
            ).alias(f"c{m}")
            for m in range(PQ_M)
        ],
    )
    books = [
        (m, code, books_cents[m][code])
        for m in range(PQ_M)
        for code in range(PQ_CODES)
    ]
    codebooks = spark.createDataFrame(
        books, "m int, code int, ctr array<double>"
    )
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("q_emb"), "cell"
    )
    # ADC lookup table: |queries| x PQ_M x PQ_CODES partial squared distances
    qsub = F.slice("q_emb", F.col("m") * PQ_SUBDIM + 1, F.lit(PQ_SUBDIM))
    d2 = _sq_dist(qsub, F.col("ctr"))
    lut = (
        queries.crossJoin(F.broadcast(codebooks))
        .select("qid", "cell", "m", "code", d2.alias("d2"))
    )
    # compressed-domain candidate scan: codes only, no float vectors
    codes_long = df.select(
        "vec_id",
        "cell",
        F.posexplode(F.array(*[f"c{m}" for m in range(PQ_M)])).alias(
            "m", "code"
        ),
    )
    adc = (
        codes_long.join(F.broadcast(lut), ["cell", "m", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("d2").alias("adc_d2"), F.count(F.lit(1)).alias("nm"))
        .filter(F.col("nm") == PQ_M)  # all 4 subspace codes matched a LUT row
    )
    wc = W.partitionBy("qid").orderBy(F.col("adc_d2").asc(), F.col("vec_id"))
    candidates = (
        adc.select("qid", "vec_id", F.row_number().over(wc).alias("crn"))
        .filter(F.col("crn") <= 20)
        .select("qid", "vec_id")
    )
    # exact rerank: the only stage touching float vectors (20/query)
    rer = (
        candidates.join(emb, "vec_id")
        .join(
            F.broadcast(queries.select("qid", "q_emb")), "qid"
        )
        .select(
            "qid",
            "vec_id",
            pair_cosine(sf_dir)(F.col("q_emb"), F.col("emb")).alias(
                "sim_raw"
            ),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("sim_raw").desc(), F.col("vec_id"))
    return (
        rer.select(
            "qid",
            "vec_id",
            F.round("sim_raw", 6).alias("sim"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 5)
        .orderBy("qid", "rn")
    )
