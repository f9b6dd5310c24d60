"""Training-data pipeline operators: deduplication + text analysis.

Beyond the reference's surface (BASELINE.json north-star): the
operators a 100 TB LLM-data pipeline needs, built Spark-first so every
stage is a shuffle-conscious DataFrame op:

- exact dedup: hash-groupBy (one shuffle on the content hash);
- window dedup: row_number over (entity, time) — the canonical
  keep-first-per-key pattern;
- MinHash-LSH near-dup: shingle → minhash signature → band buckets →
  candidate pairs — all JVM-side expressions (F.hash = murmur3), no
  Python in the hot path; bucket join replaces the O(n²) pair scan;
- SimHash: 64-bit signature via xxhash64 bit-majority, prefix buckets;
- text stats / language heuristic / token counting for quality scoring.

At scale: every groupBy here keys on a high-cardinality derived hash
(uniform, unskewed); LSH band-bucket joins are self-joins on bucket
ids whose fan-out is controlled by the band width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from . import register
from ._shared import _t
from ._values_oracles import VALUES_ORACLES
from .similarity import _unroll_pairs

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


# --------------------------------------------------------------------------
# Exact deduplication
# --------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle="""
SELECT h, min(doc_id) AS keeper, count(*) AS n_copies
FROM (SELECT doc_id, md5(text) AS h FROM documents) t
GROUP BY h
HAVING count(*) >= 1
ORDER BY keeper
""",
    tags=("datapipe", "dedup", "bench"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one shuffle on md5(text), keep the
    smallest doc_id per group.  At 100 TB the hash is computed at scan
    time and the groupBy partial-aggregates map-side."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keeper")
    )


@register(
    "dedup_window_first",
    oracle="""
SELECT user_id, event_type, day, first_event, n_events
FROM (
  SELECT user_id, event_type,
         CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         row_number() OVER (PARTITION BY user_id, event_type,
                              date_trunc('day', CAST(ts AS TIMESTAMP))
                            ORDER BY ts, event_id) AS rn,
         event_id AS first_event,
         count(*) OVER (PARTITION BY user_id, event_type,
                          date_trunc('day', CAST(ts AS TIMESTAMP)))
           AS n_events
  FROM events
) t
WHERE rn = 1 AND user_id < 30
ORDER BY user_id, event_type, day
""",
    tags=("datapipe", "dedup", "window"),
)
def dedup_window_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first-per-key dedup via row_number over (entity, day):
    the canonical streaming-log dedup; one shuffle on the window key."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    w = W.partitionBy("user_id", "event_type", day).orderBy("ts", "event_id")
    wc = W.partitionBy("user_id", "event_type", day)
    return (
        ev.select(
            "user_id",
            "event_type",
            day.cast("date").alias("day"),
            F.row_number().over(w).alias("rn"),
            F.col("event_id").alias("first_event"),
            F.count(F.lit(1)).over(wc).alias("n_events"),
        )
        .filter((F.col("rn") == 1) & (F.col("user_id") < 30))
        .drop("rn")
        .orderBy("user_id", "event_type", "day")
    )


# --------------------------------------------------------------------------
# MinHash-LSH near-duplicate detection  (Spark-only: murmur3 signatures)
# --------------------------------------------------------------------------
N_HASHES = 16
BAND_SIZE = 4  # 4 bands of 4 hashes


def _shingles(tokens, k: int = 3):
    """k-token shingles as strings, via sequence+transform (JVM-side)."""
    n = F.size(tokens)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n >= k, F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, k))
    )).otherwise(F.array(F.concat_ws(" ", tokens)))


def _shingle_hashes(tokens: str) -> str:
    """3-token shingle set of the array column ``tokens``, pre-hashed
    (a SQL fragment): murmur3 over the token triple directly (hash is
    variadic) — no intermediate shingle strings, no slice/concat
    allocations.  Equivalent set semantics to hashing the joined
    string, at a fraction of the per-row cost."""
    return (
        f"array_distinct(CASE WHEN size({tokens}) >= 3 THEN transform("
        f"sequence(0, greatest(size({tokens}) - 3, 0)), i -> hash("
        f"element_at({tokens}, i + 1), element_at({tokens}, i + 2), "
        f"element_at({tokens}, i + 3))) "
        f"ELSE array(hash(concat_ws(' ', {tokens}))) END)"
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id → minhash signature array<int> of length N_HASHES, over
    the ``text`` column.

    Each shingle string is murmur3-hashed ONCE (F.hash, Spark-native —
    the same kernel the reference implements natively in
    native/spark-expr/src/hash_funcs/murmur3.rs); family member j is
    then murmur3(shingle_hash, j) over two ints — integer re-hash, not
    a string concat+hash per member.  Shingle hashes are deduplicated
    (set semantics) so repeated shingles cost one hash, not N_HASHES.
    Pure JVM expressions — no Python UDF in the path."""
    # Two pitfalls shape this plan.  (1) Higher-order lambdas run
    # INTERPRETED (outside whole-stage codegen) with NO common-subexpr
    # elimination: if the lambda body references an expression tree
    # (element_at(split(...), i)), the split re-executes per element —
    # quadratic in tokens.  Materializing the token array as a column
    # BELOW an exchange (CollapseProject cannot cross it) makes
    # element_at a cheap attribute read.  (2) The 16 family members as
    # transform/array_min lambdas were the remaining interpreted cost —
    # explode the (distinct) shingle hashes to rows instead and take 16
    # codegen'd min(hash(h, j)) aggregates; the repartition on doc_id
    # (explicit count — AQE would coalesce tiny data to one partition)
    # parallelizes the shingling and pre-satisfies the groupBy's
    # partitioning, so the agg adds no second shuffle.
    # Repartition the RAW text and tokenize above the exchange: the
    # shuffle ships the original string bytes, not the ~1.5× larger
    # token-array representation — at 100 TB the exchange is the cost.
    # The projection above the shuffle still materializes `toks` as a
    # column before the lambda reads it (pitfall (1) below).
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    # SQL fragments, not Column calls: the 16 family members alone cost
    # 304 py4j commands per build as Column calls, ~50 as F.expr.
    exploded = (
        docs.selectExpr("doc_id", "text AS _text")
        .repartition(n_parts, "doc_id")
        .selectExpr("doc_id", "split(lower(_text), ' ') AS toks")
        .selectExpr("doc_id", f"explode({_shingle_hashes('toks')}) AS h")
    )
    agg = exploded.groupBy("doc_id").agg(
        *[F.expr(f"min(hash(h, {j})) AS m{j}") for j in range(N_HASHES)]
    )
    return agg.selectExpr(
        "doc_id", f"array({', '.join(f'm{j}' for j in range(N_HASHES))}) AS sig"
    )



def lsh_band_buckets(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig) -> one row per LSH band: (doc_id, sig, band, bucket).

    Band key = murmur3 over the band's signature slice (identical
    expression in dedup_minhash_lsh and dedup_lsh_star_cluster), spelled
    as one SQL fragment rather than 177 py4j Column calls."""
    bands = ", ".join(
        "hash(concat_ws(',', "
        + ", ".join(
            f"CAST(sig[{i}] AS STRING)"
            for i in range(b * BAND_SIZE, (b + 1) * BAND_SIZE)
        )
        + "))"
        for b in range(N_HASHES // BAND_SIZE)
    )
    return sigs.selectExpr(
        "doc_id", "sig", f"posexplode(array({bands})) AS (band, bucket)"
    )


# --- scale gate for the per-PAIR signature-match spelling (round 11) -----
#
# The estimated-Jaccard match count is per-pair arithmetic over two
# N_HASHES-int signatures — the same two-regime shape as
# similarity.pair_dot (which this gate mirrors): below ~100k corpus
# rows the interpreted zip_with/filter fold wins (tiny plan, µs-scale
# per-pair cost at bench pair counts), above it the fold's
# CodegenFallback ZipWith/ArrayFilter eval sites are exposed to the
# megamorphic inline-cache degradation measured on the dot-product
# fold (dev/dupskew_r11/embcos_ab.json: 5.7 s → 70-83 s for one
# unchanged plan) — candidate-pair volume scales with the corpus, so
# corpus scale is the gate key.  Both spellings count the SAME integer
# (a NULL element compares to not-equal in both: the fold's filter
# drops the NULL comparison result, the unrolled CASE's otherwise(0)
# covers it; signatures are non-null by construction anyway), so every
# estimate — and both queries' oracle hashes — are identical either
# way; pinned by tests/test_pair_arith_gate.py.


def _sig_match_fold(a, b):
    return F.size(
        F.filter(
            F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )


def _sig_match_unrolled(a, b):
    acc = F.when(a.getItem(0) == b.getItem(0), 1).otherwise(0)
    for i in range(1, N_HASHES):
        acc = acc + F.when(a.getItem(i) == b.getItem(i), 1).otherwise(0)
    return acc


def sig_match_count(sf_dir: str):
    """Equal-position count of two N_HASHES-wide signatures: interpreted
    fold below the pair-arithmetic scale gate, unrolled codegen above it
    (value-identical integers either way)."""
    if _unroll_pairs(sf_dir, "documents"):
        return _sig_match_unrolled
    return _sig_match_fold


@register(
    "dedup_minhash_lsh",
    # VALUES oracle: independent pure-Python murmur3 shingle/minhash/band
    # recompute (dev/gen_values_oracles.py); pytest additionally validates
    # candidate pairs against exact Jaccard.
    oracle=VALUES_ORACLES["dedup_minhash_lsh"],
    tags=("datapipe", "dedup", "lsh", "bench"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: signature → band buckets →
    self-join per bucket → distinct pairs with estimated similarity.

    Scale shape: the band explode multiplies rows ×(N_HASHES/BAND_SIZE);
    the groupBy buckets is a uniform-hash shuffle; candidate pairs are
    produced without any O(n²) comparison."""
    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    bands = lsh_band_buckets(sigs)
    # Materialize ONE exchange on the join keys and derive both join
    # sides from it: the signature/band compute sits BELOW the
    # exchange, so ReuseExchange evaluates it once (without this the
    # self-join recomputes the whole signature pipeline per side), and
    # the join's required partitioning is already satisfied — no
    # further shuffle.
    # No explicit partition count: a user-fixed N disables AQE's
    # post-shuffle coalescing, and this exchange carries only
    # (doc_id, sig, band, bucket) rows — tiny relative to the corpus —
    # so AQE right-sizes it (32 reducers of nothing cost 3 extra
    # stage-schedules at small SF; at 100 TB AQE keeps them wide).
    bands = bands.repartition("band", "bucket")
    left = bands.selectExpr("doc_id AS a", "sig AS sig_a", "band", "bucket")
    right = bands.selectExpr("doc_id AS b", "sig AS sig_b", "band", "bucket")
    est = sig_match_count(sf_dir)(F.col("sig_a"), F.col("sig_b")) / F.lit(
        float(N_HASHES)
    )
    # Compute the (deterministic) estimate per band hit and dedup on the
    # scalar triple — the distinct shuffles 3 scalars per pair instead of
    # two 16-int signature arrays.
    return (
        left.join(right, ["band", "bucket"])
        .filter("a < b")
        .select("a", "b", F.round(est, 4).alias("est_jaccard"))
        .filter("est_jaccard >= 0.5")
        .distinct()
        .orderBy("a", "b")
    )



@register(
    "dedup_lsh_star_cluster",
    # VALUES oracle: independent pure-Python murmur3 minhash/band/star +
    # hand union-find (dev/gen_values_oracles.py); duplication-skew guard
    # additionally pinned by tests/test_skew_stress.py.
    oracle=VALUES_ORACLES["dedup_lsh_star_cluster"],
    tags=("datapipe", "dedup", "lsh", "graph", "iterative"),
)
def dedup_lsh_star_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-skew-safe LSH dedup: band buckets -> STAR edges
    (each bucket member pairs with the bucket's min-doc hub only,
    similarity-checked against the hub) -> connected components ->
    cluster summary.

    Why this exists next to dedup_minhash_lsh (round 10): the pair
    query's within-bucket self-join is O(k^2) in the bucket size —
    fine under UNIFORM near-dup rates (buckets of 2-5), catastrophic
    under duplication skew, the shape real web corpora have (one
    boilerplate page duplicated k=millions of times puts k identical
    signatures in ONE bucket per band = k(k-1)/2 pairs x 8 bands; at
    k=10M that is 4e14 rows before the first filter).  The star form
    is one min_by aggregate + one linear join per bucket — k-1 edges —
    and exact duplicates (est=1.0 against any hub) always cluster
    identically; near-dups cluster through their hub (the standard
    recall trade of star/representative LSH clustering, documented
    here rather than hidden).  Cluster columns mirror
    dedup_cluster_components (components of the candidate-pair graph;
    docs with no surviving edge are non-duplicates and do not appear).
    """
    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    bands = lsh_band_buckets(sigs).repartition("band", "bucket")
    # hub = min doc_id per bucket, carried with its signature (min_by
    # ties impossible: a doc appears once per (band, bucket))
    hubs = bands.groupBy("band", "bucket").agg(
        F.min("doc_id").alias("hub"),
        F.min_by("sig", "doc_id").alias("sig_hub"),
    )
    est = sig_match_count(sf_dir)(F.col("sig"), F.col("sig_hub")) / F.lit(
        float(N_HASHES)
    )
    edges = (
        bands.join(hubs, ["band", "bucket"])
        .filter(F.col("doc_id") != F.col("hub"))
        .filter(F.round(est, 4) >= 0.5)
        .select(F.col("hub").alias("a"), F.col("doc_id").alias("b"))
        .distinct()
    )
    comps = connected_components(edges)
    return (
        comps.groupBy("comp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
            F.min("node").alias("canonical_doc"),
            F.max("node").alias("max_doc"),
        )
        .orderBy("comp")
    )


# --------------------------------------------------------------------------
# SimHash fingerprinting  (Spark-only: xxhash64 bits)
# --------------------------------------------------------------------------
@register(
    "dedup_simhash",
    # VALUES oracle: independent pure-Python XXH64 simhash recompute
    # (dev/gen_values_oracles.py); also pinned by pytest.
    oracle=VALUES_ORACLES["dedup_simhash"],
    tags=("datapipe", "dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document: per-token xxhash64, bit-majority
    vote across tokens, then bucket by 16-bit prefix.  All JVM-side:
    the bit loop is an unrolled array of aggregate expressions."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    # majority vote per bit: sum(+1/-1 per token) > 0 → bit set
    bit_votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"v{b}")
            for b in range(64)
        ]
    )
    simhash = bit_votes.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"v{b}") > 0, F.lit(1).cast("long") * (2**b)).otherwise(
                    F.lit(0).cast("long")
                )
                for b in range(63)  # bit 63 omitted: keep the hash positive
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    # doc_ids serialized at the output boundary (driver-hash safety for
    # array columns — same convention as embedding_quantize_int8); the
    # set aggregation itself runs on native longs underneath.
    doc_ids_str = F.array_join(
        F.transform(
            F.sort_array(F.collect_set("doc_id")), lambda x: x.cast("string")
        ),
        ",",
    )
    return (
        simhash.withColumn("bucket", F.shiftright("simhash", 47))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            doc_ids_str.alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Text statistics / quality scoring
# --------------------------------------------------------------------------
@register(
    "text_stats",
    oracle=f"""
SELECT doc_id, lang,
       CAST(len(toks) AS INT) AS n_tokens,
       floor(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
             / len(toks) * 1000000) / 1000000 AS avg_tok_len,
       floor(CAST(len(list_filter(toks, t -> t IN {STOPWORDS})) AS DOUBLE)
             / len(toks) * 1000000) / 1000000 AS stopword_ratio,
       floor(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 1000000)
         / 1000000 AS distinct_ratio
FROM (SELECT doc_id, lang, str_split(lower(text), ' ') AS toks
      FROM documents) t
ORDER BY doc_id
""",
    tags=("datapipe", "text", "bench"),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features per document: token count, mean token
    length, stopword ratio, distinct-token ratio.

    Shape: pure per-row array expressions — ZERO shuffles (the
    explode→double-groupBy formulation this replaces shuffled ~200×
    the row count twice and was 3.6× slower at sf0.1).  Total token
    characters need no iteration at all: with a single-space split,
    sum(length(tok)) == length(text) - (n_tokens - 1).  The distinct
    count uses the codegen'd array_distinct kernel; the only
    higher-order lambda left is the stopword filter over one small
    in-set predicate (measured harmless — the round-1 lambda hot spot
    was per-element re-execution of an un-materialized split, not
    lambdas per se).  At 100 TB this is embarrassingly parallel:
    map-only over the scan, no exchange until the final orderBy (which
    production pipelines drop — it exists for oracle determinism).

    The ratios are truncated with floor(x*1e6)/1e6, not round(x, 6):
    both engines compute the IDENTICAL IEEE double for a
    count-over-count ratio, and floor keeps the whole path in exact
    float ops — per-row round(double, n) goes through each engine's
    decimal-image conversion, which disagrees on near-ties (the
    round-9 merge_upsert sf1 find; COMPAT.md rule)."""
    # NO _spread_scan: measured min-of-8 interleaved at sf0.1, raw
    # 0.50 s vs rebalanced 0.62 s — these per-row features are cheaper
    # than shipping the text through the rebalance exchange (contrast
    # the winnow family, whose md5-gram stage makes the rebalance pay)
    docs = _t(spark, sf_dir, "documents")
    t = F.lower("text")
    toks = F.split(t, " ")
    n = F.size(toks)
    nd = n.cast("double")
    stop_cnt = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))

    def _trunc6(col):
        return F.floor(col * 1000000) / 1000000

    return docs.select(
        "doc_id",
        "lang",
        n.alias("n_tokens"),
        _trunc6((F.length(t) - (n - 1)).cast("double") / nd).alias(
            "avg_tok_len"
        ),
        _trunc6(stop_cnt.cast("double") / nd).alias("stopword_ratio"),
        _trunc6(
            F.size(F.array_distinct(toks)).cast("double") / nd
        ).alias("distinct_ratio"),
    ).orderBy("doc_id")


@register(
    "lang_id_heuristic",
    oracle=f"""
SELECT lang, predicted, count(*) AS n
FROM (
  SELECT lang,
         CASE WHEN CAST(len(list_filter(str_split(lower(text), ' '),
                                        t -> t IN {STOPWORDS})) AS DOUBLE)
                   / len(str_split(lower(text), ' ')) > 0.05
              THEN 'en' ELSE 'other' END AS predicted
  FROM documents
) t
GROUP BY lang, predicted
ORDER BY lang, predicted
""",
    tags=("datapipe", "text"),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-free language-ID heuristic: stopword density → 'en'
    vs 'other'; emitted as a confusion table against the labeled
    ``lang`` column."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    ratio = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast(
        "double"
    ) / F.size(toks)
    return (
        docs.select(
            "lang", F.when(ratio > 0.05, "en").otherwise("other").alias("predicted")
        )
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


@register(
    "token_count_regex",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
            AS INT) AS n_bpe_ish,
       CAST(len(str_split(text, ' ')) AS INT) AS n_ws
FROM documents
WHERE doc_id < 200
ORDER BY doc_id
""",
    tags=("datapipe", "text", "tokenize"),
)
def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letters / digits / single punctuation) — both JVM regex engines."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return docs.select(
        "doc_id",
        F.size(
            F.expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)")
        ).alias("n_bpe_ish"),
        F.size(F.split("text", " ")).alias("n_ws"),
    ).orderBy("doc_id")


@register(
    "doc_fingerprint",
    # VALUES oracle: independent pure-Python murmur3 rolling-fold recompute
    # (dev/gen_values_oracles.py); also pinned by pytest known values.
    oracle=VALUES_ORACLES["doc_fingerprint"],
    tags=("datapipe", "text", "fingerprint"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rolling fingerprint: fold tokens through
    h = (h*31 + murmur3(tok)) mod 2^31-1 via F.aggregate — a
    driver-free, UDF-free per-document fingerprint."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(
            acc * 31 + F.hash(x).cast("long"), F.lit(2147483647).cast("long")
        ),
    )
    return docs.select("doc_id", fp.alias("fingerprint")).orderBy("doc_id")


# --------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup  (the ground truth MinHash approximates)
# --------------------------------------------------------------------------
@register(
    "dedup_ngram_jaccard",
    oracle="""
SELECT a, b, jaccard
FROM (
  SELECT x.doc_id AS a, y.doc_id AS b,
         floor(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
               / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
               * 10000) / 10000 AS jaccard
  FROM (SELECT doc_id, source,
               list_distinct(list_transform(
                 generate_series(1, greatest(len(str_split(lower(text), ' ')) - 2, 1)),
                 i -> str_split(lower(text), ' ')[i] || ' ' ||
                      coalesce(str_split(lower(text), ' ')[i+1], '') || ' ' ||
                      coalesce(str_split(lower(text), ' ')[i+2], ''))) AS sh
        FROM documents WHERE doc_id < 150) x
  JOIN (SELECT doc_id, source,
               list_distinct(list_transform(
                 generate_series(1, greatest(len(str_split(lower(text), ' ')) - 2, 1)),
                 i -> str_split(lower(text), ' ')[i] || ' ' ||
                      coalesce(str_split(lower(text), ' ')[i+1], '') || ' ' ||
                      coalesce(str_split(lower(text), ' ')[i+2], ''))) AS sh
        FROM documents WHERE doc_id < 150) y
    ON x.source = y.source AND x.doc_id < y.doc_id
) t
ORDER BY jaccard DESC, a, b
LIMIT 20
""",
    tags=("datapipe", "dedup", "ngram", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity over candidate pairs blocked by
    ``source`` (the blocking key bounds the pair fan-out — at 100 TB
    the blocker is an LSH bucket, here a natural key so the oracle can
    reproduce it); the 20 most-similar pairs are reported (a
    production run thresholds — top-k keeps the gate non-vacuous on
    synthetic text with no true near-dups).  Set algebra runs
    JVM-side: array_intersect on distinct shingle arrays,
    |A∪B| = |A|+|B|−|A∩B|.  The ratio is floor-truncated, not
    rounded: it ORDERS the top-k selection, so a near-tie
    decimal-rounding divergence (COMPAT.md round-9 rule) could swap
    the selected SET; floor keeps the whole path in exact float ops
    on a count ratio both engines compute bit-identically."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", "source", F.split(F.lower("text"), " ").alias("toks"))
    )
    sh = F.array_distinct(_shingles(F.col("toks"), 3))
    shingled = docs.select("doc_id", "source", sh.alias("sh"))
    left = shingled.select(
        F.col("doc_id").alias("a"), "source", F.col("sh").alias("sh_a")
    )
    right = shingled.select(
        F.col("doc_id").alias("b"), "source", F.col("sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        left.join(right, "source")
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            (F.floor(inter.cast("double") / union * 10000) / 10000)
            .alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "a", "b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-dup  (semantic dedup over array<float>)
# --------------------------------------------------------------------------
# axis-sign LSH bits for the embedding-cosine sub-block: the SCALE
# dial — block count = labels * 2^bits, so bits grows ~log2(corpus /
# target_block_size) at 100 TB while recall for highly-similar pairs
# stays high (near-identical vectors share component signs).
# DUPLICATION-skew caveat (round 10): bits cannot split IDENTICAL
# embeddings — k copies of one vector share every sign and land in one
# sub-block regardless of bits, making the within-block pair join
# O(k^2) exactly like the minhash bucket case.  The mitigation is the
# same hub-star form dedup_lsh_star_cluster ships (pair each block
# member with the block-min id only) — apply it before running this
# on a corpus with embedding-level duplication.
_COS_SIGN_BITS = 4

_COS_SIGN_SQL = " + ".join(
    f"(CASE WHEN {{s}}.embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
    for i in range(_COS_SIGN_BITS)
)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
SELECT a, b, sim
FROM (
  SELECT x.vec_id AS a, y.vec_id AS b,
         round(list_cosine_similarity(x.embedding::DOUBLE[],
                                      y.embedding::DOUBLE[]), 5) AS sim
  FROM embeddings x
  JOIN embeddings y
    ON x.label = y.label
   AND {_COS_SIGN_SQL.format(s="x")} = {_COS_SIGN_SQL.format(s="y")}
   AND x.vec_id < y.vec_id
) t
ORDER BY sim DESC, a, b
LIMIT 20
""",
    tags=("datapipe", "dedup", "embedding", "cosine"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup candidates: the 20 most-similar embedding
    pairs by cosine, blocked by (label, axis-sign bits) — label stands
    in for the coarse-quantizer cell an IVF index would assign, and
    the sign bits of the first ``_COS_SIGN_BITS`` components sub-block
    it (axis-aligned random-hyperplane LSH; near-identical vectors
    share signs, so the recall loss concentrates on mid-similarity
    pairs — the usual LSH trade).

    Round 9 added the sign sub-block after the scale series caught the
    label-only version: 10 labels is a CONSTANT block count, so pairs
    grew quadratically (124 s at sf1, SCALE.md round-9 entry).  Sign
    bits make the block count a dial — at 100 TB, bits scales as
    log2(corpus/target_block) to hold per-block pair counts flat.  A
    production run thresholds instead of ranking; top-k keeps the gate
    non-vacuous on synthetic data whose max pairwise similarity (~0.5)
    never crosses a dedup threshold.  Dot products are JVM
    expressions — no Python — spelled as an UNROLLED codegen sum
    since round 11 (the fold spelling is CodegenFallback; see
    dot_unrolled); the sign expression is spelled identically in the
    DuckDB oracle, so the differential check covers the blocking
    too."""
    from .similarity import _as_double, dot_unrolled, l2_norm

    # Norms materialize per row below the self-join (O(n)), so the
    # per-pair work inside a block is the dot product alone — spelled
    # UNROLLED (round 11): the zip_with/aggregate fold is
    # CodegenFallback and its interpreted per-pair cost degrades
    # ~10-20x in a long-lived JVM (see dot_unrolled's docstring);
    # bit-identical accumulation order, oracle hash unchanged.
    sbucket = sum(
        [
            F.when(F.col("emb").getItem(i) >= 0, F.lit(1 << i)).otherwise(
                F.lit(0)
            )
            for i in range(_COS_SIGN_BITS)
        ],
        F.lit(0),
    )
    emb = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", "label", _as_double("embedding").alias("emb"))
        .select(
            "vec_id", "label", "emb",
            l2_norm(F.col("emb")).alias("nrm"),
            sbucket.alias("sbucket"),
        )
    )
    # Block-key rebalance of the PROBE side before the pair join
    # (round 11): the small build side broadcasts, so the join stage
    # inherits the probe SCAN's partitioning — 2 parquet files at sf1
    # put the whole ~1.4M-pair × per-pair-dot stream on 2 tasks
    # (jstack-caught: one task, 17 min CPU inside ZipWith.eval before
    # the fold was unrolled).  Hash-partitioning on the JOIN key —
    # not round-robin — serves both plan regimes: in the broadcast
    # regime it spreads the pair stream across the ~label·2^bits
    # blocks (the block count is the scale dial, so parallelism grows
    # with the corpus), and in the asymptotic SMJ regime
    # EnsureRequirements recognizes it as the join's required
    # distribution and adds NO second exchange (a round-robin spelling
    # costs a redundant full repass of the corpus there).  Under
    # EMBEDDING-duplication skew a hot block still lands on one task —
    # that corpus shape must use dedup_embedding_star_cluster (k-1
    # hub edges), per the blocking caveat above.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    left = emb.repartition(n_parts, "label", "sbucket").select(
        F.col("vec_id").alias("a"), "label", "sbucket",
        F.col("emb").alias("emb_a"), F.col("nrm").alias("nrm_a"),
    )
    right = emb.select(
        F.col("vec_id").alias("b"), "label", "sbucket",
        F.col("emb").alias("emb_b"), F.col("nrm").alias("nrm_b"),
    )
    return (
        left.join(right, ["label", "sbucket"])
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.round(
                dot_unrolled(F.col("emb_a"), F.col("emb_b"))
                / (F.col("nrm_a") * F.col("nrm_b")),
                5,
            ).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "a", "b")
        .limit(20)
    )



@register(
    "dedup_embedding_star_cluster",
    # VALUES oracle: independent pure-Python sequential-fold cosine star
    # + hand union-find (dev/gen_values_oracles.py)
    oracle=VALUES_ORACLES["dedup_embedding_star_cluster"],
    tags=("datapipe", "dedup", "embedding", "graph", "iterative"),
)
def dedup_embedding_star_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-skew-safe embedding dedup: (label, sign-bits) blocks
    -> hub star edges (cosine-checked against the block-min vector) ->
    connected components -> cluster summary.  The embedding-side twin
    of dedup_lsh_star_cluster: sign bits cannot split IDENTICAL
    embeddings (k copies share every sign and land in one block), so
    dedup_embedding_cosine's within-block pair join is O(k^2) under
    embedding-level duplication; the star form is one min_by aggregate
    + one linear join per block.  The similarity threshold is the
    production dial (dedup runs ~0.9); 0.2 keeps the differential gate
    non-vacuous on the synthetic unit vectors (hub-sim p90 ~0.2, max ~0.39).
    """
    from .similarity import _as_double, dot_unrolled, l2_norm

    sbucket = sum(
        [
            F.when(F.col("emb").getItem(i) >= 0, F.lit(1 << i)).otherwise(
                F.lit(0)
            )
            for i in range(_COS_SIGN_BITS)
        ],
        F.lit(0),
    )
    emb = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", "label", _as_double("embedding").alias("emb"))
        .select(
            "vec_id", "label", "emb",
            l2_norm(F.col("emb")).alias("nrm"),
            sbucket.alias("sbucket"),
        )
    )
    hubs = emb.groupBy("label", "sbucket").agg(
        F.min("vec_id").alias("hub"),
        F.min_by("emb", "vec_id").alias("emb_h"),
        F.min_by("nrm", "vec_id").alias("nrm_h"),
    )
    edges = (
        emb.join(hubs, ["label", "sbucket"])
        .filter(F.col("vec_id") != F.col("hub"))
        .filter(
            F.round(
                dot_unrolled(F.col("emb"), F.col("emb_h"))
                / (F.col("nrm") * F.col("nrm_h")),
                5,
            )
            >= 0.2
        )
        .select(F.col("hub").alias("a"), F.col("vec_id").alias("b"))
        .distinct()
    )
    comps = connected_components(edges)
    return (
        comps.groupBy("comp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
            F.min("node").alias("canonical_vec"),
            F.max("node").alias("max_vec"),
        )
        .orderBy("comp")
    )


@register(
    "sample_hash_deterministic",
    oracle="""
SELECT lang,
       count(*) AS n_sampled,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
      < CASE WHEN lang = 'en' THEN '0d' ELSE '34' END
GROUP BY lang
ORDER BY lang
""",
    tags=("datapipe", "sampling"),
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by content-key hash: keep a
    document iff a hex prefix of md5(doc_id) falls under the stratum's
    threshold (~5% for 'en', ~20% otherwise).  This is the
    reproducible alternative to TABLESAMPLE/sampleBy for training-data
    pipelines: membership is a pure function of the key — stable
    across reruns, cluster sizes, and partitioning, and the same row
    set can be reproduced by any engine (the oracle recomputes it in
    DuckDB).  Evaluates as a pushdown-friendly scan filter: no
    shuffle, no RNG state, trivially parallel at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    threshold = F.when(F.col("lang") == "en", "0d").otherwise("34")
    sampled = docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < threshold
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Vocabulary / n-gram construction (tokenizer-building primitives)
# --------------------------------------------------------------------------
@register(
    "vocab_top_tokens",
    oracle="""
SELECT tok,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS tok
      FROM documents)
WHERE tok <> ''
GROUP BY tok
ORDER BY n_total DESC, tok
LIMIT 50
""",
    tags=("datapipe", "text", "vocabulary"),
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: global token frequency + document frequency,
    top-50.  The corpus-wide term-count pass every tokenizer/BPE
    training run starts from.  Shape at 100 TB: explode → two-level
    aggregate — level 1 collapses to (token, doc) locally so the
    distinct count never ships raw token rows; level 2 is a top-k over
    the (small) vocabulary, planned as TakeOrderedAndProject."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    per_doc = toks.groupBy("tok", "doc_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        per_doc.groupBy("tok")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_total"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
        .orderBy(F.col("n_total").desc(), "tok")
        .limit(50)
    )


@register(
    "ngram_bigram_counts",
    oracle="""
SELECT bigram, CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bigram
  FROM (SELECT str_split(lower(text), ' ') AS toks FROM documents)
)
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 40
""",
    tags=("datapipe", "text", "ngram"),
)
def ngram_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram counts, top-40: adjacent-token pairs built with a
    ``transform(sequence(...))`` higher-order lambda over the token
    array — pure JVM expressions, no Python, no self-join (the naive
    posexplode-then-self-join formulation shuffles the corpus twice;
    this shuffles only the bigram aggregate)."""
    docs = _t(spark, sf_dir, "documents")
    bigrams = docs.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(split(lower(text), ' ')) - 2), "
                "i -> concat(element_at(split(lower(text), ' '), i + 1), ' ', "
                "element_at(split(lower(text), ' '), i + 2)))"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(40)
    )


@register(
    "doc_quality_filter",
    oracle=f"""
WITH feat AS (
  SELECT source, lang,
         len(toks) AS n_tokens,
         CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
           / len(toks) AS avg_len,
         CAST(len(list_filter(toks, t -> t IN {STOPWORDS})) AS DOUBLE)
           / len(toks) AS stop_ratio
  FROM (SELECT source, lang, str_split(lower(text), ' ') AS toks
        FROM documents)
)
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_tokens BETWEEN 20 AND 200
                      AND avg_len BETWEEN 2.0 AND 8.0
                      AND stop_ratio < 0.5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM feat
GROUP BY source, lang
ORDER BY source, lang
""",
    tags=("datapipe", "text", "quality-filter"),
)
def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus quality gate (the C4/Gopher-style rule filter):
    per-document token count, mean token length, and stopword-ratio
    bounds, rolled up to keep-rates per (source, lang).  One scan, one
    shuffle on the tiny (source, lang) key; the per-doc features are
    array lambdas over the split — acceptable here because each doc is
    touched once (contrast text_stats, which explodes because it needs
    distinct-token counts)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    n_tok = F.size(toks)
    feat = docs.select(
        "source",
        "lang",
        n_tok.alias("n_tokens"),
        (
            F.aggregate(
                F.transform(toks, lambda t: F.length(t)),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("double")
            / n_tok
        ).alias("avg_len"),
        (
            F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double")
            / n_tok
        ).alias("stop_ratio"),
    )
    kept = (
        F.col("n_tokens").between(20, 200)
        & F.col("avg_len").between(2.0, 8.0)
        & (F.col("stop_ratio") < 0.5)
    )
    return (
        feat.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        )
        .orderBy("source", "lang")
    )


_SNM_WINDOW = 8  # sorted-neighborhood width: the recall dial


@register(
    "dedup_levenshtein",
    oracle="""
WITH d AS (
  SELECT doc_id, lang, n_chars // 40 AS bucket,
         substr(text, 1, 80) AS prefix
  FROM documents
), nb AS (
  SELECT doc_id, prefix,
         lead(doc_id, 1) OVER w AS nid1, lead(prefix, 1) OVER w AS np1,
         lead(doc_id, 2) OVER w AS nid2, lead(prefix, 2) OVER w AS np2,
         lead(doc_id, 3) OVER w AS nid3, lead(prefix, 3) OVER w AS np3,
         lead(doc_id, 4) OVER w AS nid4, lead(prefix, 4) OVER w AS np4,
         lead(doc_id, 5) OVER w AS nid5, lead(prefix, 5) OVER w AS np5,
         lead(doc_id, 6) OVER w AS nid6, lead(prefix, 6) OVER w AS np6,
         lead(doc_id, 7) OVER w AS nid7, lead(prefix, 7) OVER w AS np7,
         lead(doc_id, 8) OVER w AS nid8, lead(prefix, 8) OVER w AS np8
  FROM d
  WINDOW w AS (PARTITION BY lang, bucket ORDER BY prefix, doc_id)
), pairs AS (
  SELECT doc_id, prefix,
         unnest([nid1, nid2, nid3, nid4, nid5, nid6, nid7, nid8]) AS nid,
         unnest([np1, np2, np3, np4, np5, np6, np7, np8]) AS np
  FROM nb
)
SELECT least(doc_id, nid) AS a, greatest(doc_id, nid) AS b,
       CAST(levenshtein(prefix, np) AS INT) AS dist
FROM pairs
WHERE nid IS NOT NULL AND levenshtein(prefix, np) <= 12
ORDER BY a, b
""",
    tags=("datapipe", "dedup", "levenshtein"),
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup via SORTED-NEIGHBORHOOD candidates:
    within each (lang, length-bucket) block, docs sort by their 80-char
    prefix and each doc is compared to its next ``_SNM_WINDOW``
    neighbors only — O(n*K) candidate pairs and ONE window shuffle.

    Round 9 replaced the original all-pairs-within-block join after the
    scale series caught it: (lang, bucket) has CONSTANT cardinality
    (~70 blocks), so block sizes — and the quadratic pair count — grew
    linearly with the corpus (the sf1 run never finished; SCALE.md
    round-9 entry).  Sorted-neighborhood (Hernandez & Stolfo 1995) is
    the standard linear-candidate fuzzy-dedup structure: near-identical
    prefixes sort adjacently; K is the recall dial (edits in the first
    characters can separate true pairs — the same recall trade LSH
    bands make in dedup_minhash_lsh).  The 80-char prefix bound caps
    the DP cost per pair.  lead() spells the same neighborhood in both
    engines, so the DuckDB oracle stays a full differential check."""
    K = _SNM_WINDOW
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 40).cast("int").alias("bucket"),
        F.substring("text", 1, 80).alias("prefix"),
    )
    w = W.partitionBy("lang", "bucket").orderBy("prefix", "doc_id")
    # window expressions must be materialized in a projection BEFORE
    # the generator (Spark disallows them inside explode's input)
    nb = (
        docs.select(
            "doc_id",
            "prefix",
            F.array(
                *[F.lead("doc_id", o).over(w) for o in range(1, K + 1)]
            ).alias("nids"),
            F.array(
                *[F.lead("prefix", o).over(w) for o in range(1, K + 1)]
            ).alias("nps"),
        )
        .select(
            "doc_id",
            "prefix",
            F.explode(F.arrays_zip(F.col("nids"), F.col("nps"))).alias("n"),
        )
        .select(
            "doc_id", "prefix",
            F.col("n.nids").alias("nid"), F.col("n.nps").alias("np"),
        )
    )
    return (
        nb.filter(F.col("nid").isNotNull())
        .select(
            F.least("doc_id", "nid").alias("a"),
            F.greatest("doc_id", "nid").alias("b"),
            F.levenshtein("prefix", "np").cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= 12)
        .orderBy("a", "b")
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components of the ``(a, b)`` edges by iterative
    min-label propagation, at most 20 rounds: ``(node) -> component``
    where component = min node id reachable.

    The dedup endgame: candidate near-dup PAIRS (from LSH/jaccard/
    cosine) must collapse into duplicate CLUSTERS with one canonical
    survivor each.  Each iteration is a join + min-aggregate — pure
    DataFrame ops, O(diameter) rounds (near-dup clusters are shallow;
    typical corpora converge in 3-5).  Pointer doubling
    (comp(u) <- comp(comp(u)), O(log diameter) rounds) costs a second
    keyed shuffle per round and wins only when the diameter is much
    larger than twice the rounds, so it is not used for these shallow
    clusters.  At 100 TB every round is one
    keyed shuffle of the (nodes + edges) relation; the loop runs on
    the driver but touches no data there (the fixpoint check is a
    1-row aggregate).  The reference has nothing iterative at all —
    its IR is a straight-line operator tree (reference:
    native/proto/src/proto/operator.proto:31-57)."""
    sym = edges.selectExpr("a AS n", "b AS m")
    sym = sym.union(sym.selectExpr("m AS n", "n AS m"))
    # The edge relation is re-read every round and the label frontier is
    # rebuilt on top of the previous round's result: without lineage
    # truncation the plan doubles per iteration and every fixpoint check
    # re-executes ALL prior rounds from the source (O(rounds²) work,
    # analyzer blowup after ~10 rounds).  persist() pins the edges;
    # localCheckpoint() materializes each round's labels and cuts the
    # plan back to a leaf — on a real cluster use checkpoint() against
    # reliable storage if executor loss must be survivable mid-loop.
    sym = sym.persist()
    # initial label: self (isolated endpoints keep themselves); every
    # projection re-aliases so self-join lineage stays unambiguous
    labels = (
        sym.selectExpr("n AS node")
        .distinct()
        .selectExpr("node", "node AS comp")
        .localCheckpoint(eager=True)
    )
    for _ in range(20):
        # candidate label per node: min over neighbours' labels and own
        neigh = (
            sym.selectExpr("n AS dst_node", "m AS nbr")
            .join(labels.selectExpr("node AS nbr", "comp"), "nbr")
            .selectExpr("dst_node AS node", "comp")
        )
        new_labels = (
            labels.select("node", "comp")
            .union(neigh)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.selectExpr("node", "comp AS comp_new")
            .join(labels, "node")
            .filter(F.col("comp_new") != F.col("comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


@register(
    "dedup_cluster_components",
    # VALUES oracle: DuckDB levenshtein blocking + independent union-find
    # (dev/gen_values_oracles.py); also pinned by tests/test_semantics.py.
    oracle=VALUES_ORACLES["dedup_cluster_components"],
    tags=("datapipe", "dedup", "graph", "iterative"),
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters from candidate pairs: Levenshtein-blocked
    pairs (dedup_levenshtein) → connected components → cluster summary
    (canonical = min doc_id, cluster size).  The full dedup pipeline
    shape: pair generation never sees O(n²), component labels converge
    in O(cluster diameter) keyed shuffles, survivors are one
    min-aggregate away."""
    pairs = dedup_levenshtein(spark, sf_dir).select("a", "b")
    comps = connected_components(pairs)
    return (
        comps.groupBy("comp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
            F.min("node").alias("canonical_doc"),
            F.max("node").alias("max_doc"),
        )
        .orderBy("comp")
    )


@register(
    "text_tfidf_topk",
    oracle="""
WITH tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS tok
        FROM documents)
  WHERE tok <> ''
  GROUP BY doc_id, tok
),
idf AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, tok, tfidf, rn
FROM (
  SELECT tf.doc_id, tf.tok,
         round(tf.tf * ln((n.n_docs + 1.0) / (idf.df + 1.0)), 5) AS tfidf,
         CAST(row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY round(tf.tf * ln((n.n_docs + 1.0) / (idf.df + 1.0)), 5)
                      DESC, tf.tok) AS INT) AS rn
  FROM tf JOIN idf ON tf.tok = idf.tok CROSS JOIN n
) t
WHERE rn <= 3 AND doc_id < 50
ORDER BY doc_id, rn
""",
    tags=("datapipe", "text", "tfidf"),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with smoothed idf = ln((N+1)/(df+1)), top-3 terms per
    document — the classic relevance/keyword-extraction pass.  Shape at
    100 TB: term frequencies collapse map-side in the (doc, tok)
    aggregate; document frequencies derive FROM the tf relation (no
    second corpus scan); N is a 1-row broadcast; the per-doc top-k is a
    WindowGroupLimit, never a global sort."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    idf = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(idf, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                5,
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
    return (
        scored.select(
            "doc_id", "tok", "tfidf",
            F.row_number().over(w).cast("int").alias("rn"),
        )
        .filter((F.col("rn") <= 3) & (F.col("doc_id") < 50))
        .orderBy("doc_id", "rn")
    )


@register(
    "pipeline_corpus_curation",
    oracle="""
WITH survivors AS (
  SELECT min(doc_id) AS doc_id
  FROM documents
  GROUP BY md5(text)
), kept AS (
  SELECT d.source, d.lang,
         len(str_split(lower(d.text), ' ')) AS n_tokens
  FROM documents d JOIN survivors USING (doc_id)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM kept
WHERE n_tokens BETWEEN 20 AND 200
GROUP BY source
ORDER BY source
""",
    tags=("datapipe", "pipeline", "dedup", "quality-filter"),
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation in ONE plan: exact dedup →
    token-count quality gate → per-source corpus stats.  The composed
    shape a real ingest pass runs nightly, here as a single Catalyst
    plan so every stage is pushed/pruned together.

    Plan shape: dedup is a row_number() window over the md5(text)
    fingerprint (survivor = min doc_id) — ONE hash-partitioned shuffle
    on the fingerprint, no self-join back (the groupBy-min + rejoin
    phrasing the oracle uses would shuffle documents twice).  The
    quality gate then runs partition-local, and the final rollup
    shuffles only the tiny (source) key.  At 100 TB: fingerprints are
    uniform 128-bit hashes, so the dedup exchange is skew-free by
    construction; text never moves twice because the window carries
    the row."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("fp").orderBy("doc_id")
    kept = (
        docs.withColumn("fp", F.md5("text"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .withColumn("n_tokens", F.size(F.split(F.lower("text"), " ")))
        .filter(F.col("n_tokens").between(20, 200))
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Benchmark decontamination — n-gram overlap against an eval set
# --------------------------------------------------------------------------
@register(
    "decontaminate_ngram_overlap",
    oracle="""
WITH tok AS (
  SELECT doc_id, source, str_split(lower(text), ' ') AS t
  FROM documents
), sh AS (
  SELECT doc_id, source,
         list_distinct(list_transform(
           generate_series(1, len(t) - 4),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                t[i+3] || ' ' || t[i+4])) AS sh
  FROM tok
  WHERE len(t) >= 5
), eval_set AS (
  SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 25 = 0
), train AS (
  SELECT doc_id, source, unnest(sh) AS s FROM sh WHERE doc_id % 25 <> 0
), hit AS (
  SELECT t.doc_id, t.source, count(*) AS n_overlap
  FROM train t JOIN eval_set e USING (s)
  GROUP BY t.doc_id, t.source
)
SELECT source,
       count(*) AS docs_flagged,
       CAST(max(n_overlap) AS BIGINT) AS max_overlap,
       CAST(sum(n_overlap) AS BIGINT) AS total_overlap
FROM hit
WHERE n_overlap >= 3
GROUP BY source
ORDER BY source
""",
    tags=("datapipe", "decontamination", "ngram"),
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus decontamination: flag training documents whose
    distinct 5-gram shingles overlap an eval/benchmark set.

    The membership test is the scale-critical piece: the eval side
    (every 25th document here; a benchmark suite in production) is
    orders of magnitude smaller than the corpus, so its distinct
    shingle set is BROADCAST and the fact-side explode joins against
    it with no shuffle of the corpus.  Per-doc overlap counts then
    aggregate on doc_id (one shuffle of (doc_id, source) pairs, not
    text).  Docs with >= 3 overlapping shingles are reported per
    source."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split(F.lower("text"), " ").alias("toks")
    ).filter(F.size("toks") >= 5)
    sh = docs.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(_shingles(F.col("toks"), 5))).alias("s"),
    )
    eval_sh = (
        sh.filter(F.col("doc_id") % 25 == 0).select("s").distinct()
    )
    train_sh = sh.filter(F.col("doc_id") % 25 != 0)
    hits = (
        train_sh.join(eval_sh, "s")
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= 3)
    )
    return (
        hits.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_flagged"),
            F.max("n_overlap").cast("long").alias("max_overlap"),
            F.sum("n_overlap").cast("long").alias("total_overlap"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Pattern scrubbing — PII-style regex masking (patterns parameterized)
# --------------------------------------------------------------------------
SCRUB_PATTERN = "(customer|order)"  # stand-in for email/phone/SSN patterns:
# the synthetic corpus has no true PII, so the gate masks vocabulary words
# to stay non-vacuous; production swaps the pattern constant only.


@register(
    "text_regex_scrub",
    oracle=f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_with_hits,
       CAST(sum(hits) AS BIGINT) AS total_hits,
       CAST(sum(len(scrubbed)) AS BIGINT) AS scrubbed_chars
FROM (
  SELECT source,
         len(regexp_extract_all(text, '{SCRUB_PATTERN}')) AS hits,
         regexp_replace(text, '{SCRUB_PATTERN}', '[MASK]', 'g') AS scrubbed
  FROM documents
) t
GROUP BY source
ORDER BY source
""",
    tags=("datapipe", "scrub", "regex"),
)
def text_regex_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style pattern scrubbing: count and mask regex matches per
    document, report per-source hit and size accounting.

    Pure JVM regex kernels (regexp_count / regexp_replace — the
    reference implements RegExpReplace natively with constant-pattern
    gating, reference: spark/src/main/scala/org/apache/comet/serde/strings.scala:353);
    evaluates as a single scan + partial-agg with no Python and no
    shuffle beyond the final per-source rollup."""
    docs = _t(spark, sf_dir, "documents")
    hits = F.regexp_count("text", F.lit(SCRUB_PATTERN))
    scrubbed = F.regexp_replace("text", SCRUB_PATTERN, "[MASK]")
    return (
        docs.select("source", hits.alias("hits"), scrubbed.alias("scrubbed"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("hits") > 0).cast("int")).cast("long")
              .alias("docs_with_hits"),
            F.sum("hits").cast("long").alias("total_hits"),
            F.sum(F.length("scrubbed")).cast("long").alias("scrubbed_chars"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Weighted corpus mixture — deterministic per-stratum downsampling
# --------------------------------------------------------------------------
@register(
    "sample_weighted_mixture",
    oracle="""
SELECT CAST(CAST(substr(source, 4) AS INT) % 3 AS INT) AS bucket,
       count(*) AS n_total,
       CAST(sum(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                     < CASE CAST(substr(source, 4) AS INT) % 3
                         WHEN 0 THEN '8000'
                         WHEN 1 THEN '3333'
                         ELSE '0ccc' END
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents
GROUP BY bucket
ORDER BY bucket
""",
    tags=("datapipe", "sampling", "mixture"),
)
def sample_weighted_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted mixture sampling: each source stratum is
    kept at a target rate (50% / 20% / 5% here) by comparing a hex
    prefix of md5(doc_id) against the stratum's threshold — the
    training-data mixture knob (upsample curated sources, downsample
    crawl) as a pure scan-side predicate.  Membership is a function of
    the key alone: reproducible across engines, reruns and cluster
    sizes, no RNG state, no shuffle; the only exchange is the final
    accounting rollup."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (F.substring("source", 4, 10).cast("int") % 3).cast("int")
    threshold = (
        F.when(bucket == 0, "8000").when(bucket == 1, "3333").otherwise("0ccc")
    )
    kept = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < threshold
    return (
        docs.select(bucket.alias("bucket"), kept.cast("int").alias("k"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("k").cast("long").alias("n_kept"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Sliding-window chunking — fixed-length overlapping token windows
# --------------------------------------------------------------------------
@register(
    "doc_chunk_sliding",
    oracle="""
WITH tok AS (
  SELECT doc_id, str_split(lower(text), ' ') AS t
  FROM documents WHERE doc_id < 40
), starts AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t), 8)) AS s
  FROM tok
)
SELECT doc_id,
       (s - 1) // 8 AS chunk_idx,
       CAST(len(t[s:least(s + 15, len(t))]) AS BIGINT) AS n_tok,
       md5(list_aggregate(t[s:least(s + 15, len(t))], 'string_agg', ' '))
         AS chunk_hash
FROM starts
ORDER BY doc_id, chunk_idx
""",
    tags=("datapipe", "chunking"),
)
def doc_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking for sequence-model training: 16-token
    windows at stride 8 (50% overlap) via sequence→posexplode→slice —
    no Python, no shuffle (chunking is embarrassingly parallel per
    document; the orderBy here is presentation only).  Each chunk is
    emitted with its index and an md5 content hash (the join key a
    downstream tokenizer/packing stage would use)."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", F.split(F.lower("text"), " ").alias("t"))
    )
    starts = docs.select(
        "doc_id",
        "t",
        F.posexplode(
            F.sequence(F.lit(1), F.size("t"), F.lit(8))
        ).alias("chunk_idx", "s"),
    )
    chunk = F.slice("t", F.col("s"), F.lit(16))
    return (
        starts.select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.size(chunk).cast("long").alias("n_tok"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# --------------------------------------------------------------------------
# Quality signal: within-document repetition (Gopher-style)
# --------------------------------------------------------------------------
@register(
    "doc_repetition_ratio",
    oracle="""
WITH per_doc AS (
  SELECT source,
         1.0 - len(list_distinct(toks)) * 1.0 / len(toks) AS tok_rep,
         CASE WHEN len(toks) >= 3 THEN
           1.0 - len(list_distinct(tri)) * 1.0 / len(tri)
         ELSE 0.0 END AS tri_rep
  FROM (
    SELECT source, toks,
           list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             AS tri
    FROM (SELECT source, str_split(lower(text), ' ') AS toks
          FROM documents WHERE text IS NOT NULL)
  )
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(avg(CAST(tok_rep AS DECIMAL(18,9))) AS DOUBLE), 4) AS avg_tok_rep,
       round(CAST(avg(CAST(tri_rep AS DECIMAL(18,9))) AS DOUBLE), 4) AS avg_tri_rep,
       CAST(sum(CASE WHEN tok_rep > 0.3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged
FROM per_doc
GROUP BY source
ORDER BY source
""",
    tags=("datapipe", "quality", "repetition"),
)
def doc_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (the Gopher repetition
    filters): duplicate-token fraction and duplicate-3-gram fraction
    per document, rolled up per source with a flag count for the
    repetition gate.  High repetition marks boilerplate/spam for
    removal before training.

    Scale shape: both ratios are per-row array expressions computed in
    the scan projection — zero shuffles until the final tiny per-source
    rollup.  The 3-gram array reuses the materialized token array (one
    split per row); no explode, so the row count never multiplies."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split(F.lower("text"), " ")
    docs = docs.select("source", toks.alias("toks"))
    n = F.size("toks")
    tri = F.transform(
        F.sequence(F.lit(0), n - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at("toks", i + 1),
            F.element_at("toks", i + 2),
            F.element_at("toks", i + 3),
        ),
    )
    per_doc = docs.select(
        "source",
        (
            F.lit(1.0)
            - F.size(F.array_distinct("toks")) / n.cast("double")
        ).alias("tok_rep"),
        F.when(
            n >= 3,
            F.lit(1.0) - F.size(F.array_distinct(tri)) / (n - 2).cast("double"),
        )
        .otherwise(0.0)
        .alias("tri_rep"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.col("tok_rep").cast("decimal(18,9)")).cast("double"), 4)
            .alias("avg_tok_rep"),
            F.round(F.avg(F.col("tri_rep").cast("decimal(18,9)")).cast("double"), 4)
            .alias("avg_tri_rep"),
            F.sum((F.col("tok_rep") > 0.3).cast("bigint")).alias("n_flagged"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Normalization-keyed dedup (near-exact: casing/punctuation/whitespace)
# --------------------------------------------------------------------------
@register(
    "dedup_normalized_text",
    oracle="""
WITH normed AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_key
  FROM documents WHERE text IS NOT NULL
), survivors AS (
  SELECT norm_key, min(doc_id) AS keep_id,
         count(*) AS n_copies
  FROM normed GROUP BY norm_key
)
SELECT n.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT n.norm_key) AS BIGINT) AS n_unique,
       CAST(sum(CASE WHEN n.doc_id = s.keep_id THEN 0 ELSE 1 END) AS BIGINT)
         AS n_dropped
FROM normed n JOIN survivors s USING (norm_key)
GROUP BY n.source
ORDER BY n.source
""",
    tags=("datapipe", "dedup", "normalization"),
)
def dedup_normalized_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup on a *normalized* content key: lowercase, strip
    non-alphanumerics, collapse whitespace, md5 — catches the
    casing/punctuation/whitespace variants that byte-exact dedup
    misses but MinHash is overkill for.  Survivor = min(doc_id) per
    key (deterministic, engine-independent).

    Scale shape: the normalization chain is scan-side projection; the
    md5 key is uniform so the groupBy shuffle is unskewed; survivor
    election and the per-source accounting reuse ONE window over the
    same key partitioning instead of a groupBy + self-join (the oracle
    spells the join form; Spark's window form is plan-equivalent with
    one fewer shuffle)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    norm_key = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "),
                " +",
                " ",
            )
        )
    )
    normed = docs.select("doc_id", "source", norm_key.alias("norm_key"))
    keyed = normed.withColumn(
        "keep_id", F.min("doc_id").over(W.partitionBy("norm_key"))
    )
    return (
        keyed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("norm_key").alias("n_unique"),
            F.sum((F.col("doc_id") != F.col("keep_id")).cast("bigint")).alias(
                "n_dropped"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Arrow-native table function: mapInArrow token accounting
# --------------------------------------------------------------------------
@register(
    "token_count_arrow",
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS total_toks,
       CAST(max(len(str_split(text, ' '))) AS BIGINT) AS max_toks
FROM documents
WHERE text IS NOT NULL
GROUP BY source
ORDER BY source
""",
    tags=("datapipe", "arrow", "udf-surface"),
)
def token_count_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting computed inside ``mapInArrow`` — the
    zero-copy Arrow batch surface (the idiomatic analogue of the
    reference's Arrow-FFI UDF bridge, reference:
    common/src/main/scala/org/apache/comet/udf/CometUDF.scala;
    expr.proto:519-532).  The Python worker receives pyarrow
    RecordBatches and computes vectorized `pc.count_substring` — no
    pandas conversion, no per-row Python.

    The oracle recomputes the same counts in SQL: this pins that the
    Arrow batch boundary neither reorders nor corrupts values.  Scale
    shape: mapInArrow is partition-local (no shuffle); the rollup after
    it is the only exchange.  Real pipelines put tokenizers here —
    count ≈ len(split) is the stand-in kernel."""
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("source", "text")
    )

    def count_tokens(batches):
        for batch in batches:
            text = batch.column(1)
            toks = pc.add(
                pc.count_substring(text, " "), pa.scalar(1, pa.int32())
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pc.cast(toks, pa.int64())],
                ["source", "n_toks"],
            )

    counted = docs.mapInArrow(count_tokens, "source string, n_toks long")
    return (
        counted.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_toks"),
            F.max("n_toks").alias("max_toks"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Incremental corpus operations (the shapes a RUNNING pipeline needs)
# --------------------------------------------------------------------------
@register(
    "dedup_incremental_vs_corpus",
    oracle="""
WITH hist AS (
  SELECT DISTINCT md5(text) AS fp FROM documents
  WHERE doc_id < 2000 AND text IS NOT NULL
), new_batch AS (
  SELECT doc_id, source, md5(text) AS fp FROM documents
  WHERE doc_id >= 2000 AND text IS NOT NULL
)
SELECT n.source,
       CAST(count(*) AS BIGINT) AS n_new,
       CAST(sum(CASE WHEN h.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN h.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_vs_corpus
FROM new_batch n LEFT JOIN hist h ON n.fp = h.fp
GROUP BY n.source
ORDER BY n.source
""",
    tags=("datapipe", "dedup", "incremental"),
)
def dedup_incremental_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a NEW shard is checked against the fingerprint
    set of the EXISTING corpus (left-anti in production; here a left
    join with kept/dup accounting so the gate is observable).  This is
    the shape a running ingestion pipeline executes daily — the
    historical side is a pre-computed fingerprint table, never the raw
    corpus.

    Scale shape: the history is fingerprints only (16 bytes/doc — a
    100 TB corpus compresses to ~100s of GB of keys, bucketable and
    incrementally maintained); the join keys on the uniform md5 so the
    shuffle is unskewed, and when the daily shard is small Spark
    broadcasts IT against the big fingerprint table after AQE sizes
    both sides.  doc_id < 2000 stands in for 'yesterday's corpus'."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    hist = (
        docs.filter(F.col("doc_id") < 2000)
        .select(F.md5("text").alias("fp"))
        .distinct()
        .withColumn("in_hist", F.lit(1))
    )
    new_batch = docs.filter(F.col("doc_id") >= 2000).select(
        "source", F.md5("text").alias("fp")
    )
    return (
        new_batch.join(hist, "fp", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(F.col("in_hist").isNull().cast("bigint")).alias("n_kept"),
            F.sum(F.col("in_hist").isNotNull().cast("bigint")).alias(
                "n_dup_vs_corpus"
            ),
        )
        .orderBy("source")
    )


@register(
    "corpus_deterministic_shuffle",
    oracle="""
SELECT doc_id, source,
       md5(CAST(doc_id AS VARCHAR) || ':42') AS shuffle_key
FROM documents
ORDER BY shuffle_key, doc_id
LIMIT 100
""",
    tags=("datapipe", "shuffle", "training"),
)
def corpus_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffling for training: global order by a
    salted content-independent hash.  Reproducible across engines,
    cluster sizes and retries (unlike rand()-based orderings, which are
    partition-seeded), and re-saltable per epoch by changing one
    literal.

    Scale shape: ORDER BY a uniform hash is a range-partitioned sort —
    Spark samples the key distribution and every partition gets an
    even slice; writing the result partitioned by bucket ranges yields
    the shard files a training loader streams.  The LIMIT here keeps
    the oracle small; production writes the full permutation."""
    docs = _t(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42")))
    return (
        docs.select("doc_id", "source", key.alias("shuffle_key"))
        .orderBy("shuffle_key", "doc_id")
        .limit(100)
    )


@register(
    "doc_pack_greedy",
    oracle="""
WITH sized AS (
  SELECT doc_id, source, len(str_split(text, ' ')) AS n_toks
  FROM documents WHERE text IS NOT NULL
), packed AS (
  SELECT doc_id, source, n_toks,
         CAST(floor((sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n_toks) / 4096.0)
              AS BIGINT) AS bin_id
  FROM sized
)
SELECT source, bin_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS bin_toks
FROM packed
GROUP BY source, bin_id
ORDER BY source, bin_id
""",
    tags=("datapipe", "packing", "training"),
)
def doc_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed-token-budget bins
    (4096 tokens) in deterministic doc_id order within each source —
    bin = floor(exclusive-running-token-total / budget), the
    streaming-greedy packing a training dataloader applies, expressed
    as ONE window cumsum (no iterative bin state).

    Scale shape: the window partitions by source (parallel across
    sources) and the cumsum is a partition-local scan after one
    shuffle; the rollup reuses the same partitioning.  A 100 TB corpus
    packs with exactly two exchanges end-to-end."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sized = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_toks")
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = sized.select(
        "source",
        "n_toks",
        F.floor((F.sum("n_toks").over(w) - F.col("n_toks")) / 4096.0).alias(
            "bin_id"
        ),
    )
    return (
        packed.groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("bin_toks"),
        )
        .orderBy("source", "bin_id")
    )


@register(
    "doc_length_ntile",
    oracle="""
WITH sized AS (
  SELECT doc_id, source, len(str_split(text, ' ')) AS n_toks
  FROM documents WHERE text IS NOT NULL
), tiled AS (
  SELECT source, n_toks,
         CAST(ntile(10) OVER (PARTITION BY source
                              ORDER BY n_toks, doc_id) AS INT) AS decile
  FROM sized
)
SELECT source, decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_toks) AS BIGINT) AS min_toks,
       CAST(max(n_toks) AS BIGINT) AS max_toks
FROM tiled
GROUP BY source, decile
ORDER BY source, decile
""",
    tags=("datapipe", "curriculum", "window"),
)
def doc_length_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum length-bucketing: per-source deciles of document
    token length via ntile(10) (deterministic tie-break on doc_id), 
    rolled up to bucket boundaries — the equal-frequency binning used
    to schedule short→long training curricula and to size packing
    budgets per bucket.

    Scale shape: ntile needs a per-source total ordering — one range
    exchange within each source partition; the rollup then reuses the
    window partitioning.  For corpus-scale data where a global ntile
    is too hot, the production variant computes approx percentile cuts
    first and joins them in (approx_percentile is a single aggregate);
    this query pins the exact form."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sized = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_toks")
    )
    tiled = sized.select(
        "source",
        "n_toks",
        F.ntile(10)
        .over(W.partitionBy("source").orderBy("n_toks", "doc_id"))
        .alias("decile"),
    )
    return (
        tiled.groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_toks").cast("bigint").alias("min_toks"),
            F.max("n_toks").cast("bigint").alias("max_toks"),
        )
        .orderBy("source", "decile")
    )


@register(
    "pipeline_corpus_curation_v2",
    oracle="""
WITH base AS (
  SELECT doc_id, source,
         str_split(lower(text), ' ') AS t,
         md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS nk
  FROM documents WHERE text IS NOT NULL
), surv AS (
  SELECT nk, min(doc_id) AS keep_id FROM base GROUP BY nk
), kept AS (
  SELECT b.doc_id, b.source, b.t, len(b.t) AS n
  FROM base b JOIN surv s ON b.doc_id = s.keep_id AND b.nk = s.nk
  WHERE b.doc_id % 25 <> 0                             -- eval docs excluded
    AND len(b.t) BETWEEN 20 AND 200                    -- length gate
    AND 1.0 - len(list_distinct(b.t)) * 1.0 / len(b.t) <= 0.3  -- repetition
    AND list_sum(list_transform(b.t,                   -- model-based gate
          x -> (ascii(substr(md5(x), 1, 1)) % 7) - 3)) > 0
), eval_set AS (
  SELECT DISTINCT unnest(list_distinct(list_transform(
           generate_series(1, len(t) - 4),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                t[i+3] || ' ' || t[i+4]))) AS s
  FROM base WHERE doc_id % 25 = 0 AND len(t) >= 5
), hits AS (
  SELECT k.doc_id, count(*) AS n_overlap
  FROM (SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, len(t) - 4),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                 t[i+3] || ' ' || t[i+4]))) AS s
        FROM kept WHERE n >= 5) k
  JOIN eval_set e USING (s)
  GROUP BY k.doc_id
  HAVING count(*) >= 3
), clean AS (
  SELECT k.* FROM kept k LEFT JOIN hits h ON k.doc_id = h.doc_id
  WHERE h.doc_id IS NULL
), packed AS (
  SELECT source, n,
         CAST(floor((sum(n) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n) / 4096.0) AS BIGINT)
           AS bin_id
  FROM clean
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS total_tokens,
       CAST(max(bin_id) + 1 AS BIGINT) AS n_bins
FROM packed
GROUP BY source
ORDER BY source
""",
    tags=("datapipe", "pipeline", "dedup", "quality-filter",
          "decontamination", "packing"),
)
def pipeline_corpus_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline in ONE composed plan: normalization-
    keyed dedup → eval-set exclusion → length + repetition quality
    gates → model-based quality gate (the hashed linear scorer of
    `quality_linear_scorer`, inline) → 5-gram benchmark
    decontamination → greedy token packing → per-source accounting.  Every stage is the registered operator it
    names (`dedup_normalized_text`, `doc_repetition_ratio`,
    `decontaminate_ngram_overlap`, `doc_pack_greedy`) — this entry
    pins that they COMPOSE: one Catalyst plan, no materialization
    between stages.

    Scale shape: the token array is computed once in the scan
    projection and every gate reads it; dedup election is one window
    over the normalization key; the decontamination explode happens
    only for docs that survive the cheap gates (filter ordering is the
    optimization) and the per-doc regroup that counts overlaps ALSO
    restores doc granularity for packing — one linear pass, no
    anti-join back-edge (which would re-evaluate the dedup subtree:
    column pruning differs per branch, defeating ReuseExchange); the
    eval-shingle side is DISTINCT'd then broadcast; packing reuses the
    per-source window partitioning.  Corpus exchanges end-to-end:
    dedup window, overlap regroup, packing window (+ tiny eval
    distinct and the output sort) — pinned by its plan golden,
    tests/goldens/plans/pipeline_corpus_curation_v2.txt."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split(F.lower("text"), " ")
    nk = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " +", " "
            )
        )
    )
    base = docs.select(
        "doc_id", "source", toks.alias("t"), nk.alias("nk")
    ).withColumn("n", F.size("t"))
    base = base.withColumn(
        "keep_id", F.min("doc_id").over(W.partitionBy("nk"))
    )
    kept = base.filter(
        (F.col("doc_id") == F.col("keep_id"))
        & (F.col("doc_id") % 25 != 0)
        & F.col("n").between(20, 200)
        & (
            F.lit(1.0)
            - F.size(F.array_distinct("t")) / F.col("n").cast("double")
            <= 0.3
        )
        # model-based gate: the quality_linear_scorer's hashed linear
        # score, inline as one more scan-side predicate (integer sum,
        # exact on both engines)
        & (
            F.aggregate(
                F.transform(
                    F.col("t"),
                    lambda x: (
                        F.ascii(F.substring(F.md5(x.cast("binary")), 1, 1))
                        % 7
                    )
                    - 3,
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            > 0
        )
    ).select("doc_id", "source", "t", "n")

    def five_grams(col):
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - 5),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(col, i + 1),
                    F.element_at(col, i + 2),
                    F.element_at(col, i + 3),
                    F.element_at(col, i + 4),
                    F.element_at(col, i + 5),
                ),
            )
        )

    eval_sh = (
        base.filter((F.col("doc_id") % 25 == 0) & (F.col("n") >= 5))
        .select(F.explode(five_grams(F.col("t"))).alias("s"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # Single linear pass: explode_outer keeps short docs (no shingles)
    # alive through the broadcast probe, and the per-doc regroup both
    # counts overlaps AND restores one-row-per-doc for packing.  The
    # anti-join formulation this replaces re-evaluated the whole
    # dedup-window subtree for the second branch (different column
    # pruning defeats ReuseExchange) — one full extra corpus pass.
    sh = F.when(F.col("n") >= 5, five_grams(F.col("t"))).otherwise(
        F.array().cast("array<string>")
    )
    clean = (
        kept.select("doc_id", "source", "n", F.explode_outer(sh).alias("s"))
        .join(eval_sh, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.first("n").alias("n"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_overlap"),
        )
        .filter(F.col("n_overlap") < 3)
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = clean.select(
        "source",
        "n",
        F.floor((F.sum("n").over(w) - F.col("n")) / 4096.0).alias("bin_id"),
    )
    return (
        packed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_tokens"),
            (F.max("bin_id") + 1).cast("bigint").alias("n_bins"),
        )
        .orderBy("source")
    )


@register(
    "doc_length_approx_cuts",
    # VALUES oracle: rank-bound-verified, partition-independence-probed pin
    # (dev/gen_values_oracles.py); pytest bounds vs exact percentiles.
    oracle=VALUES_ORACLES["doc_length_approx_cuts"],
    tags=("datapipe", "curriculum", "approx"),
)
def doc_length_approx_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production variant of `doc_length_ntile` (SCALE.md): decile
    CUTS from one `percentile_approx` aggregate — no per-source total
    ordering, no range exchange, just a single two-phase aggregate
    whose state is a bounded KLL-style sketch.  For a source that is
    itself 10s of TB, this is the difference between a full sort and
    one pass; the cut table then joins back (broadcast) to assign
    buckets.  Deterministic for fixed input (the sketch algorithm is
    deterministic), but sketch-specific — hence pytest-bounded, not
    hash-matched."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sized = docs.select("source", F.size(F.split("text", " ")).alias("n_toks"))
    pcts = [i / 10.0 for i in range(1, 10)]
    cuts = sized.groupBy("source").agg(
        F.percentile_approx("n_toks", pcts, 10000).alias("decile_cuts"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    # posexplode the sketch output to scalar (decile, cut) rows — the
    # driver canonicalizer hashes scalar columns only; the aggregate
    # (the scale-relevant part) is unchanged, one sketch per source.
    return cuts.select(
        "source",
        F.posexplode("decile_cuts").alias("pos", "cut"),
        "n_docs",
    ).select(
        "source",
        (F.col("pos") + 1).alias("decile"),
        "cut",
        "n_docs",
    ).orderBy("source", "decile")


@register(
    "dedup_paragraph_boilerplate",
    oracle="""
WITH paras AS (
  SELECT doc_id, source, trim(p) AS p
  FROM (SELECT doc_id, source, unnest(str_split(text, '. ')) AS p
        FROM documents WHERE text IS NOT NULL)
  WHERE trim(p) <> '' AND len(str_split(trim(p), ' ')) >= 4
), freq AS (
  SELECT md5(lower(p)) AS ph, count(*) AS n_occur,
         count(DISTINCT doc_id) AS n_docs
  FROM paras GROUP BY md5(lower(p))
)
SELECT p.source,
       CAST(count(*) AS BIGINT) AS n_paras,
       CAST(sum(CASE WHEN f.n_docs >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boilerplate,
       round(sum(CASE WHEN f.n_docs >= 3 THEN 1 ELSE 0 END) * 1.0
             / count(*), 5) AS boilerplate_ratio
FROM paras p JOIN freq f ON md5(lower(p.p)) = f.ph
GROUP BY p.source
ORDER BY p.source
""",
    tags=("datapipe", "dedup", "paragraph", "boilerplate"),
)
def dedup_paragraph_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level boilerplate detection — the sub-document dedup
    pass doc-level fingerprints cannot do: split documents into
    sentence/paragraph units, fingerprint each, and flag units that
    recur across >=3 distinct documents (headers, footers, cookie
    banners, license blocks).  Production removes the flagged units
    and reassembles the documents; this query surfaces the per-source
    boilerplate ratio that drives that decision.

    Scale shape: the explode multiplies rows by paragraphs/doc, but
    rows are short and the fingerprint groupBy keys on a uniform md5;
    the per-unit frequency table is the only state, and it shrinks
    with dedup upstream.  The rejoin is fingerprint→fingerprint (no
    text movement) and AQE broadcasts the frequency side when a
    per-source shard is processed alone."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    paras = (
        docs.select(
            "doc_id",
            "source",
            F.explode(F.split("text", r"\. ")).alias("p0"),
        )
        .select("doc_id", "source", F.trim("p0").alias("p"))
        .filter(
            (F.col("p") != "") & (F.size(F.split("p", " ")) >= 4)
        )
        .select("doc_id", "source", F.md5(F.lower("p")).alias("ph"))
    )
    freq = paras.groupBy("ph").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return (
        paras.join(freq, "ph")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum((F.col("n_docs") >= 3).cast("bigint")).alias(
                "n_boilerplate"
            ),
            F.round(
                F.sum((F.col("n_docs") >= 3).cast("int"))
                / F.count(F.lit(1)),
                5,
            ).alias("boilerplate_ratio"),
        )
        .orderBy("source")
    )


@register(
    "fingerprint_table_maintain",
    oracle="""
WITH all_fps AS (
  SELECT DISTINCT md5(text) AS fp FROM documents WHERE text IS NOT NULL
)
SELECT substr(fp, 1, 1) AS bucket,
       CAST(count(*) AS BIGINT) AS n_fps
FROM all_fps
GROUP BY substr(fp, 1, 1)
ORDER BY bucket
""",
    tags=("datapipe", "dedup", "incremental", "write"),
)
def fingerprint_table_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE side of incremental dedup: maintain the corpus
    fingerprint table that `dedup_incremental_vs_corpus` reads.
    Bootstrap writes the historical fingerprints partitioned by hash
    prefix (dynamic partition overwrite — only touched buckets
    rewrite); the daily delta appends its NEW fingerprints into the
    same layout; the read-back must equal the distinct fingerprints
    of the whole corpus (idempotence: re-running the append adds
    nothing, because the delta anti-joins the existing table first).

    Scale shape: the fingerprint table is 16 B/doc partitioned by
    prefix into bounded buckets; each daily append shuffles only the
    delta; the anti-join prunes to the buckets the delta touches."""
    import os

    from ..sources import scratch_dir

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    fps = docs.select(F.md5("text").alias("fp")).distinct().select(
        "fp", F.substring("fp", 1, 1).alias("bucket")
    )
    hist = fps.filter(
        F.crc32(F.col("fp")) % 4 != 0
    )  # "yesterday's corpus" slice
    delta = fps.filter(F.crc32(F.col("fp")) % 4 == 0)

    path = scratch_dir(sf_dir, "fingerprint_table")
    (
        hist.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(path)
    )
    existing = spark.read.parquet(path)
    new_fps = delta.join(
        existing.select("fp"), "fp", "left_anti"
    )
    (
        new_fps.write.mode("append")
        .partitionBy("bucket")
        .parquet(path)
    )
    # idempotence probe: a second append of the same delta must add 0
    again = delta.join(
        spark.read.parquet(path).select("fp"), "fp", "left_anti"
    )
    assert again.count() == 0, "fingerprint append not idempotent"
    back = spark.read.parquet(path)
    return (
        back.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_fps"))
        .orderBy("bucket")
    )


@register(
    "sample_stratified_exact_k",
    oracle="""
SELECT source, doc_id,
       CAST(rk AS INT) AS rk
FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':held-out'), doc_id
         ) AS rk
  FROM documents
) t
WHERE rk <= 50
ORDER BY source, rk
""",
    tags=("datapipe", "sample", "stratified"),
)
def sample_stratified_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k-per-stratum sampling: exactly 50 documents per source,
    selected by salted-hash order — the eval-set carve-out pattern
    (rate-based sampling gives binomial-variable counts; eval sets
    need EXACT sizes).  Deterministic across engines, cluster sizes
    and reruns; changing the salt rotates the held-out set without
    touching the pipeline.

    Scale shape: one hash exchange on the stratum + a WindowGroupLimit
    (rank <= k prunes per-partition before the full sort — the window
    analog of TakeOrderedAndProject), so each stratum pays a top-k,
    never a total order."""
    docs = _t(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":held-out")))
    w = W.partitionBy("source").orderBy(key, "doc_id")
    return (
        docs.select(
            "source", "doc_id", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= 50)
        .orderBy("source", "rk")
    )


@register(
    "dedup_minhash_ml",
    # VALUES oracle: every emitted distance verified against an independent
    # token-set Jaccard (HashingTF murmur replicated in pure Python) before
    # pinning (dev/gen_values_oracles.py); recall also pinned in
    # tests/test_semantics.py.
    oracle=VALUES_ORACLES["dedup_minhash_ml"],
    tags=("datapipe", "dedup", "minhash", "ml"),
)
def dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates via the pyspark.ml pipeline
    (Tokenizer → binary HashingTF → MinHashLSH.approxSimilarityJoin) —
    the library counterpart of the hand-rolled shingle pipeline
    (`dedup_minhash_lsh`).  Same physical shape under the hood: the
    hash tables explode into band buckets, candidates come from a
    bucket self-join, and ``jaccard_dist`` is the EXACT Jaccard
    distance over the feature sets, evaluated only on candidates.
    Seeded, so results are deterministic run-to-run.

    Trade-off vs the manual pipeline (SCALE.md): the ml version is
    token-set Jaccard (unigrams) with numHashTables ANDed per table —
    quick to stand up, one knob; the manual one controls shingle size
    (word order sensitivity) and band/row shape (precision/recall
    curve) and reuses its exchange across the self-join.  At 100 TB
    both shuffle O(docs x tables) bucket rows; choose by whether
    shingle-level control matters."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, Tokenizer

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("doc_id", "text")
    )
    tok = Tokenizer(inputCol="text", outputCol="words")
    tf = HashingTF(
        inputCol="words", outputCol="features", numFeatures=1 << 18,
        binary=True,
    )
    feat = tf.transform(tok.transform(docs)).select("doc_id", "features")
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    )
    model = lsh.fit(feat)
    # threshold 0.2: template-generated corpus text shares many
    # unigrams, so a loose bound floods the candidate set (0.5 emitted
    # 88k pairs at sf0.01); near-dup means near
    pairs = model.approxSimilarityJoin(feat, feat, 0.2, distCol="jdist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("a"),
            F.col("datasetB.doc_id").alias("b"),
            F.round("jdist", 6).alias("jaccard_dist"),
        )
        # the synthetic corpus is near-dup-rich by construction (~3M
        # candidate pairs at sf0.1): bound the result to the 1000
        # closest pairs (TakeOrderedAndProject — never a full collect),
        # deterministic tie-break on (a, b); exact duplicates sort
        # first, which the recall pin relies on
        .orderBy("jaccard_dist", "a", "b")
        .limit(1000)
    )


@register(
    "global_index_assignment",
    oracle="""
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS global_idx
FROM documents
ORDER BY doc_id
""",
    tags=("datapipe", "index", "zipWithIndex"),
)
def global_index_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global index (0..n-1 in doc_id order) WITHOUT a
    single-reducer global sort — the distributed zipWithIndex idiom
    every training-data pipeline needs for example numbering and
    shard-stable sample addressing.

    The naive spelling — row_number() over an unpartitioned window —
    funnels ALL rows through one reducer (Spark even warns
    'No Partition Defined for Window operation').  The scale shape is
    two passes over range-partitioned data:

    1. range-partition by the order key (each partition holds a
       contiguous key range, already sorted within);
    2. per-partition local row_number (window PARTITIONED by the
       physical partition id — parallel, no cross-partition data);
    3. per-partition counts → cumulative offsets (|partitions| rows,
       computed in one tiny window) broadcast-joined back;
    4. global_idx = offset + local_idx - 1.

    Cost: ONE range exchange of the data + a |partitions|-row side
    plan, vs the naive single reducer holding 100 TB.  The oracle
    spells the naive form; values are identical because range
    partitioning preserves global key order across partition ids
    (partition i's keys all precede partition i+1's)."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .repartitionByRange(8, "doc_id")
        .withColumn("pid", F.spark_partition_id())
    )
    from pyspark.sql import Window

    wloc = Window.partitionBy("pid").orderBy("doc_id")
    local = docs.withColumn("local_idx", F.row_number().over(wloc))
    counts = local.groupBy("pid").agg(F.max("local_idx").alias("cnt"))
    woff = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.withColumn(
        "offset", F.coalesce(F.sum("cnt").over(woff), F.lit(0))
    ).select("pid", "offset")
    return (
        local.join(F.broadcast(offsets), "pid")
        .select(
            "doc_id",
            (F.col("offset") + F.col("local_idx") - 1)
            .cast("bigint")
            .alias("global_idx"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_keep_best",
    oracle="""
WITH keyed AS (
  SELECT doc_id,
         array_to_string(list_slice(string_split(
           lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' '),
           1, 8), ' ') AS prefix_key,
         length(text) - length(replace(text, ' ', '')) + 1 AS quality
  FROM documents
  WHERE text IS NOT NULL
)
SELECT length(prefix_key) AS key_len, doc_id,
       CAST(n_copies AS BIGINT) AS n_copies,
       CAST(quality AS BIGINT) AS quality
FROM (
  SELECT prefix_key, doc_id, quality,
         row_number() OVER (PARTITION BY prefix_key
                            ORDER BY quality DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY prefix_key) AS n_copies
  FROM keyed
) t
WHERE rn = 1 AND n_copies > 1
ORDER BY key_len, doc_id
""",
    tags=("datapipe", "dedup", "window", "keep-best"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST-copy dedup on a PREFIX fingerprint: documents keyed
    by their first 8 normalized tokens (the crawl-dedup key that
    catches truncated / boilerplate-suffixed variants of the same
    page, which exact-hash dedup misses), and within each duplicate
    group the copy with the highest quality signal survives (here
    whitespace token count ≈ longest/most complete copy; in
    production a composite score) — the selection rule curation
    pipelines actually want, not first-seen.  Same single-shuffle
    shape as keep-first (`dedup_window_first`): one exchange on the
    prefix key, ranking and group size share the window partition,
    survivors filter post-window."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    norm = F.lower(F.regexp_replace("text", r"[^a-zA-Z0-9 ]", ""))
    quality = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    prefix_key = F.array_join(F.slice(F.split(norm, " "), 1, 8), " ")
    keyed = docs.select(
        prefix_key.alias("prefix_key"), "doc_id", quality.alias("quality")
    )
    w = W.partitionBy("prefix_key").orderBy(F.col("quality").desc(), "doc_id")
    wc = W.partitionBy("prefix_key")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(wc))
        .filter((F.col("rn") == 1) & (F.col("n_copies") > 1))
        .select(
            F.length("prefix_key").alias("key_len"),
            "doc_id",
            F.col("n_copies").cast("bigint").alias("n_copies"),
            F.col("quality").cast("bigint").alias("quality"),
        )
        .orderBy("key_len", "doc_id")
    )


# --------------------------------------------------------------------------
# Model-based quality scoring (fasttext-style hashed linear classifier)
# --------------------------------------------------------------------------
@register(
    "quality_linear_scorer",
    oracle="""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(score) AS BIGINT) AS sum_score,
       CAST(sum(ntok) AS BIGINT) AS sum_tokens,
       round(CAST(sum(score) AS DOUBLE) / sum(ntok), 6) AS avg_weight
FROM (
  SELECT source,
         CAST(list_sum(list_transform(str_split(lower(text), ' '),
              t -> (ascii(substr(md5(t), 1, 1)) % 7) - 3)) AS BIGINT)
           AS score,
         len(str_split(lower(text), ' ')) AS ntok
  FROM documents
) scored
GROUP BY source
ORDER BY source
""",
    tags=("datapipe", "text", "quality", "ml-scoring"),
)
def quality_linear_scorer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gate: a fasttext-shaped linear classifier —
    hashing-trick token featurizer + fixed weight table — evaluated
    entirely as codegen expressions.  Stand-in weights are a
    deterministic function of the feature hash ((ascii of the first
    md5 hex char) % 7 - 3) so the oracle can recompute them; a real
    deployment broadcasts a weight map and looks buckets up in it,
    with identical plumbing and plan shape.

    Scale: per-document score = fold over transform(tokens) — scan-side,
    shuffle-free, no UDF; the only exchange is the per-source rollup.
    The classifier therefore costs the same as any row-local
    expression at 100 TB, unlike a Python-UDF scorer (the reference's
    expression-over-UDF principle, SURVEY §2.5).  Integer weights keep
    every aggregate exact: the kept/score sums are int compares and
    int sums, and the single double division happens once per group on
    exact operands."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    wts = F.transform(
        toks,
        lambda t: (F.ascii(F.substring(F.md5(t.cast("binary")), 1, 1)) % 7)
        - 3,
    )
    scored = docs.select(
        "source",
        F.aggregate(
            wts, F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("score"),
        F.size(toks).alias("ntok"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("score") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum("score").cast("long").alias("sum_score"),
            F.sum("ntok").cast("long").alias("sum_tokens"),
            F.round(
                F.sum("score").cast("double") / F.sum("ntok"), 6
            ).alias("avg_weight"),
        )
        .orderBy("source")
    )


@register(
    "quality_scorer_weight_table",
    oracle="""
WITH w AS (
  SELECT [-3, 2, 0, -2, 3, 1, -1, -3, 2, 0, -2, 3, 1, -1, -3, 2] AS wt
),
scored AS (
  SELECT d.lang,
         CAST(list_sum(list_transform(str_split(lower(d.text), ' '),
              t -> w.wt[strpos('0123456789abcdef',
                               substr(md5(t), 1, 1))])) AS BIGINT) AS score
  FROM documents d CROSS JOIN w
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(sum(CASE WHEN score < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
       CAST(sum(score) AS BIGINT) AS sum_score
FROM scored
GROUP BY lang
ORDER BY lang
""",
    tags=("datapipe", "text", "quality", "ml-scoring", "weight-table"),
)
def quality_scorer_weight_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality scorer with weights as DATA: a 16-entry weight
    TABLE indexed by feature-hash bucket (element_at on a literal
    array), instead of `quality_linear_scorer`'s weights-as-arithmetic.
    This is the shape a trained model actually ships in — at scale the
    literal array is a broadcast built by collecting the (hash-sized,
    bounded) trained-weights table, and retraining swaps the data, not
    the query.  Lookup stays codegen (element_at on an array literal);
    one exchange for the per-language rollup."""
    weights = [-3, 2, 0, -2, 3, 1, -1, -3, 2, 0, -2, 3, 1, -1, -3, 2]
    docs = load_table(spark, sf_dir, "documents")
    wt = F.array(*[F.lit(w) for w in weights])
    toks = F.split(F.lower("text"), " ")
    bucket = lambda t: F.instr(
        F.lit("0123456789abcdef"),
        F.substring(F.md5(t.cast("binary")), 1, 1),
    )
    score = F.aggregate(
        F.transform(toks, lambda t: F.element_at(wt, bucket(t))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = docs.select("lang", score.alias("score"))
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("score") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            F.sum(F.when(F.col("score") < 0, 1).otherwise(0))
            .cast("long")
            .alias("n_neg"),
            F.sum("score").cast("long").alias("sum_score"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Round 3 additions: sub-document dedup, snapshot diffing, boilerplate
# removal — the remaining curation passes a production corpus pipeline
# runs between crawl and tokenizer.
# --------------------------------------------------------------------------
@register(
    "dedup_paragraph_reassemble",
    oracle="""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
chunks AS (
  SELECT doc_id, gs AS pos,
         array_to_string(list_slice(w, (gs - 1) * 12 + 1, gs * 12), ' ')
           AS chunk
  FROM words, unnest(generate_series(
         1, CAST(ceil(len(w) / 12.0) AS INT))) AS t(gs)
),
winners AS (
  SELECT doc_id, pos, chunk,
         row_number() OVER (PARTITION BY chunk
                            ORDER BY doc_id, pos) AS rn
  FROM chunks
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
                               ORDER BY pos), '')) AS kept_md5
FROM winners
WHERE doc_id < 300
GROUP BY doc_id
ORDER BY doc_id
""",
    tags=("datapipe", "dedup", "paragraph"),
)
def dedup_paragraph_reassemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUB-document dedup (C4/RefinedWeb-style paragraph dedup): split
    every doc into fixed 12-word chunks, dedup chunks GLOBALLY (first
    occurrence by (doc_id, pos) wins), then reassemble each doc from
    its surviving chunks in order.  Catches boilerplate shared across
    different documents that whole-doc fingerprints can't see.

    Scale shape: the chunker is scan-side (split + slice + posexplode,
    no Python); exchange 1 shuffles chunk fingerprints for the
    winner-per-chunk window (partitioned BY chunk — parallel);
    exchange 2 shuffles survivors back to doc_id for reassembly.  Two
    keyed exchanges total, both over chunk-sized rows; the reassembled
    text is emitted as md5 so the result stays scalar-only."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    w = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(w) / F.lit(12.0)).cast("int")
    chunks = (
        docs.select("doc_id", w.alias("w"), n_chunks.alias("nc"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.col("nc"))).alias("pos"),
            F.col("w"),
        )
        .select(
            "doc_id",
            "pos",
            F.array_join(
                F.slice(F.col("w"), (F.col("pos") - 1) * 12 + 1, 12), " "
            ).alias("chunk"),
        )
    )
    win = W.partitionBy("chunk").orderBy("doc_id", "pos")
    marked = chunks.withColumn("rn", F.row_number().over(win))
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("rn") == 1, F.struct("pos", "chunk")
                )
            )
        ),
        lambda s: s["chunk"],
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.md5(F.array_join(kept_sorted, " ").cast("binary")).alias(
                "kept_md5"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "corpus_snapshot_diff",
    oracle="""
WITH snap_a AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 <> 0
),
snap_b AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS h
  FROM documents WHERE doc_id % 7 <> 0
)
SELECT CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            WHEN a.h <> b.h       THEN 'changed'
            ELSE 'unchanged' END AS status,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(coalesce(a.doc_id, b.doc_id)) AS BIGINT) AS min_id,
       CAST(max(coalesce(a.doc_id, b.doc_id)) AS BIGINT) AS max_id
FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id
GROUP BY 1
ORDER BY status
""",
    tags=("datapipe", "incremental", "diff"),
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot corpus diff — the audit step before an
    incremental retrain: classify every doc as added / removed /
    changed / unchanged between two corpus generations by comparing
    content hashes under a full-outer join on the document key.

    Scale shape: hashes are computed at scan time (each side carries
    16 bytes + key into the join, never the text); the full-outer join
    shuffles both sides ONCE on doc_id — at 100 TB both snapshots
    would be bucketed on doc_id and the exchange disappears entirely
    (the same layout `sort_merge_bucketed` pins).  Classification is a
    scan-side CASE over the join output; the rollup is map-side
    partial.  Snapshots are derived deterministically from the corpus
    (mod-key membership, mod-5 'edits') so the oracle sees identical
    inputs."""
    docs = _t(spark, sf_dir, "documents")
    snap_a = docs.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("a_id"),
        F.md5(F.col("text").cast("binary")).alias("a_h"),
    )
    snap_b = docs.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("b_id"),
        F.md5(
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.col("text"), F.lit(" v2")),
            )
            .otherwise(F.col("text"))
            .cast("binary")
        ).alias("b_h"),
    )
    joined = snap_a.join(
        snap_b, snap_a.a_id == snap_b.b_id, "full_outer"
    )
    status = (
        F.when(F.col("a_id").isNull(), "added")
        .when(F.col("b_id").isNull(), "removed")
        .when(F.col("a_h") != F.col("b_h"), "changed")
        .otherwise("unchanged")
    )
    key = F.coalesce(F.col("a_id"), F.col("b_id"))
    return (
        joined.select(status.alias("status"), key.alias("k"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("k").cast("bigint").alias("min_id"),
            F.max("k").cast("bigint").alias("max_id"),
        )
        .orderBy("status")
    )


@register(
    "boilerplate_prefix_strip",
    oracle="""
WITH keyed AS (
  SELECT doc_id, source, text,
         array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ')
           AS prefix
  FROM documents
),
src AS (SELECT source, count(*) AS n_src FROM keyed GROUP BY source),
boiler AS (
  SELECT k.source, k.prefix, count(*) AS n_pref
  FROM keyed k
  GROUP BY k.source, k.prefix
  HAVING count(*) >= 3
),
flagged AS (
  SELECT k.doc_id, k.source, length(k.text) AS len_full,
         CASE WHEN b.prefix IS NOT NULL
              AND b.n_pref * 5 >= s.n_src
              THEN length(k.prefix) + 1 ELSE 0 END AS len_cut
  FROM keyed k
  JOIN src s ON k.source = s.source
  LEFT JOIN boiler b ON k.source = b.source AND k.prefix = b.prefix
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN len_cut > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stripped,
       CAST(sum(len_cut) AS BIGINT) AS chars_saved,
       CAST(sum(len_full - len_cut) AS BIGINT) AS chars_kept
FROM flagged
GROUP BY source
ORDER BY source
""",
    tags=("datapipe", "boilerplate", "quality"),
)
def boilerplate_prefix_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal: a 6-word document PREFIX that repeats
    across ≥3 docs AND ≥20% of its source is crawl boilerplate
    (cookie banners, site headers) and is stripped.  The archetypal
    source-local cleanup every web corpus runs.

    Scale shape: the prefix key is scan-side; per-source totals and
    per-(source, prefix) counts are two aggregates over the SAME
    scan (cheap — prefix rows, not documents); the boilerplate set —
    tiny by construction, it only holds prefixes repeated ≥3 times —
    broadcasts back onto the corpus, so the documents themselves are
    never shuffled.  The 20% threshold compares counts carried ON the
    broadcast rows (n_pref * 5 >= n_src), keeping the predicate
    scan-side."""
    docs = _t(spark, sf_dir, "documents")
    prefix = F.array_join(
        F.slice(F.split(F.col("text"), " "), 1, 6), " "
    )
    keyed = docs.select(
        "doc_id", "source", F.length("text").alias("len_full"),
        prefix.alias("prefix"),
    )
    src_totals = keyed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_src")
    )
    boiler = (
        keyed.groupBy("source", "prefix")
        .agg(F.count(F.lit(1)).alias("n_pref"))
        .filter(F.col("n_pref") >= 3)
        .join(F.broadcast(src_totals), "source")
        .filter(F.col("n_pref") * 5 >= F.col("n_src"))
        .select(
            F.col("source").alias("b_source"),
            F.col("prefix").alias("b_prefix"),
        )
    )
    flagged = keyed.join(
        F.broadcast(boiler),
        (keyed.source == F.col("b_source"))
        & (keyed.prefix == F.col("b_prefix")),
        "left",
    ).select(
        keyed.source.alias("source"),
        "len_full",
        F.when(
            F.col("b_prefix").isNotNull(), F.length("prefix") + 1
        )
        .otherwise(0)
        .alias("len_cut"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("len_cut") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_stripped"),
            F.sum("len_cut").cast("bigint").alias("chars_saved"),
            F.sum(F.col("len_full") - F.col("len_cut"))
            .cast("bigint")
            .alias("chars_kept"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Temperature-based source mixing — count^alpha proportional sampling
# --------------------------------------------------------------------------
@register(
    "sample_temperature_mixture",
    oracle="""
WITH counts AS (
  SELECT source, count(*) AS n FROM documents GROUP BY source
), w AS (
  SELECT source, n, CAST(floor(sqrt(n)) AS BIGINT) AS isq FROM counts
), tot AS (
  SELECT sum(isq) AS tot_isq FROM w
), tgt AS (
  SELECT source, n, isq,
         greatest(1, least(n, (2000 * isq) // tot_isq)) AS target
  FROM w, tot
), ranked AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':temp-mix'), doc_id
         ) AS rn
  FROM documents
)
SELECT r.source,
       CAST(max(t.n) AS BIGINT) AS n_total,
       CAST(max(t.target) AS BIGINT) AS target,
       count(*) AS n_selected,
       CAST(sum(r.doc_id) AS BIGINT) AS id_checksum
FROM ranked r JOIN tgt t ON r.source = t.source
WHERE r.rn <= t.target
GROUP BY r.source
ORDER BY r.source
""",
    tags=("datapipe", "sample", "temperature"),
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing: sample each source proportional
    to count^alpha (alpha=0.5) against a global budget K=2000 — the
    standard move for flattening a skewed source distribution when
    assembling a training mix (big sources are deflated, small sources
    inflated, every source keeps >= 1 doc).

    Determinism across engines is engineered, not hoped for: the only
    float op is sqrt(n), immediately floored to an integer weight
    (IEEE-754 sqrt is correctly rounded, so floor(sqrt(n)) is exact for
    any count < 2^52); shares, budgets and the final threshold are pure
    integer arithmetic after that, so Spark and the oracle cannot drift
    at a rounding boundary.  Selection within a source is salted-hash
    order (same carve-out pattern as `sample_stratified_exact_k`).

    Scale shape: the per-source count and weight table is a tiny
    aggregate (|sources| rows) normalized in place by a bounded window
    sum and joined back via broadcast, so the corpus is touched exactly
    twice — once for counts (partial-agg, narrow), once for the ranked
    selection (one hash exchange on source + per-source top-target);
    pinned by its plan golden,
    tests/goldens/plans/sample_temperature_mixture.txt.
    The rank filter is a conjunction with the literal
    budget bound (rn <= K AND rn <= target), so the window planner can
    prune per-partition at K before the exact per-source threshold
    applies.  A rate-based variant with no window at all exists as
    `sample_weighted_mixture` for when exact counts aren't required."""
    docs = _t(spark, sf_dir, "documents")
    budget = 2000
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    w = counts.withColumn(
        "isq", F.floor(F.sqrt(F.col("n"))).cast("bigint")
    )
    # the normalizer is a window sum over the |sources|-row aggregate:
    # referencing `w` once keeps ONE corpus count pass in the plan (a
    # scalar-subquery/crossJoin spelling duplicates the whole count
    # subtree — the branches differ by a join-null filter, so
    # ReuseExchange can't merge them; measured, not guessed).  The
    # unpartitioned window is bounded by |sources| — allowlisted with
    # justification in tests/test_queries_oracle.py::_SINGLE_WINDOW_BOUNDED.
    tgt = w.withColumn(
        "tot_isq", F.sum("isq").over(W.partitionBy())
    ).select(
        "source",
        "n",
        F.greatest(
            F.lit(1).cast("bigint"),
            F.least(
                F.col("n").cast("bigint"),
                F.expr(f"({budget} * isq) div tot_isq"),
            ),
        ).alias("target"),
    )
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":temp-mix")))
    rn = F.row_number().over(W.partitionBy("source").orderBy(key, "doc_id"))
    ranked = docs.select("source", "doc_id", rn.alias("rn")).filter(
        F.col("rn") <= budget
    )
    return (
        ranked.join(F.broadcast(tgt), "source")
        .filter(F.col("rn") <= F.col("target"))
        .groupBy("source")
        .agg(
            F.max("n").cast("bigint").alias("n_total"),
            F.max("target").cast("bigint").alias("target"),
            F.count(F.lit(1)).alias("n_selected"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Epoch repetition — per-source fractional repeat factors as data
# --------------------------------------------------------------------------
@register(
    "corpus_epoch_repetition",
    oracle="""
WITH c AS (
  SELECT source, doc_id,
         CAST(substr(source, 4) AS INT) % 4 AS b,
         substr(md5(CAST(doc_id AS VARCHAR) || ':epoch'), 1, 4) AS h
  FROM documents
), n AS (
  SELECT source, doc_id,
         (CASE b WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 1 ELSE 2 END
          + CASE WHEN h < CASE b WHEN 0 THEN '8000' WHEN 1 THEN '0000'
                              WHEN 2 THEN '8000' ELSE '4000' END
                 THEN 1 ELSE 0 END) AS k
  FROM c
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(k) AS BIGINT) AS n_emitted,
       CAST(sum(CASE WHEN k > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_emitted,
       CAST(sum(doc_id * (k * (k + 1) // 2)) AS BIGINT) AS copy_checksum
FROM n GROUP BY source ORDER BY source
""",
    tags=("datapipe", "sample", "epochs"),
)
def corpus_epoch_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch weighting: emit each document floor(e) times
    plus one extra copy for a deterministic hash-fraction of docs, so a
    source with repeat factor e=1.5 contributes each doc once and half
    the docs twice — how a training mix runs some domains for 2.25
    epochs and others for 0.5 without a driver-side loop.  The factor
    table here derives from the source id (buckets -> 0.5 / 1.0 / 1.5 /
    2.25 epochs) with exact-hex fraction thresholds ('8000'/'4000'),
    keeping both engines integer/string-exact.

    Scale shape: the repeat plan is per-row arithmetic at the scan
    (no config shuffle — a real deployment broadcast-joins a tiny
    factor table), the fan-out is a map-side explode(sequence(1, k))
    that never materializes the corpus driver-side, and the only
    exchange is the final per-source rollup over partial aggregates.
    The copy checksum sums doc_id * copy_index over the exploded rows,
    pinning the emitted copy indices (not just counts) to the oracle's
    closed form doc_id * k(k+1)/2."""
    docs = _t(spark, sf_dir, "documents")
    b = F.expr("CAST(substr(source, 4) AS INT) % 4")
    full = (
        F.when(b == 0, 0).when(b == 1, 1).when(b == 2, 1).otherwise(2)
    )
    thr = (
        F.when(b == 0, "8000").when(b == 1, "0000")
        .when(b == 2, "8000").otherwise("4000")
    )
    h = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch"))), 1, 4
    )
    k = (full + (h < thr).cast("int")).alias("k")
    planned = docs.select("source", "doc_id", k)
    # plan-side accounting needs no fan-out: one partial agg over k
    plan_agg = planned.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("k").cast("bigint").alias("n_emitted"),
        F.sum((F.col("k") > 0).cast("int")).cast("bigint")
        .alias("n_docs_emitted"),
    )
    # the emitted stream itself: map-side explode, aggregated per source
    emit_agg = (
        planned.filter(F.col("k") > 0)
        .withColumn("copy", F.explode(F.sequence(F.lit(1), F.col("k"))))
        .groupBy("source")
        .agg(
            F.sum(F.col("doc_id") * F.col("copy"))
            .cast("bigint")
            .alias("copy_checksum")
        )
    )
    # both sides are |sources| rows after their partial aggs; the join
    # is broadcast-tiny, so the corpus is never shuffled by doc_id
    return (
        plan_agg.join(F.broadcast(emit_agg), "source", "left")
        .select(
            "source",
            "n_docs",
            "n_emitted",
            "n_docs_emitted",
            F.coalesce("copy_checksum", F.lit(0).cast("bigint"))
            .alias("copy_checksum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Per-language top-p quality cut — exact discrete-percentile threshold
# --------------------------------------------------------------------------
@register(
    "quality_topp_per_language",
    oracle="""
WITH cut AS (
  SELECT lang,
         percentile_disc(0.3) WITHIN GROUP (ORDER BY n_chars) AS c
  FROM documents GROUP BY lang
)
SELECT d.lang,
       count(*) AS n_kept,
       CAST(min(d.n_chars) AS BIGINT) AS min_kept_chars,
       CAST(max(t.c) AS BIGINT) AS cutoff,
       CAST(sum(d.doc_id) AS BIGINT) AS id_checksum
FROM documents d JOIN cut t ON d.lang = t.lang
WHERE d.n_chars >= t.c
GROUP BY d.lang
ORDER BY d.lang
""",
    tags=("datapipe", "quality", "topp"),
)
def quality_topp_per_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-p quality cut: keep the best ~70% of documents
    WITHIN each language, so low-resource languages aren't wiped out by
    a global threshold — the balanced-curation move after any scored
    quality pass (here the score is n_chars; swap in any scorer
    column).  The cutoff is percentile_disc, NOT percentile_cont:
    the discrete form picks an actual data value, so both engines
    compute bit-identical thresholds, while continuous interpolation
    drifts in float space and can flip boundary documents (measured:
    Spark 3.0999999999999996 vs DuckDB 3.0 on the same input — the
    reason this op pins the disc form).

    Scale shape: the per-language cutoff is one tiny ordered-set
    aggregate (|langs| rows) broadcast back; the corpus is scanned
    twice (cutoff pass, filter pass), never shuffled by doc —
    the same two-pass envelope as `sample_temperature_mixture`."""
    docs = _t(spark, sf_dir, "documents")
    cut = docs.groupBy("lang").agg(
        F.expr(
            "percentile_disc(0.3) WITHIN GROUP (ORDER BY n_chars)"
        ).alias("c")
    )
    return (
        docs.join(F.broadcast(cut), "lang")
        .filter(F.col("n_chars") >= F.col("c"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("n_chars").cast("bigint").alias("min_kept_chars"),
            F.max("c").cast("bigint").alias("cutoff"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Composed mixture-assembly pipeline — topp quality -> temperature
# targets -> epoch plan, one declared plan
# --------------------------------------------------------------------------
@register(
    "pipeline_mixture_assembly",
    oracle="""
WITH cut AS (
  SELECT lang,
         percentile_disc(0.3) WITHIN GROUP (ORDER BY n_chars) AS c
  FROM documents GROUP BY lang
), kept AS (
  SELECT d.doc_id, d.source
  FROM documents d JOIN cut t ON d.lang = t.lang
  WHERE d.n_chars >= t.c
), counts AS (
  SELECT source, count(*) AS n,
         CAST(floor(sqrt(count(*))) AS BIGINT) AS isq
  FROM kept GROUP BY source
), tot AS (
  SELECT sum(isq) AS tot_isq FROM counts
), tgt AS (
  SELECT source, n,
         greatest(1, least(n, (1000 * isq) // tot_isq)) AS target
  FROM counts, tot
), ranked AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':mix-v1'), doc_id
         ) AS rn
  FROM kept
), selected AS (
  SELECT r.source, r.doc_id
  FROM ranked r JOIN tgt t ON r.source = t.source
  WHERE r.rn <= t.target
)
SELECT s.source,
       CAST(max(t.n) AS BIGINT) AS n_quality,
       CAST(max(t.target) AS BIGINT) AS target,
       count(*) AS n_selected,
       CAST(sum(CASE WHEN s.doc_id % 2 = 0 THEN 2 ELSE 1 END)
            AS BIGINT) AS n_emitted,
       CAST(sum(s.doc_id) AS BIGINT) AS id_checksum
FROM selected s JOIN tgt t ON s.source = t.source
GROUP BY s.source
ORDER BY s.source
""",
    tags=("datapipe", "pipeline", "mixture"),
)
def pipeline_mixture_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture-assembly layer composed into ONE declared plan:
    per-language top-p quality cut (percentile_disc thresholds,
    broadcast) → per-source temperature targets over the SURVIVORS
    (count^0.5 against a 1000-doc budget, integer-exact) → salted-hash
    exact-target selection → a 2-epochs-for-even-docs repeat plan
    accounted per source.  Each stage is the standalone op
    (`quality_topp_per_language`, `sample_temperature_mixture`,
    `corpus_epoch_repetition`) — the point of this query is that the
    composition stays a single Catalyst plan: the quality cut's
    broadcast feeds the count pass without materialization, and the
    temperature targets ride a second broadcast into the ranked
    selection.

    Scale shape: corpus scanned three times (cutoff, counts, ranked
    selection) with every inter-stage table at |langs| or |sources|
    rows riding broadcasts; the only corpus-cardinality exchange is
    the one source-keyed window, same envelope as the standalone
    temperature op."""
    docs = _t(spark, sf_dir, "documents")
    budget = 1000
    cut = docs.groupBy("lang").agg(
        F.expr(
            "percentile_disc(0.3) WITHIN GROUP (ORDER BY n_chars)"
        ).alias("c")
    )
    kept = (
        docs.join(F.broadcast(cut), "lang")
        .filter(F.col("n_chars") >= F.col("c"))
        .select("doc_id", "source")
    )
    counts = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    w = counts.withColumn(
        "isq", F.floor(F.sqrt(F.col("n"))).cast("bigint")
    )
    tgt = w.withColumn(
        "tot_isq", F.sum("isq").over(W.partitionBy())
    ).select(
        "source",
        "n",
        F.greatest(
            F.lit(1).cast("bigint"),
            F.least(
                F.col("n").cast("bigint"),
                F.expr(f"({budget} * isq) div tot_isq"),
            ),
        ).alias("target"),
    )
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix-v1")))
    rn = F.row_number().over(W.partitionBy("source").orderBy(key, "doc_id"))
    ranked = kept.select("source", "doc_id", rn.alias("rn")).filter(
        F.col("rn") <= budget
    )
    selected = ranked.join(F.broadcast(tgt), "source").filter(
        F.col("rn") <= F.col("target")
    )
    epochs = F.when(F.col("doc_id") % 2 == 0, 2).otherwise(1)
    return (
        selected.groupBy("source")
        .agg(
            F.max("n").cast("bigint").alias("n_quality"),
            F.max("target").cast("bigint").alias("target"),
            F.count(F.lit(1)).alias("n_selected"),
            F.sum(epochs).cast("bigint").alias("n_emitted"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("source")
    )
