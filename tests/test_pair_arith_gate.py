"""Scale-gated per-pair arithmetic spelling (similarity.pair_dot family).

Round-11 optimization: Σ aᵢ·bᵢ-shaped per-pair expressions have two
measured regimes — below ~100k corpus rows the interpreted
zip_with/aggregate fold wins (each unrolled 64-term tree adds ~0.6 s of
fixed per-execution plan cost; interleaved min-of-6 at sf0.1: fold
0.566 s vs any-unrolled-arm 1.1-1.6 s on the bruteforce shape), above
it the fold's CodegenFallback eval sites degrade megamorphically in
long-lived JVMs (dev/dupskew_r11/embcos_ab.json: 5.7 s → 70-83 s for
one unchanged plan) and the unrolled codegen form is the only safe
spelling.  ``pair_dot`` / ``row_norm`` / ``pair_cosine`` pick the shape
from the footer row count (``catalog.table_facts``, forged here with
``testing.forged_sizes`` on either side of the gate, so the tests do
not depend on the size of the corpus under test); BOTH shapes share the exact left-associated
fold order, so every double they produce is bit-identical.

These tests pin (1) that bit-identity, element-for-element, on real
corpus vectors; (2) the gate flip in both directions; (3) that a real
gated query returns identical rows on either side of the gate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_comet_spark.catalog import load_table
from datafusion_comet_spark.queries import load_all
from datafusion_comet_spark.queries import similarity as sim
from datafusion_comet_spark.testing import forged_sizes

# row counts of both gated corpora just below and at the gate
_GATED = ("embeddings", "documents")
BELOW = dict.fromkeys(_GATED, sim._UNROLL_MIN_ROWS - 1)
ABOVE = dict.fromkeys(_GATED, sim._UNROLL_MIN_ROWS)


def test_gate_picks_fold_below_and_unrolled_above(sf_dir):
    with forged_sizes(sf_dir, rows=BELOW):
        assert sim.pair_dot(sf_dir) is sim.dot
        assert sim.row_norm(sf_dir) is sim.l2_norm
        assert sim.pair_cosine(sf_dir) is sim.cosine
    with forged_sizes(sf_dir, rows=ABOVE):
        assert sim.pair_dot(sf_dir) is sim.dot_unrolled
        assert sim.row_norm(sf_dir) is sim.l2_norm_unrolled
        assert sim.pair_cosine(sf_dir) is sim.cosine_unrolled


def test_spellings_bit_identical_on_corpus_vectors(spark, sf_dir):
    """dot/norm/cosine folds vs unrolled forms: exact double equality
    (same left-associated accumulation order) on every pair drawn from
    real embedding vectors."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 12)
        .select("vec_id", sim._as_double("embedding").alias("emb"))
    )
    a = emb.select(F.col("vec_id").alias("a"), F.col("emb").alias("va"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("emb").alias("vb"))
    pairs = a.crossJoin(b).select(
        "a",
        "b",
        sim.dot(F.col("va"), F.col("vb")).alias("d_fold"),
        sim.dot_unrolled(F.col("va"), F.col("vb")).alias("d_unr"),
        sim.l2_norm(F.col("va")).alias("n_fold"),
        sim.l2_norm_unrolled(F.col("va")).alias("n_unr"),
        sim.cosine(F.col("va"), F.col("vb")).alias("c_fold"),
        sim.cosine_unrolled(F.col("va"), F.col("vb")).alias("c_unr"),
    )
    rows = pairs.collect()
    assert len(rows) == 144
    for r in rows:
        # exact equality, not approx: the contract is bit-identity
        assert r["d_fold"] == r["d_unr"], (r["a"], r["b"])
        assert r["n_fold"] == r["n_unr"], r["a"]
        if r["a"] != r["b"]:
            assert r["c_fold"] == r["c_unr"], (r["a"], r["b"])


def test_gated_query_identical_rows_both_sides(spark, sf_dir):
    """ann_bruteforce_topk collects the same rows whichever side of the
    gate builds it — the end-to-end pin that flipping the spelling at
    corpus scale cannot change answers."""
    reg = load_all()
    with forged_sizes(sf_dir, rows=BELOW):
        assert sim.pair_dot(sf_dir) is sim.dot
        below = reg["ann_bruteforce_topk"].fn(spark, sf_dir).collect()
    with forged_sizes(sf_dir, rows=ABOVE):
        assert sim.pair_dot(sf_dir) is sim.dot_unrolled  # the flip is active
        above = reg["ann_bruteforce_topk"].fn(spark, sf_dir).collect()
    assert [tuple(r) for r in below] == [tuple(r) for r in above]


# --- the LSH signature-match count shares the same gate --------------------


def test_sig_match_gate_flip(sf_dir):
    from datafusion_comet_spark.queries import datapipe as dp

    with forged_sizes(sf_dir, rows=BELOW):
        assert dp.sig_match_count(sf_dir) is dp._sig_match_fold
    with forged_sizes(sf_dir, rows=ABOVE):
        assert dp.sig_match_count(sf_dir) is dp._sig_match_unrolled


def test_sig_match_spellings_identical_on_real_signatures(spark, sf_dir):
    """Fold vs unrolled equal-position counts on every real band-bucket
    pair drawn from the corpus signatures: exact int equality
    (integer comparisons — no floating-point order concern at all)."""
    from datafusion_comet_spark.queries import datapipe as dp

    docs = load_table(spark, sf_dir, "documents")
    sigs = dp.minhash_signatures(docs)
    a = sigs.select(F.col("doc_id").alias("a"), F.col("sig").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("b"), F.col("sig").alias("sb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .limit(2000)
        .select(
            "a",
            "b",
            dp._sig_match_fold(F.col("sa"), F.col("sb")).alias("m_fold"),
            dp._sig_match_unrolled(F.col("sa"), F.col("sb")).alias("m_unr"),
        )
    )
    rows = pairs.collect()
    assert rows, "no signature pairs in the corpus?"
    for r in rows:
        assert r["m_fold"] == r["m_unr"], (r["a"], r["b"])


def test_lsh_queries_identical_rows_both_sides(spark, sf_dir):
    """dedup_minhash_lsh and dedup_lsh_star_cluster collect the same
    rows whichever side of the gate builds the match count."""
    from datafusion_comet_spark.queries import datapipe as dp

    reg = load_all()
    with forged_sizes(sf_dir, rows=BELOW):
        assert dp.sig_match_count(sf_dir) is dp._sig_match_fold
        below = {
            n: [tuple(r) for r in reg[n].fn(spark, sf_dir).collect()]
            for n in ("dedup_minhash_lsh", "dedup_lsh_star_cluster")
        }
    with forged_sizes(sf_dir, rows=ABOVE):
        assert dp.sig_match_count(sf_dir) is dp._sig_match_unrolled
        for n, rows in below.items():
            above = [tuple(r) for r in reg[n].fn(spark, sf_dir).collect()]
            assert rows == above, n
