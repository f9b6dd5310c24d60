"""Multimodal-column queries: binary payload + metadata plumbing.

North-star pipeline operators (BASELINE.json): media handling at
100 TB keeps payloads opaque (binary column / object-store pointer),
metadata typed, and decode in Arrow-batched Python.  Compressed
codecs (JPEG/PNG) are stubbed (no image libs in this container — see
operators/multimodal.py), but round 3 added a REAL decode path for
uncompressed PPM (pure numpy, ``multimodal_ppm_real_decode``), and
everything Spark-side — schema, explode fan-out, mapInPandas batch
shape, aggregation — is real and oracle-checked throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.multimodal import attach_payload, decode_features, sample_frames
from . import register
from ._values_oracles import VALUES_ORACLES


def _frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return attach_payload(load_table(spark, sf_dir, "documents"))


@register(
    "multimodal_metadata",
    oracle="""
SELECT format, count(*) AS n,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       max(width * height) AS max_pixels,
       min(md5(text)) AS min_md5
FROM (
  SELECT doc_id, text,
         ['jpeg', 'png', 'webp'][CAST(doc_id % 3 AS INT) + 1] AS format,
         CAST(doc_id % 640 + 16 AS INT) AS width,
         CAST(doc_id % 480 + 16 AS INT) AS height
  FROM documents
) t
GROUP BY format
ORDER BY format
""",
    tags=("multimodal", "metadata"),
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-plane query over multimodal frames: group by declared
    format, aggregate payload sizes / dimensions / content hashes —
    all without touching (decoding) the payload bytes.  At 100 TB this
    is the cheap pre-filter pass that prunes the expensive decode."""
    frames = _frames(spark, sf_dir)
    return (
        frames.select(
            F.col("meta.format").alias("format"),
            F.col("meta.n_bytes").alias("n_bytes"),
            (F.col("meta.width") * F.col("meta.height")).alias("pixels"),
            F.md5("payload").alias("h"),
        )
        .groupBy("format")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_bytes").alias("total_bytes"),
            F.max("pixels").alias("max_pixels"),
            F.min("h").alias("min_md5"),
        )
        .orderBy("format")
    )


@register(
    "multimodal_decode_stub",
    # VALUES oracle: independent pure-pandas recompute of the deterministic
    # fake decode (dev/gen_values_oracles.py); also pytest-pinned.
    oracle=VALUES_ORACLES["multimodal_decode_stub"],
    tags=("multimodal", "decode", "mapInPandas"),
)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode/feature-extract via mapInPandas (STUBBED
    codec, deterministic fake — operators/multimodal.py): returns
    per-format feature aggregates.  The Spark-side contract (schema,
    batching, partition parallelism) is the part under test."""
    feats = decode_features(_frames(spark, sf_dir))
    return (
        feats.groupBy("format")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal-exact mean: mean_byte is round(x, 6), so the
            # decimal(18,6) cast is lossless and the avg is
            # partition-order-independent — required for the pinned
            # VALUES oracle (double-sum order flakes at rounding
            # boundaries, verify SKILL gotcha #1)
            F.round(
                F.avg(F.col("mean_byte").cast("decimal(18,6)")).cast("double"),
                4,
            ).alias("avg_mean_byte"),
            F.max("max_byte").alias("max_byte"),
            F.sum("n_frames").alias("total_frames"),
        )
        .orderBy("format")
    )


@register(
    "multimodal_frame_sample",
    oracle="""
SELECT doc_id, format, frame_no, length(frame) AS frame_len,
       md5(frame) AS frame_md5
FROM (
  SELECT doc_id, format, CAST(src // 4 AS INT) AS frame_no,
         substring(text, CAST(src * 64 + 1 AS INT), 64) AS frame
  FROM (
    SELECT doc_id, text,
           ['jpeg', 'png', 'webp'][CAST(doc_id % 3 AS INT) + 1] AS format,
           unnest(generate_series(
             0, CAST(ceil(length(text) / 64.0) AS BIGINT) - 1)) AS src
    FROM documents
  ) s
  WHERE src % 4 = 0
) t
WHERE doc_id < 50
ORDER BY doc_id, frame_no
""",
    tags=("multimodal", "frames", "explode"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided frame sampling (video-style): every 4th 64-byte frame
    per payload, one row per sampled frame with its content hash.
    The explode is partition-local — no shuffle until the final
    order/limit, which exists only for oracle determinism."""
    frames = _frames(spark, sf_dir)
    sampled = sample_frames(frames, stride=4)
    return sampled.filter(F.col("doc_id") < 50).orderBy("doc_id", "frame_no")


@register(
    "multimodal_resize_stub",
    oracle="""
SELECT format,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(octet_length(encode(text))
                 * (64.0 * 64.0) / (((doc_id % 640) + 16) * ((doc_id % 480) + 16)))
           AS BIGINT)) AS BIGINT) AS total_resized_bytes
FROM (
  SELECT doc_id, text,
         ['jpeg', 'png', 'webp'][CAST(doc_id % 3 AS INT) + 1] AS format
  FROM documents
) t
GROUP BY format
ORDER BY format
""",
    tags=("multimodal", "resize", "mapInPandas"),
)
def multimodal_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing via Arrow-batched mapInPandas (STUBBED codec —
    the real pixel resample needs an image library; the deterministic
    stand-in scales payload size by the 64×64-target to source-dims
    ratio from the metadata struct).  What must be right at 100 TB and
    IS exercised: the binary+struct schema through a Python batch
    iterator, per-partition parallelism, and the metadata arithmetic —
    which the SQL oracle recomputes independently."""
    import pandas as pd

    frames = _frames(spark, sf_dir)

    def resize_batches(it):
        for pdf in it:
            meta = pdf["meta"]
            w = meta.apply(lambda m: m["width"]).astype("int64")
            h = meta.apply(lambda m: m["height"]).astype("int64")
            n_bytes = pdf["payload"].apply(len).astype("int64")
            import numpy as np
            scaled = np.floor(
                n_bytes * (64.0 * 64.0) / (w * h)
            ).astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "format": meta.apply(lambda m: m["format"]),
                    "resized_bytes": scaled,
                }
            )

    resized = frames.mapInPandas(
        resize_batches, "doc_id long, format string, resized_bytes long"
    )
    return (
        resized.groupBy("format")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("resized_bytes").cast("bigint").alias("total_resized_bytes"),
        )
        .orderBy("format")
    )


@register(
    "multimodal_embed_ann",
    oracle="""
WITH emb AS (
  SELECT doc_id,
         list_transform(range(0, 8),
           j -> CAST((octet_length(encode(text)) * (j + 1)
                      + ascii(substr(text, CAST(j + 1 AS INT), 1))) % 97
                AS DOUBLE)) AS emb
  FROM documents WHERE text IS NOT NULL
)
SELECT qid, doc_id, sim, rn
FROM (
  SELECT q.doc_id AS qid, c.doc_id AS doc_id,
         round(list_cosine_similarity(q.emb, c.emb), 6) AS sim,
         CAST(row_number() OVER (
           PARTITION BY q.doc_id
           ORDER BY round(list_cosine_similarity(q.emb, c.emb), 6) DESC,
                    c.doc_id
         ) AS INT) AS rn
  FROM (SELECT * FROM emb WHERE doc_id < 3) q
  CROSS JOIN emb c
  WHERE q.doc_id <> c.doc_id
) t
WHERE rn <= 5
ORDER BY qid, rn
""",
    tags=("multimodal", "similarity", "ann", "pipeline"),
)
def multimodal_embed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal similarity: payload bytes → featurizer →
    cosine top-k — the compose-everything pipeline (ingest schema from
    operators/multimodal.py, Arrow-batched Python featurizer, JVM-side
    broadcast cosine join from the ANN family).

    The featurizer runs in ``mapInPandas`` exactly where a real image
    embedding model would (Arrow batches in, one row per payload out);
    the STAND-IN embedding is a deterministic byte formula so the
    DuckDB oracle can recompute it — pinning that the Python batch
    boundary, the broadcast join, and the per-query ranking lose
    nothing.  Dot products are exact integer sums at this formula's
    scale, so cross-engine cosine agrees bit-for-bit before rounding.

    Scale shape: embed is partition-local (no shuffle); candidates
    never shuffle (broadcast queries); the only exchange is the final
    per-query top-k, which is |queries|×k rows."""
    import pandas as pd

    from .similarity import dot, l2_norm

    frames = _frames(spark, sf_dir).filter(F.col("payload").isNotNull())

    def embed(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n = len(b)
                rows.append(
                    (
                        doc_id,
                        [float((n * (j + 1) + b[j]) % 97) for j in range(8)],
                    )
                )
            yield pd.DataFrame(rows, columns=["doc_id", "emb"])

    emb = frames.select("doc_id", "payload").mapInPandas(
        embed, "doc_id long, emb array<double>"
    )
    emb = emb.select("doc_id", "emb", l2_norm(F.col("emb")).alias("nrm"))
    queries = emb.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("qid"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = emb.join(
        F.broadcast(queries), F.col("doc_id") != F.col("qid")
    ).select(
        "qid",
        "doc_id",
        F.round(
            dot(F.col("q_emb"), F.col("emb"))
            / (F.col("nrm") * F.col("q_nrm")),
            6,
        ).alias("sim"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("doc_id"))
    return (
        scored.select(
            "qid", "doc_id", "sim", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 5)
        .orderBy("qid", "rn")
    )


@register(
    "multimodal_audio_framing",
    oracle="""
SELECT doc_id, n_samples, sample_rate,
       CAST(CASE WHEN n_samples >= 400
                 THEN (n_samples - 400) // 160 + 1 ELSE 0 END AS BIGINT)
         AS n_frames,
       CAST(CASE WHEN n_samples >= 400
                 THEN ((n_samples - 400) // 160) * 160 ELSE NULL END
            AS BIGINT) AS last_frame_start,
       CAST((n_samples * 1000000) // sample_rate AS BIGINT) AS duration_us
FROM (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_samples,
         CASE WHEN doc_id % 2 = 0 THEN 16000 ELSE 8000 END AS sample_rate
  FROM documents WHERE text IS NOT NULL AND doc_id < 200
)
ORDER BY doc_id
""",
    tags=("multimodal", "audio", "frames"),
)
def multimodal_audio_framing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-column framing plan: overlapped analysis windows (frame
    400 samples, hop 160 — the speech-feature convention) computed
    from metadata ONLY: n_frames = (n - frame)//hop + 1, duration_us =
    n·1e6 div rate (integer domain — float division of 348/16000 lands
    on a .5 rounding boundary where Spark's decimal-string HALF_UP and
    DuckDB's binary value disagree; exact integer microseconds dodge
    the class).  Distinct from `multimodal_frame_sample` (non-overlapping
    video stride): overlapped framing multiplies rows ×(frame/hop)
    ≈2.5 if exploded, so at scale the DECISION to explode happens
    after this metadata pass budgets it — exactly how an audio
    pipeline plans STFT/feature extraction before touching payload
    bytes.  The payload decode itself remains the documented stub
    (operators/multimodal.py: no audio libs in this container); byte
    length stands in for sample count so the oracle is pure
    arithmetic."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("doc_id") < 200)
    )
    n = F.length("text").cast("bigint")
    rate = F.when(F.col("doc_id") % 2 == 0, 16000).otherwise(8000)
    meta = docs.select(
        "doc_id", n.alias("n_samples"), rate.alias("sample_rate")
    )
    n_frames = F.when(
        F.col("n_samples") >= 400,
        F.floor((F.col("n_samples") - 400) / 160) + 1,
    ).otherwise(0)
    last_start = F.when(
        F.col("n_samples") >= 400,
        F.floor((F.col("n_samples") - 400) / 160) * 160,
    ).cast("bigint")
    return (
        meta.select(
            "doc_id",
            "n_samples",
            "sample_rate",
            n_frames.cast("bigint").alias("n_frames"),
            last_start.alias("last_frame_start"),
            F.expr("(n_samples * 1000000) div sample_rate")
            .cast("bigint")
            .alias("duration_us"),
        )
        .orderBy("doc_id")
    )


@register(
    "multimodal_ppm_real_decode",
    oracle="""
SELECT doc_id,
       CAST(8 + doc_id % 8 AS INT)  AS width,
       CAST(6 + doc_id % 6 AS INT)  AS height,
       CAST((8 + doc_id % 8) * (6 + doc_id % 6) AS BIGINT) AS n_pixels,
       CAST(3 * (8 + doc_id % 8) *
            (((6 + doc_id % 6) // 2) * (doc_id % 256) +
             ((6 + doc_id % 6) - (6 + doc_id % 6) // 2)
               * ((doc_id * 7 + 13) % 256)) AS BIGINT) AS sum_pixels,
       CAST(greatest(doc_id % 256, (doc_id * 7 + 13) % 256) AS BIGINT)
         AS max_byte
FROM documents
WHERE doc_id < 400
ORDER BY doc_id
""",
    tags=("multimodal", "decode", "real"),
)
def multimodal_ppm_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end (round 3): binary PPM (P6)
    payloads are encoded per doc, cross the Arrow boundary as a
    binary column, and are PARSED BACK — header text parse + numpy
    frombuffer/reshape — into pixel statistics inside a second
    mapInPandas stage.  No codec library involved (PPM is raw RGB),
    so unlike ``multimodal_decode_stub`` nothing here is faked; the
    compressed-codec stub remains for JPEG/PNG by environment
    necessity.

    The synthetic image is two constant-gray bands, so every decoded
    statistic has a closed form the DuckDB oracle computes from
    doc_id alone — the decode path is verified value-exactly, not
    just shape-checked.  Scale shape: both Python stages are
    Arrow-batched and partition-local (zero shuffles before the final
    sort); payload bytes never enter the JVM row format."""
    from typing import Iterator

    import pandas as pd

    from ..operators.multimodal import decode_ppm_p6, encode_ppm_p6

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 400)
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": [
                        encode_ppm_p6(
                            8 + int(d) % 8,
                            6 + int(d) % 6,
                            int(d) % 256,
                            (int(d) * 7 + 13) % 256,
                        )
                        for d in ids
                    ],
                }
            )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = [decode_ppm_p6(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [s["width"] for s in stats],
                    "height": [s["height"] for s in stats],
                    "n_pixels": [s["n_pixels"] for s in stats],
                    "sum_pixels": [s["sum_pixels"] for s in stats],
                    "max_byte": [s["max_byte"] for s in stats],
                }
            )

    encoded = docs.mapInPandas(encode, schema="doc_id long, payload binary")
    decoded = encoded.mapInPandas(
        decode,
        schema=(
            "doc_id long, width int, height int, n_pixels long, "
            "sum_pixels long, max_byte long"
        ),
    )
    return decoded.orderBy("doc_id")


@register(
    "multimodal_wav_real_decode",
    oracle="""
SELECT doc_id,
       CAST(1 + doc_id % 2 AS INT) AS channels,
       CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
       CAST(64 + doc_id % 64 AS BIGINT) AS n_frames,
       CAST((1 + doc_id % 2) *
            (((64 + doc_id % 64) // 2) * (doc_id % 1000)
             - ((64 + doc_id % 64) - (64 + doc_id % 64) // 2)
               * ((doc_id * 3) % 1000)) AS BIGINT) AS sum_samples,
       CAST(greatest(doc_id % 1000, (doc_id * 3) % 1000) AS BIGINT) AS peak
FROM documents
WHERE doc_id < 400
ORDER BY doc_id
""",
    tags=("multimodal", "decode", "audio", "real"),
)
def multimodal_wav_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: RIFF/WAVE PCM16 payloads are
    encoded per doc, cross the Arrow boundary as a binary column, and
    are parsed back — a proper chunk walk (fmt /data discovery, word
    alignment) + numpy frombuffer — into sample statistics inside a
    second mapInPandas stage.  The audio sibling of
    ``multimodal_ppm_real_decode``: WAV/PCM needs no codec library, so
    nothing here is faked; compressed codecs (MP3/FLAC) remain
    stubbed by environment necessity (operators/multimodal.py).

    The synthetic waveform is a two-level step identical on every
    channel, so channels/sample_rate/n_frames/sum/peak all have
    closed forms the DuckDB oracle computes from doc_id alone — the
    decode path is verified value-exactly, including the stereo
    interleave (the sum doubles with the channel count).  Scale
    shape: both Python stages are Arrow-batched and partition-local
    (zero shuffles before the final sort); payload bytes never enter
    the JVM row format."""
    from typing import Iterator

    import pandas as pd

    from ..operators.multimodal import decode_wav_pcm16, encode_wav_pcm16

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 400)
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": [
                        encode_wav_pcm16(
                            64 + int(d) % 64,
                            1 + int(d) % 2,
                            8000 + (int(d) % 4) * 4000,
                            int(d) % 1000,
                            -((int(d) * 3) % 1000),
                        )
                        for d in ids
                    ],
                }
            )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = [decode_wav_pcm16(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "channels": [s["channels"] for s in stats],
                    "sample_rate": [s["sample_rate"] for s in stats],
                    "n_frames": [s["n_frames"] for s in stats],
                    "sum_samples": [s["sum_samples"] for s in stats],
                    "peak": [s["peak"] for s in stats],
                }
            )

    encoded = docs.mapInPandas(encode, schema="doc_id long, payload binary")
    decoded = encoded.mapInPandas(
        decode,
        schema=(
            "doc_id long, channels int, sample_rate int, n_frames long, "
            "sum_samples long, peak long"
        ),
    )
    return decoded.orderBy("doc_id")


@register(
    "multimodal_format_sniff",
    oracle="""
SELECT CASE WHEN doc_id % 3 = 0 THEN 'ppm'
            WHEN doc_id % 3 = 1 THEN 'wav'
            ELSE 'unknown' END AS fmt,
       count(*) AS n,
       CAST(sum(CASE WHEN doc_id % 3 = 0
                     THEN 3 * (8 + doc_id % 8) * (6 + doc_id % 6)
                     WHEN doc_id % 3 = 1
                     THEN 2 * (1 + doc_id % 2) * (64 + doc_id % 64)
                     ELSE 16 END) AS BIGINT) AS payload_bytes
FROM documents
WHERE doc_id < 400
GROUP BY 1
ORDER BY fmt
""",
    tags=("multimodal", "sniff", "dispatch"),
)
def multimodal_format_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-format dispatch by magic bytes: a mixed binary column
    (PPM images, WAV audio, opaque blobs) is classified from its first
    bytes — `P6` vs `RIFF....WAVE` vs unknown — the routing step every
    real multimodal ingest runs before choosing a decoder, here over
    the same real encoders the decode ops use.  Classification is pure
    JVM expression work on a binary prefix (substring on binary +
    decode), no Python in the sniff path: payloads are produced by one
    Arrow-batched encode stage, and the dispatch itself is a codegen
    CASE over the first bytes.  The per-format byte accounting
    (raster = 3wh for PPM, data chunk = 2·channels·frames for WAV) has
    closed forms the oracle computes from doc_id alone.

    Scale shape: one encode pass + scan-side classification + one
    partial-agg rollup to |formats| rows; payloads never shuffle."""
    from typing import Iterator

    import pandas as pd

    from ..operators.multimodal import encode_ppm_p6, encode_wav_pcm16

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 400)
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                if d % 3 == 0:
                    payloads.append(
                        encode_ppm_p6(
                            8 + d % 8, 6 + d % 6, d % 256, (d * 7 + 13) % 256
                        )
                    )
                elif d % 3 == 1:
                    payloads.append(
                        encode_wav_pcm16(
                            64 + d % 64, 1 + d % 2,
                            8000 + (d % 4) * 4000, d % 1000,
                            -((d * 3) % 1000),
                        )
                    )
                else:
                    payloads.append(bytes([d % 256]) * 16)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    encoded = docs.mapInPandas(encode, schema="doc_id long, payload binary")
    # binary-literal comparison — decode(UTF-8) would raise on the
    # opaque blobs' invalid byte sequences under ANSI
    magic_ppm = F.expr("substring(payload, 1, 2) = X'5036'")  # 'P6'
    magic_riff = F.expr("substring(payload, 1, 4) = X'52494646'")  # 'RIFF'
    magic_wave = F.expr("substring(payload, 9, 4) = X'57415645'")  # 'WAVE'
    fmt = (
        F.when(magic_ppm, "ppm")
        .when(magic_riff & magic_wave, "wav")
        .otherwise("unknown")
    )
    # payload accounting: PPM raster bytes after the text header;
    # WAV data-chunk bytes (total minus the 44-byte canonical header);
    # opaque blobs count whole
    plen = F.length("payload")
    header_ppm = F.length(
        F.concat(
            F.lit("P6\n"),
            (F.lit(8) + F.col("doc_id") % 8).cast("string"),
            F.lit(" "),
            (F.lit(6) + F.col("doc_id") % 6).cast("string"),
            F.lit("\n255\n"),
        )
    )
    body = (
        F.when(fmt == "ppm", plen - header_ppm)
        .when(fmt == "wav", plen - 44)
        .otherwise(plen)
    )
    return (
        encoded.select(fmt.alias("fmt"), body.alias("body"))
        .groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("body").cast("bigint").alias("payload_bytes"),
        )
        .orderBy("fmt")
    )
