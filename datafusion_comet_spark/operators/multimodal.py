"""Multimodal columns: opaque binary payloads + typed metadata.

The 100 TB training-pipeline posture for image/audio/video: the
payload is an opaque ``binary`` column (or a pointer to object
storage), metadata travels as a typed struct beside it, and all
decode / feature-extraction runs as Arrow-batched Python over
``mapInPandas`` — Spark never interprets the bytes, so the plan
(partitioning, pushdown on metadata, batch shape) is identical
whether the payload is a JPEG or a synthetic blob.

The compressed-codec step is a stand-in: no image/audio codec library
ships with the engine, so ``decode_image_batch`` computes
deterministic byte statistics in place of pixel statistics.  That
exercises the full Spark-side plumbing — schema, batching, partition
parallelism — which is the part that must be right at scale.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Deterministic media-type assignment for the synthetic corpus.
FORMATS = ("jpeg", "png", "webp")

DECODED_SCHEMA = (
    "doc_id long, format string, n_bytes long, "
    "mean_byte double, max_byte long, n_frames long"
)


def attach_payload(docs: DataFrame) -> DataFrame:
    """documents → multimodal frame: payload binary + metadata struct.

    Payload bytes are the UTF-8 encoding of the text (a deterministic
    stand-in for real media bytes); metadata mirrors what an ingest
    service records (format, declared dims, byte size).  At scale this
    is the schema contract: binary + struct<...> columns partition,
    shuffle, and predicate-push exactly like any other column."""
    fmt = F.element_at(
        F.array(*[F.lit(f) for f in FORMATS]),
        (F.col("doc_id") % len(FORMATS) + 1).cast("int"),
    )
    meta = F.struct(
        fmt.alias("format"),
        (F.col("doc_id") % 640 + 16).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 16).cast("int").alias("height"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )
    return docs.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        meta.alias("meta"),
    )


def decode_image_batch(payload: bytes) -> dict:
    """Byte statistics of one payload, standing in for the pixel
    statistics of a real decode (NOT a real decode)."""
    n = len(payload)
    return {
        "n_bytes": n,
        "mean_byte": round(sum(payload) / n, 6) if n else 0.0,
        "max_byte": max(payload) if n else 0,
    }


def decode_features(frames: DataFrame) -> DataFrame:
    """mapInPandas decode/feature-extract over multimodal frames.

    Arrow delivers columnar batches to Python; each batch is decoded
    row-wise INSIDE the batch (the per-row codec call is the
    irreducible cost — real decoders release the GIL).  Output is a
    fresh columnar frame, so downstream stays JVM-side.  Partition
    parallelism is the scale axis: 1000 executors × N cores each run
    this generator independently."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = [decode_image_batch(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "format": pdf["fmt"],
                    "n_bytes": [s["n_bytes"] for s in stats],
                    "mean_byte": [s["mean_byte"] for s in stats],
                    "max_byte": [s["max_byte"] for s in stats],
                    "n_frames": [
                        (s["n_bytes"] + FRAME_BYTES - 1) // FRAME_BYTES
                        for s in stats
                    ],
                }
            )

    inp = frames.select(
        "doc_id", "payload", F.col("meta.format").alias("fmt")
    )
    return inp.mapInPandas(run, schema=DECODED_SCHEMA)


# "Frame" sampling: fixed-size byte windows standing in for video
# frame extraction — the plumbing (explode fan-out, per-frame hash,
# partition-local compute) is the real part.
FRAME_BYTES = 64


def sample_frames(frames: DataFrame, stride: int = 4) -> DataFrame:
    """Every ``stride``-th fixed-size frame per payload, exploded to
    one row per sampled frame with a content hash.  The explode is
    partition-local (no shuffle); at scale the fan-out factor is
    bounded by payload size / FRAME_BYTES / stride."""
    n_frames = F.ceil(F.octet_length("payload") / F.lit(FRAME_BYTES)).cast("int")
    idx = F.filter(
        F.sequence(F.lit(0), n_frames - 1),
        lambda i: i % stride == 0,
    )
    return (
        frames.select(
            "doc_id",
            F.col("meta.format").alias("format"),
            F.posexplode(
                F.transform(
                    idx,
                    lambda i: F.substring(
                        F.col("payload").cast("string"),
                        i * FRAME_BYTES + 1,
                        FRAME_BYTES,
                    ),
                )
            ).alias("frame_no", "frame"),
        )
        .select(
            "doc_id",
            "format",
            "frame_no",
            F.length("frame").alias("frame_len"),
            F.md5(F.col("frame").cast("binary")).alias("frame_md5"),
        )
    )


# --------------------------------------------------------------------------
# Round 3: REAL decode for uncompressed formats.  The compressed-codec
# stub above exists because no JPEG/PNG library ships in this
# container — but PPM (P6) needs nothing beyond numpy, so the
# encode → Arrow transfer → parse → pixel-statistics path runs for
# real here, exercising every part of the decode plumbing the stub
# can only shape-check.
# --------------------------------------------------------------------------
def encode_ppm_p6(width: int, height: int, c_top: int, c_bottom: int) -> bytes:
    """Binary PPM (P6): ASCII header + raw RGB bytes.  The synthetic
    image is two horizontal bands of constant gray (top `height // 2`
    rows at c_top, the rest at c_bottom) so every pixel statistic has
    a closed form an SQL oracle can compute."""
    header = f"P6\n{width} {height}\n255\n".encode("ascii")
    top_rows = height // 2
    row_top = bytes([c_top]) * (3 * width)
    row_bot = bytes([c_bottom]) * (3 * width)
    return header + row_top * top_rows + row_bot * (height - top_rows)


def decode_ppm_p6(payload: bytes) -> dict:
    """Parse a binary PPM (P6) payload into real pixel statistics —
    pure numpy, no codec library.  Raises ValueError on malformed
    input (magic, dims, or byte-count mismatch)."""
    import numpy as np

    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 ppm")
    # header: magic, width, height, maxval — whitespace separated,
    # then a single whitespace byte before the raster
    parts = []
    i = 2
    while len(parts) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        parts.append(int(payload[i:j]))
        i = j
    i += 1  # the single whitespace after maxval
    width, height, maxval = parts
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    raster = payload[i:]
    if len(raster) != 3 * width * height:
        raise ValueError(
            f"raster size {len(raster)} != 3*{width}*{height}"
        )
    px = np.frombuffer(raster, dtype=np.uint8).reshape(height, width, 3)
    return {
        "width": width,
        "height": height,
        "n_pixels": int(width * height),
        "sum_pixels": int(px.sum(dtype=np.int64)),
        "max_byte": int(px.max()),
        "min_byte": int(px.min()),
    }


# --------------------------------------------------------------------------
# Round 3: REAL audio decode for uncompressed WAV (PCM16).  Same
# rationale as PPM above — RIFF/WAVE with PCM needs nothing beyond
# struct + numpy, so the encode → Arrow transfer → chunk-walk parse →
# sample-statistics path runs for real, no codec library involved.
# --------------------------------------------------------------------------
def encode_wav_pcm16(
    n_frames: int, channels: int, sample_rate: int, a1: int, a2: int
) -> bytes:
    """Minimal canonical RIFF/WAVE: 'fmt ' (PCM, 16-bit) + 'data'.
    The synthetic waveform is a two-level step — the first
    ``n_frames // 2`` frames at amplitude a1, the rest at a2, identical
    on every channel — so every sample statistic has a closed form an
    SQL oracle can compute."""
    import struct

    import numpy as np

    h1 = n_frames // 2
    wave = np.empty(n_frames * channels, dtype=np.int16)
    wave[: h1 * channels] = a1
    wave[h1 * channels :] = a2
    data = wave.tobytes()
    byte_rate = sample_rate * channels * 2
    block_align = channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, byte_rate, block_align, 16
    )
    out = (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    return out


def decode_wav_pcm16(payload: bytes) -> dict:
    """Parse a RIFF/WAVE payload into real sample statistics — a
    proper chunk walk (not fixed offsets), pure struct + numpy.
    Raises ValueError on malformed input (magic, missing chunks,
    non-PCM format, odd sizes)."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"not PCM16 (format={audio_format}, bits={bits})")
    if len(data) % (channels * 2):
        raise ValueError("data chunk not frame-aligned")
    samples = np.frombuffer(data, dtype=np.int16)
    return {
        "channels": channels,
        "sample_rate": sample_rate,
        "n_frames": len(samples) // channels,
        "sum_samples": int(samples.astype(np.int64).sum()),
        "peak": int(np.abs(samples.astype(np.int32)).max()),
    }
