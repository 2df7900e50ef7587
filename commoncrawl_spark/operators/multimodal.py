"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The Spark-side shape is real and tested — schemas, Arrow batch flow,
mapInPandas signatures, partitioning — while the actual codec step is
STUBBED: no image/audio library is a dependency, so decoding computes
deterministic fake features (md5-derived) that exercise the identical
plumbing. Swap ``_fake_decode`` for PIL/librosa/pyav in deployment;
nothing else changes.

Batch-shape rules baked in here:
- binary payloads ride ArrayType-free BinaryType columns; Arrow moves
  them zero-copy into the Python worker in bounded batches
  (spark.sql.execution.arrow.maxRecordsPerBatch, set small in session.py
  because payloads are fat);
- metadata extraction that needs no codec (byte length, magic bytes,
  container sniff) stays JVM-side — never pay the Python hop for it;
- feature extraction and resizing are mapInPandas (one in-out batch
  stream per partition), not scalar UDFs.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType(
    [
        T.StructField("n_bytes", T.LongType()),
        T.StructField("magic_hex", T.StringType()),
        T.StructField("container", T.StringType()),
    ]
)

_MAGIC = {
    "89504e47": "png",
    "ffd8ff": "jpeg",
    "47494638": "gif",
    "52494646": "riff",  # wav/avi
    "664c6143": "flac",
    "1a45dfa3": "mkv",
}


def media_meta_cols(bin_col_name: str) -> list[Column]:
    """JVM-side metadata — no codec, no Python: size, magic bytes, container
    sniff from the magic table."""
    magic = F.lower(F.hex(F.expr(f"substring({bin_col_name}, 1, 4)")))
    sniff = F.lit("unknown")
    for hexsig, name in _MAGIC.items():
        sniff = F.when(magic.startswith(hexsig[:6]), F.lit(name)).otherwise(sniff)
    return [
        F.length(F.col(bin_col_name)).alias("n_bytes"),
        magic.alias("magic_hex"),
        sniff.alias("container"),
    ]


def attach_media_meta(df: DataFrame, bin_col: str = "media") -> DataFrame:
    return df.select("*", *media_meta_cols(bin_col))


def _fake_decode(payload: bytes) -> dict:
    """Deterministic FAKE decode: features derived from md5(payload).
    Stands in for a real codec so the pipeline shape is testable."""
    h = hashlib.md5(payload or b"").digest()
    return {
        "width": 64 + h[0] % 192,
        "height": 64 + h[1] % 192,
        "n_frames": 1 + h[2] % 32,
        "duration_s": round((h[3] % 300) / 10.0, 1),
    }


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
    ]
)


def decode_media(df: DataFrame, bin_col: str = "media",
                 id_col: str = "doc_id") -> DataFrame:
    """Decode/feature-extract via mapInPandas, with deterministic fake
    features standing in for the codec (see ``_fake_decode``)."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [_fake_decode(v) for v in pdf[bin_col]]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf[id_col].values)
            yield out

    return df.select(id_col, bin_col).mapInPandas(run, DECODED_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("media", T.BinaryType()),
    ]
)


def resize_media(df: DataFrame, width: int, height: int,
                 bin_col: str = "media",
                 id_col: str = "doc_id") -> DataFrame:
    """Resize plumbing: one output row per input with the payload
    re-rendered at (width, height) — here a deterministic byte resample
    (stride-sampled to width*height bytes, zero-padded when the source
    is smaller), which IS the real operator's shape: the deploy-time
    drop-in replaces the inner loop with PIL's ``Image.resize`` on the
    decoded pixels and re-encodes. Batch geometry, Arrow transfer,
    output schema, and partitioning are identical either way — resizing
    never shuffles."""
    if width <= 0 or height <= 0:
        raise ValueError("width and height must be positive")
    target = width * height

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, payload in zip(pdf[id_col], pdf[bin_col]):
                payload = payload or b""
                if len(payload) >= target:
                    step = len(payload) / target
                    resized = bytes(
                        payload[int(i * step)] for i in range(target))
                else:
                    resized = payload + b"\x00" * (target - len(payload))
                out.append((doc_id, width, height, resized))
            yield pd.DataFrame(
                out, columns=["doc_id", "width", "height", "media"])

    return df.select(id_col, bin_col).mapInPandas(run, RESIZED_SCHEMA)


def ahash_col(bin_col: Column, bits: int = 32) -> Column:
    """Average-hash (aHash) perceptual fingerprint of a binary payload,
    as a non-negative int64 (``bits`` <= 63): stride-sample ``bits``
    bytes across the payload (the deterministic stand-in for
    decode-to-grayscale + downscale — same resampling rule as
    :func:`resize_media`), then bit i = 1 iff sample i is strictly above
    the sample mean. In deployment the byte buffer is the decoded pixel
    plane from the PIL/pyav drop-in; the thresholding math — the actual
    aHash algorithm — is unchanged.

    Pure Catalyst array expressions — per-row, no shuffle, no Python.
    The mean compare is exact integer math (sample*bits > sum), no
    float division. Empty payloads hash to NULL (no bits, no signal).

    PERF: as a single composable expression, ``hex(payload)`` and the
    sample-sum are UNBOUND subexpressions inside the HOF lambdas and
    re-evaluate per element (the winnowing lesson — measured ~5x at
    sf0.1). Use :func:`ahash_signatures` (which binds every
    intermediate as a real column and is what
    :func:`media_near_duplicates` calls) anywhere hot; this form exists
    for ad-hoc column composition.

    Why aHash and not the media embedding: hash-based image dedup is the
    cheap first pass (64 bits/image, Hamming-ball lookup) that web-scale
    multimodal pipelines run before any encoder; pair it with
    hamming_near_duplicate_pairs for the pigeonhole join."""
    if not 1 <= bits <= 63:
        raise ValueError(f"bits must be in [1, 63], got {bits}")
    hexs = F.hex(bin_col)
    n = F.octet_length(bin_col)
    idx = F.sequence(F.lit(0), F.lit(bits - 1))
    vals = F.transform(
        idx,
        lambda i: F.conv(
            F.substring(
                hexs, (F.floor(i * n / F.lit(bits)) * 2 + 1).cast("int"), 2
            ),
            16, 10,
        ).cast("long"),
    )
    total = F.aggregate(vals, F.lit(0).cast("long"), lambda a, b: a + b)
    weights = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    terms = F.zip_with(
        vals, weights,
        lambda v, w: F.when(v * F.lit(bits) > total, w)
        .otherwise(F.lit(0).cast("long")),
    )
    sig = F.aggregate(terms, F.lit(0).cast("long"), lambda a, b: a + b)
    return F.when(n > 0, sig).otherwise(F.lit(None).cast("long"))


def ahash_signatures(
    df: DataFrame,
    bin_col: str = "media",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """``(id_col, ahash)`` — the staged, hot-path form of
    :func:`ahash_col`: hex string, byte count, sample array, and sample
    sum are each BOUND as real columns between selects, so the HOF
    lambdas reference attributes and every intermediate evaluates once
    per row (the winnowing lesson: an unbound subexpression inside a
    lambda re-evaluates per element — the single-expression form re-ran
    ``hex(payload)`` per sample AND per mean-compare, measured ~5x
    slower at sf0.1). Same semantics bit-for-bit."""
    if not 1 <= bits <= 63:
        raise ValueError(f"bits must be in [1, 63], got {bits}")
    h = df.select(
        F.col(id_col),
        F.hex(F.col(bin_col)).alias("_hex"),
        F.octet_length(F.col(bin_col)).alias("_n"),
    )
    n = F.col("_n")
    vals = h.select(
        id_col, "_n",
        F.transform(
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda i: F.conv(
                F.substring(
                    F.col("_hex"),
                    (F.floor(i * n / F.lit(bits)) * 2 + 1).cast("int"), 2),
                16, 10,
            ).cast("long"),
        ).alias("_vals"),
    )
    total = F.aggregate(
        "_vals", F.lit(0).cast("long"), lambda a, b: a + b)
    weights = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    # the threshold compare reads the sum through a BOUND struct field:
    # Catalyst's projection collapse inlines any column referenced
    # inside a HOF lambda, so a bare `_total` reference there would
    # re-evaluate the whole sample-sum (and transitively hex()) PER
    # ELEMENT — measured 10x on this exact operator. array_repeat
    # evaluates its argument once per row; the lambda then touches only
    # its struct.
    z = F.arrays_zip(
        F.col("_vals").alias("v"),
        F.array_repeat(total, bits).alias("t"),
        weights.alias("w"),
    )
    sig = F.aggregate(
        F.transform(
            z,
            lambda s: F.when(s["v"] * F.lit(bits) > s["t"], s["w"])
            .otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    return vals.select(
        F.col(id_col),
        F.when(n > 0, sig).otherwise(F.lit(None).cast("long"))
        .alias("ahash"),
    )


def media_near_duplicates(
    df: DataFrame,
    bin_col: str = "media",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 32,
    blocks: int = 4,
) -> DataFrame:
    """Perceptual near-duplicate media pairs ``(a, b, hamming)``:
    aHash each payload (:func:`ahash_signatures` — the bound staged
    form), then the pigeonhole Hamming-block self-join shared with
    simhash (text_dedup.hamming_near_duplicate_pairs) — the join key is
    (block_idx, chunk_value), never all-pairs, and only (id, int64)
    rows shuffle; payload bytes never leave the scan stage."""
    from commoncrawl_spark.operators.text_dedup import (
        hamming_near_duplicate_pairs,
    )

    sigs = ahash_signatures(df, bin_col, id_col, bits)
    return hamming_near_duplicate_pairs(
        sigs, sig_col="ahash", id_col=id_col, max_hamming=max_hamming,
        bits=bits, blocks=blocks,
    )
