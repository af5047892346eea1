"""Multimodal column support (SURVEY.md §2c): opaque binary payloads
with typed metadata, plus the Spark-side plumbing for decode /
feature-extraction UDFs.

The container has no image/audio libraries, so the *decode* step is an
explicit stub (``decode_image`` raises NotImplementedError); everything
around it — BinaryType columns, metadata structs, Arrow batch shapes,
``mapInPandas`` partition flow — is real and tested. Swapping the stub
for PIL/librosa is a one-function change.

Scale notes: binary payloads ride ordinary BinaryType columns, so
partitioning/shuffle/parquet encoding all apply unchanged; feature
extraction is ``mapInPandas`` over Arrow batches (one Python roundtrip
per batch, not per row), and the output schema is fixed up front so
Catalyst can prune/push around the UDF.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rust_etl_spark.plans.catalog import register
from rust_etl_spark.sources import load_table


def attach_binary_payload(df: DataFrame) -> DataFrame:
    """Materialize an opaque binary column of ``text`` + typed metadata
    struct — the multimodal column pattern (payload stays a black box,
    metadata is queryable)."""
    payload = F.encode(F.col("text"), "utf-8")
    return df.withColumn("payload", payload).withColumn(
        "meta",
        F.struct(
            F.length(payload).cast("long").alias("n_bytes"),
            F.md5(F.col("text")).alias("digest"),
            F.lit("text/plain;charset=utf-8").alias("mime"),
        ),
    )


def decode_image(payload: bytes) -> "object":
    """REAL decode stub: the container ships no imaging libraries.

    Replace with e.g. PIL.Image.open(io.BytesIO(payload)) in a full
    deployment; every caller goes through extract_features' batch path.
    """
    raise NotImplementedError("image/audio decode requires codec libraries not present in this environment")


_FEATURE_SCHEMA = "doc_id long, n_bytes long, mean_byte double, head_hex string"


def extract_features(df: DataFrame) -> DataFrame:
    """Deterministic per-payload features via mapInPandas (Arrow
    batches). Stands in for decode+embed; the batch shape, schema and
    partition flow are exactly what a real extractor uses."""

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "mean_byte": payloads.map(lambda b: float(sum(b[:64])) / max(min(len(b), 64), 1)),
                    "head_hex": payloads.map(lambda b: bytes(b[:8]).hex()),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(per_batch, schema=_FEATURE_SCHEMA)


@register(
    "multimodal_meta",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS digest
        FROM documents
    """,
    doc="Binary payload + typed metadata struct over documents; metadata projected relationally.",
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    enriched = attach_binary_payload(docs)
    return enriched.select("doc_id", F.col("meta.n_bytes").alias("n_bytes"), F.col("meta.digest").alias("digest"))


FRAME_BYTES = 256   #: fixed frame size of the fake video payload
FRAME_STRIDE = 4    #: sample every 4th frame
FRAME_HEAD = 16     #: digest = hex of the frame's first bytes


@register(
    "multimodal_frame_sample",
    oracle=f"""
        WITH p AS (
            -- hex the whole payload once: DuckDB has no BLOB substring,
            -- and a hex slice is byte-exact on both engines
            SELECT doc_id, lower(hex(encode(text))) AS payload_hex,
                   CAST(ceil(octet_length(encode(text)) / {FRAME_BYTES}.0) AS BIGINT) AS n_frames
            FROM documents
        ), fr AS (
            SELECT doc_id, n_frames, payload_hex,
                   CAST(unnest(range(0, n_frames, {FRAME_STRIDE})) AS BIGINT) AS frame_idx
            FROM p
        )
        SELECT doc_id, n_frames, frame_idx,
               substring(payload_hex, frame_idx * {2 * FRAME_BYTES} + 1, {2 * FRAME_HEAD}) AS frame_head
        FROM fr
    """,
    doc=f"Frame sampling over binary payloads: treat the payload as {FRAME_BYTES}-byte "
    f"frames, keep every {FRAME_STRIDE}th, digest each frame head — the strided-"
    "decode access pattern of video pipelines, kept entirely JVM-side (no UDF).",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    p = docs.select(
        "doc_id",
        F.lower(F.hex(payload)).alias("payload_hex"),
        F.ceil(F.octet_length(payload) / float(FRAME_BYTES)).alias("n_frames"),
    )
    idx = F.when(
        F.col("n_frames") > 0,
        F.sequence(F.lit(0).cast("long"), F.col("n_frames") - 1, F.lit(FRAME_STRIDE).cast("long")),
    ).otherwise(F.array().cast("array<long>"))
    sampled = p.select("doc_id", "n_frames", "payload_hex", F.explode(idx).alias("frame_idx"))
    frame_head = F.expr(f"substring(payload_hex, frame_idx * {2 * FRAME_BYTES} + 1, {2 * FRAME_HEAD})")
    return sampled.select("doc_id", "n_frames", "frame_idx", frame_head.alias("frame_head"))


@register(
    "multimodal_features",
    oracle=None,  # mapInPandas feature extraction: rows-only driver check; pytest pins values
    doc="Arrow-batched feature extraction over binary payloads (mapInPandas); decode itself is stubbed.",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return extract_features(attach_binary_payload(docs))


AUDIO_FRAME = 256  #: bytes per analysis frame (8-bit PCM stand-in)

_AUDIO_SCHEMA = "doc_id long, n_frames long, rms_mean double, rms_peak double"


def audio_frame_rms(df: DataFrame) -> DataFrame:
    """Per-payload frame-RMS profile via one numpy kernel per Arrow
    batch — the loudness-envelope pass of an audio pipeline, with the
    payload treated as 8-bit PCM (the honest stand-in: codec libs are
    absent, but the batch shape, framing, and vectorized reduction are
    exactly what a real decoder feeds)."""
    import numpy as np

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "n_frames": [], "rms_mean": [], "rms_peak": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                x = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.float64)
                n = (len(x) // AUDIO_FRAME) * AUDIO_FRAME
                if n == 0:
                    continue
                frames = x[:n].reshape(-1, AUDIO_FRAME)
                rms = np.sqrt((frames * frames).mean(axis=1))
                out["doc_id"].append(doc_id)
                out["n_frames"].append(len(rms))
                out["rms_mean"].append(float(rms.mean()))
                out["rms_peak"].append(float(rms.max()))
            yield pd.DataFrame(out)

    return df.select("doc_id", "payload").mapInPandas(per_batch, schema=_AUDIO_SCHEMA)


@register(
    "multimodal_audio_rms",
    oracle=None,  # byte-level numpy kernel; value-pinned against a pure-
    # Python reference in tests/test_multimodal.py
    doc=f"Frame-RMS loudness profile over binary payloads ({AUDIO_FRAME}-"
    "byte frames as 8-bit PCM): per doc the frame count, mean and peak "
    "RMS — the audio-envelope analysis pattern, Arrow-batched with one "
    "vectorized numpy reduction per batch and only frame-level "
    "statistics leaving the worker.",
)
def multimodal_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return audio_frame_rms(attach_binary_payload(docs))
