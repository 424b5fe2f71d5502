"""Multimodal column plumbing: image/audio/video as opaque binary.

The engine treats media as ``binary`` payload columns + typed metadata
structs, processed with Arrow-batched ``mapInPandas`` (never
row-at-a-time Python). The actual codecs (PIL/ffmpeg/torchaudio) are
NOT available in this environment, so the decode kernels are stubbed
behind ``DecoderUnavailable`` with a deterministic fake used in tests
— the Spark-side plumbing (schemas, batch iteration, partition-size
control) is real and is exactly what a production decoder would run
inside.

Scale notes: decode is CPU-bound and embarrassingly parallel — the
knobs that matter are input-split size (``maxPartitionBytes`` so one
task ≈ one Arrow batch of media) and ``spark.sql.execution.arrow.
maxRecordsPerBatch`` to bound per-batch memory for large blobs.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "IMAGE_FEATURES_SCHEMA",
    "AUDIO_FEATURES_SCHEMA",
    "RESIZED_SCHEMA",
    "DecoderUnavailable",
    "decode_image_features",
    "decode_audio_features",
    "resize_images",
    "fake_image_decoder",
    "fake_audio_decoder",
    "fake_resizer",
    "frame_sample_plan",
]


class DecoderUnavailable(NotImplementedError):
    """Raised when a real media codec is required but not installed."""


IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_bytes", IntegerType(), True),
        StructField("content_hash", StringType(), True),
    ]
)


def fake_image_decoder(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for a real image decode: derives a
    (width, height) from the payload bytes. Replace with PIL in
    production — the surrounding plumbing is unchanged."""
    if not payload:
        # None AND b'' both degenerate to (0, 0) — the previous ternary
        # guarded only width, reporting an inconsistent 0x16 shape for
        # empty payloads
        return (0, 0)
    w = 16 + (sum(payload[:16]) % 1024)
    h = 16 + (len(payload) % 1024)
    return (int(w), int(h))


def _real_image_decoder(payload: bytes) -> tuple[int, int]:
    raise DecoderUnavailable(
        "image codecs (PIL) are not installed in this environment; "
        "pass decoder=fake_image_decoder or install pillow"
    )


def decode_image_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    decoder: Callable[[bytes], tuple[int, int]] | None = None,
) -> DataFrame:
    """Arrow-batched image feature extraction via mapInPandas.

    The iterator-of-batches shape is the production pattern: per-batch
    Python cost is amortized over thousands of rows, and large blobs
    never materialize on the driver.
    """
    decode = decoder or _real_image_decoder

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for batch in batches:
            # NULL payloads never reach the decoder (a production PIL
            # decoder would crash on None) — same shield as the audio
            # path; NULL hashes to None, matching the JVM's md5(NULL)
            # = NULL so dedup-by-hash groups agree
            dims = batch[payload_col].map(
                lambda b: (0, 0) if b is None else decode(bytes(b))
            )
            yield pd.DataFrame(
                {
                    "media_id": batch[id_col].astype(str),
                    "width": dims.map(lambda d: d[0]).astype("int32"),
                    "height": dims.map(lambda d: d[1]).astype("int32"),
                    "n_bytes": batch[payload_col]
                    .map(lambda b: 0 if b is None else len(b))
                    .astype("int32"),
                    "content_hash": batch[payload_col].map(
                        lambda b: None if b is None else hashlib.md5(bytes(b)).hexdigest()
                    ),
                }
            )

    return df.mapInPandas(run, IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("duration_ms", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("rms_level", IntegerType(), True),
        StructField("n_bytes", IntegerType(), True),
    ]
)


def fake_audio_decoder(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for an audio decode: derives
    (duration_ms, sample_rate, rms_level) from the payload bytes.
    Replace with torchaudio/ffmpeg in production."""
    if not payload:
        return (0, 0, 0)
    duration = 100 + (len(payload) * 7) % 600000
    rate = (8000, 16000, 22050, 44100)[payload[0] % 4]
    rms = sum(payload[:64]) % 32768
    return (int(duration), int(rate), int(rms))


def _real_audio_decoder(payload: bytes) -> tuple[int, int, int]:
    raise DecoderUnavailable(
        "audio codecs (torchaudio/ffmpeg) are not installed in this "
        "environment; pass decoder=fake_audio_decoder or install them"
    )


def decode_audio_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    decoder: Callable[[bytes], tuple[int, int, int]] | None = None,
) -> DataFrame:
    """Arrow-batched audio feature extraction via mapInPandas — same
    iterator-of-batches plumbing as the image path."""
    decode = decoder or _real_audio_decoder

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            feats = batch[payload_col].map(
                lambda b: decode(bytes(b)) if b is not None else (0, 0, 0)
            )
            yield pd.DataFrame(
                {
                    "media_id": batch[id_col].astype(str),
                    "duration_ms": feats.map(lambda f: f[0]).astype("int32"),
                    "sample_rate": feats.map(lambda f: f[1]).astype("int32"),
                    "rms_level": feats.map(lambda f: f[2]).astype("int32"),
                    "n_bytes": batch[payload_col]
                    .map(lambda b: 0 if b is None else len(b))
                    .astype("int32"),
                }
            )

    return df.mapInPandas(run, AUDIO_FEATURES_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("payload", BinaryType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
    ]
)


def fake_resizer(payload: bytes, w: int, h: int) -> bytes:
    """Deterministic resize stand-in: re-derives a payload whose length
    scales with the target area (so batch-memory behavior is realistic).
    Replace with PIL ``Image.resize`` in production."""
    if not payload:
        return b""
    target = max(1, (w * h) // 8)
    reps = (target // len(payload)) + 1
    return (payload * reps)[:target]


def _real_resizer(payload: bytes, w: int, h: int) -> bytes:
    raise DecoderUnavailable(
        "image codecs (PIL) are not installed in this environment; "
        "pass resizer=fake_resizer or install pillow"
    )


def resize_images(
    df: DataFrame,
    target_w: int = 224,
    target_h: int = 224,
    payload_col: str = "payload",
    id_col: str = "media_id",
    resizer: Callable[[bytes, int, int], bytes] | None = None,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Arrow-batched image resize via mapInPandas: binary in, binary
    out, constant (width, height) metadata attached. Bound per-batch
    memory with spark.sql.execution.arrow.maxRecordsPerBatch when
    payloads are large.

    ``passthrough`` names input columns carried to the output
    UNCHANGED (schema copied from the input). Prefer it over joining
    side columns back by id afterwards: the join costs a shuffle and
    FANS OUT when ids are not unique (the duplicate-row gate caught
    exactly that — 4 rows per duplicated media_id), while a
    passthrough is row-for-row by construction."""
    resize = resizer or _real_resizer
    # lowercase compare: Spark resolves columns case-insensitively by
    # default, so passthrough=('WIDTH',) is just as ambiguous as
    # ('width',) at analysis time (ADVICE r7)
    reserved = {f.lower() for f in RESIZED_SCHEMA.fieldNames()}
    collisions = [c for c in passthrough if c.lower() in reserved]
    if collisions:
        raise ValueError(
            "passthrough columns collide with resize output fields "
            f"{sorted(reserved)}: {collisions} — rename them upstream "
            "(.withColumnRenamed) before resize_images"
        )
    out_schema = StructType(
        list(RESIZED_SCHEMA.fields) + [df.schema[c] for c in passthrough]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = {
                "media_id": batch[id_col].astype(str),
                "payload": batch[payload_col].map(
                    lambda b: resize(bytes(b), target_w, target_h)
                    if b is not None
                    else None
                ),
                "width": target_w,
                "height": target_h,
            }
            for c in passthrough:
                out[c] = batch[c]
            yield pd.DataFrame(out)

    return df.mapInPandas(run, out_schema)


def frame_sample_plan(
    df: DataFrame,
    every_n_frames: int = 30,
    max_frames: int = 10,
    duration_col: str = "duration_frames",
) -> DataFrame:
    """Video frame-sampling *plan* computed JVM-side: which frame
    indices to extract per clip. The decode of those frames is the
    stubbed kernel; planning stays in Catalyst so predicate pushdown
    still prunes clips before any Python executes."""
    seq = F.sequence(
        F.lit(0),
        F.least(
            F.col(duration_col) - 1,
            F.lit(every_n_frames * (max_frames - 1)),
        ),
        F.lit(every_n_frames),
    )
    # Degenerate clips must not plan frame extraction: duration <= 0
    # yields an EMPTY plan and NULL duration a NULL plan. (The previous
    # greatest(d-1, 0) mapped 0, negative AND NULL durations all to
    # upper bound 0 — Spark's greatest() skips nulls — emitting [0],
    # i.e. "extract frame 0 of a zero-frame clip".)
    idx = F.when(F.col(duration_col) >= 1, seq).when(
        F.col(duration_col).isNotNull(), F.array()
    )
    return df.withColumn("sample_frames", idx)
