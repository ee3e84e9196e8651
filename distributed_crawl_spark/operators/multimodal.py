"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched pandas iterators.

The Spark-side contract is real and tested — schema, partitioning, UDF
signature, batch shape — while the actual media decode is stubbed: the
container has no image/audio libraries, so ``decode_image_real`` raises
``NotImplementedError`` and the default pipeline uses a deterministic fake
decoder (pure arithmetic over the byte payload) that the DuckDB oracle can
reproduce. Swapping ``_FAKE_DECODE=False`` plugs a real PIL/libav decode
into the same mapInPandas stage without touching the plan.

Scale notes:
- binary payloads never leave the executor: mapInPandas streams Arrow
  record batches, so peak memory is one batch, not one partition;
- metadata-only consumers select typed columns and Parquet column pruning
  skips the binary blob entirely (verified in tests via ReadSchema);
- batch size is governed by spark.sql.execution.arrow.maxRecordsPerBatch —
  size it so batch_rows × avg_blob ≤ executor memory share.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),       # image | audio | video
        StructField("payload", BinaryType()),     # opaque encoded bytes
        StructField("mime", StringType()),
    ]
)

IMAGE_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
    ]
)


def decode_image_real(payload: bytes) -> tuple[int, int, int]:
    """Real decode path — requires an image library absent from this
    container. Kept as the documented extension point."""
    raise NotImplementedError(
        "no image decode library in this environment; "
        "use the deterministic fake decoder (decode_image_fake)"
    )


def decode_image_fake(payload: bytes) -> tuple[int, int, int]:
    """Deterministic fake decode: dimensions derived arithmetically from
    the payload length (oracle-reproducible: width = 16 + n % 240,
    height = 16 + (n // 7) % 240, channels = 1 + n % 3)."""
    n = len(payload)
    return 16 + n % 240, 16 + (n // 7) % 240, 1 + n % 3


def image_metadata(media: DataFrame, fake: bool = True) -> DataFrame:
    """mapInPandas image metadata extraction.

    Input: MEDIA_SCHEMA-shaped frame. Output: IMAGE_META_SCHEMA. The
    iterator signature keeps one Arrow batch in flight; the binary column
    is consumed and NOT emitted, so downstream stages shed the blob.
    """
    decode = decode_image_fake if fake else decode_image_real

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [decode(p if p is not None else b"") for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "channels": [d[2] for d in dims],
                }
            )

    return media.mapInPandas(process, IMAGE_META_SCHEMA)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plumbing: emits (media_id, frame_index) rows for
    frames a real decoder would materialize — index stream is deterministic
    from payload length (fake 'frame count' = n_bytes // 1024 + 1), the
    Spark shape (explode to one row per sampled frame) is the real one."""
    n_frames = (F.octet_length("payload") / 1024 + 1).cast("int")
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
            ).alias("frame_index"),
        )
    )


AUDIO_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("channels", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)


def decode_audio_real(payload: bytes) -> tuple[int, int, int]:
    """Real decode path — requires an audio library absent from this
    container. Kept as the documented extension point."""
    raise NotImplementedError(
        "no audio decode library in this environment; "
        "use the deterministic fake decoder (decode_audio_fake)"
    )


def decode_audio_fake(payload: bytes) -> tuple[int, int, int]:
    """Deterministic fake decode → (sample_rate, n_samples, channels):
    sr ∈ {8k..48k} from length mod 6, n_samples = 4·n_bytes (a 16-bit
    stereo-ish fiction), channels ∈ {1, 2} — all oracle-reproducible
    arithmetic on the payload length."""
    n = len(payload)
    return 8000 * (1 + n % 6), 4 * n, 1 + n % 2


def audio_metadata(media: DataFrame, fake: bool = True) -> DataFrame:
    """mapInPandas audio metadata extraction (the twin of
    :func:`image_metadata` for the ``audio`` kind): one Arrow batch in
    flight, the binary column consumed and NOT emitted so downstream
    stages shed the blob. duration_ms = floor(n_samples·1000 / sr)."""
    decode = decode_audio_fake if fake else decode_audio_real

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [p if p is not None else b"" for p in pdf["payload"]]
            meta = [decode(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "n_bytes": [len(p) for p in payloads],
                    "sample_rate": [m[0] for m in meta],
                    "n_samples": [m[1] for m in meta],
                    "channels": [m[2] for m in meta],
                    "duration_ms": [
                        m[1] * 1000 // m[0] for m in meta
                    ],
                }
            )

    return media.mapInPandas(process, AUDIO_META_SCHEMA)


def audio_chunk_plan(meta: DataFrame, chunk_ms: int = 30_000) -> DataFrame:
    """ASR-style chunking plumbing over :func:`audio_metadata` output:
    one row per fixed-duration window a real transcriber would process
    — (media_id, chunk_index, start_ms, end_ms), the last chunk ragged.
    Pure closed-form sequence explode (zero Python, zero shuffle); the
    real decode stays inside the metadata/transcribe stages."""
    n_chunks = F.greatest(
        F.ceil(F.col("duration_ms") / F.lit(chunk_ms)).cast("int"), F.lit(1)
    )
    idx = F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_index")
    return meta.select("media_id", "duration_ms", idx).select(
        "media_id",
        "chunk_index",
        (F.col("chunk_index").cast("long") * chunk_ms).alias("start_ms"),
        F.least(
            (F.col("chunk_index").cast("long") + 1) * chunk_ms,
            F.col("duration_ms"),
        ).alias("end_ms"),
    )


VIDEO_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("fps", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("duration_ms", LongType()),
    ]
)


def decode_video_real(payload: bytes) -> tuple[int, int, int, int]:
    """Real decode path — requires a video library (libav/ffmpeg) absent
    from this container. Kept as the documented extension point."""
    raise NotImplementedError(
        "no video decode library in this environment; "
        "use the deterministic fake decoder (decode_video_fake)"
    )


def decode_video_fake(payload: bytes) -> tuple[int, int, int, int]:
    """Deterministic fake decode → (width, height, fps, n_frames):
    width ∈ {320..1920} stepped by 16 from length mod 101, 16:9 height,
    fps ∈ {24, 25, 30} from length mod 3, n_frames = 2·n_bytes + 30 —
    all oracle-reproducible arithmetic on the payload length (the
    :func:`decode_audio_fake` convention)."""
    n = len(payload)
    width = 16 * (20 + n % 101)
    return width, width * 9 // 16, (24, 25, 30)[n % 3], 2 * n + 30


def video_metadata(media: DataFrame, fake: bool = True) -> DataFrame:
    """mapInPandas video metadata extraction (the ``video`` twin of
    :func:`audio_metadata`): one Arrow batch in flight, the binary
    payload consumed and NOT emitted so downstream stages shed the
    blob. duration_ms = floor(n_frames·1000 / fps)."""
    decode = decode_video_fake if fake else decode_video_real

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [p if p is not None else b"" for p in pdf["payload"]]
            meta = [decode(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "n_bytes": [len(p) for p in payloads],
                    "width": [m[0] for m in meta],
                    "height": [m[1] for m in meta],
                    "fps": [m[2] for m in meta],
                    "n_frames": [m[3] for m in meta],
                    "duration_ms": [
                        m[3] * 1000 // m[2] for m in meta
                    ],
                }
            )

    return media.mapInPandas(process, VIDEO_META_SCHEMA)


def video_frame_plan(meta: DataFrame, every_ms: int = 1_000,
                     max_samples: int | None = None) -> DataFrame:
    """Frame-sampling plumbing over :func:`video_metadata` output: one
    row per timestamp a captioner/embedder would decode — uniform
    time-stride sampling at ``every_ms`` (the VideoCLIP/frame-caption
    convention), ragged tail included, at least one sample per video,
    optionally capped at ``max_samples`` per video (head-biased, the
    cheap cap a 100-TB pass wants BEFORE any decode happens). Returns
    (media_id, sample_index, ts_ms, frame_index) with frame_index =
    ts·fps/1000 clamped to the real frame range. Pure closed-form
    sequence explode — zero Python, zero shuffle; the expensive decode
    stays in the downstream per-frame stage, which now reads an
    exactly-budgeted work list."""
    n_samples = F.greatest(
        F.ceil(F.col("duration_ms") / F.lit(every_ms)).cast("int"), F.lit(1)
    )
    if max_samples is not None:
        n_samples = F.least(n_samples, F.lit(int(max_samples)))
    idx = F.explode(F.sequence(F.lit(0), n_samples - 1)).alias("sample_index")
    ts = F.col("sample_index").cast("long") * every_ms
    return (
        meta.select("media_id", "fps", "n_frames", idx)
        .select(
            "media_id",
            "sample_index",
            ts.alias("ts_ms"),
            F.least(
                ts * F.col("fps") / F.lit(1000),
                (F.col("n_frames") - 1).cast("double"),
            ).cast("long").alias("frame_index"),
        )
    )


IMAGE_DHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("dhash_hi", LongType()),
        StructField("dhash_lo", LongType()),
    ]
)


def image_dhash(media: DataFrame, fake: bool = True) -> DataFrame:
    """Perceptual difference hash (dHash) — the standard near-dup key
    for web image corpora (LAION-scale image dedup): the real path is
    decode → grayscale → 9×8 resize → 64 adjacent-luminance
    comparisons; the fake path (no image library in this container,
    documented like :func:`decode_image_fake`) treats the payload bytes
    themselves as the luminance stream, cycled to the 65 samples the
    comparisons need — so the full Spark pipeline (Arrow batching, hash
    emission, downstream exact-group or hamming-ball dedup over the
    hash) is real and value-checked end-to-end.

    ``bit j = stream[j % n] > stream[(j+1) % n]``; empty payloads hash
    to 0. The 64 bits are emitted as two 32-bit halves ``(dhash_hi,
    dhash_lo)`` — the :func:`~distributed_crawl_spark.functions.dedup.
    simhash64` convention, so the values survive signed-BIGINT
    arithmetic in every dialect and the hamming-pair machinery
    (pigeonhole blocks over 16-bit slices) composes unchanged.
    """
    if not fake:
        decode_image_real(b"")  # raises: documented extension point

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            his: list[int] = []
            los: list[int] = []
            nbs: list[int] = []
            for p in pdf["payload"]:
                b = bytes(p) if p is not None else b""
                n = len(b)
                nbs.append(n)
                hi = lo = 0
                if n:
                    for j in range(64):
                        if b[j % n] > b[(j + 1) % n]:
                            if j < 32:
                                lo |= 1 << j
                            else:
                                hi |= 1 << (j - 32)
                his.append(hi)
                los.append(lo)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "n_bytes": nbs,
                    "dhash_hi": his,
                    "dhash_lo": los,
                }
            )

    return media.mapInPandas(process, IMAGE_DHASH_SCHEMA)
