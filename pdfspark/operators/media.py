"""Multimodal column plumbing: opaque binary payloads + typed
metadata, decoded/featurized in Arrow-batched pandas via mapInPandas.

The container has no image/audio codecs, so the decode step is a
clearly-marked deterministic fake (`_fake_decode`) — the Spark-side
plumbing (binary schema, partitioning, mapInPandas batch shape,
output schema) is real and tested. Swap `_fake_decode` for a PIL /
ffmpeg call in production; nothing else changes.

Scale shape: mapInPandas streams Arrow batches through the Python
worker — no collect, no per-row Python; batch size is bounded by
spark.sql.execution.arrow.maxRecordsPerBatch so a partition of large
blobs cannot OOM the worker. Heavy media should be
repartition(hash(media_ref)) first so decode cost spreads evenly.

Reference basis: Figure/Image layout elements carry media geometry
(src/processors/element_processors.py:380-391); our media table is
their payload-bearing analogue per BASELINE.json (media_ref spans).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# planner defaults shared with the DuckDB twins (oracle_pipeline)
FRAME_EVERY_N = 5  # sample_frames: keep every n-th frame
RESIZE_TARGET = 224  # resize_plan: longest output side (px)
AUDIO_SAMPLE_RATE = 16000  # audio_chunk_plan: samples per second

MEDIA_FEATURE_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("media_kind", StringType()),
        StructField("byte_len", LongType()),
        StructField("content_md5", StringType()),
        StructField("fake_width", IntegerType()),
        StructField("fake_height", IntegerType()),
        StructField("status", StringType()),
    ]
)


def media_table(docs: DataFrame) -> DataFrame:
    """Derive an opaque-binary media table from the documents table
    (deterministic fake payload = utf-8 bytes of the text): one media
    row per document, media_ref = 'img://<doc_id>'."""
    return docs.select(
        F.concat(F.lit("img://"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
        F.lit("image").alias("media_kind"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int]:
    """STUB: stands in for a real image decode (no codecs in this
    container). Deterministic: dimensions derived from the payload
    hash. Replace with PIL.Image.open in production."""
    h = hashlib.md5(payload).digest()
    return 16 + h[0] % 640, 16 + h[1] % 480


def _per_payload_plan(media: DataFrame, schema: StructType, row_fn,
                      err_row, extra_cols: tuple = ()) -> DataFrame:
    """Shared mapInPandas loop of every media planner: project the
    input columns (so the scan prunes), coerce NULL payloads to b'',
    call ``row_fn(ref, payload_bytes, *extras) -> [row tuples]``, and
    quarantine any per-PAYLOAD exception as ``err_row(ref, *extras)``
    — data errors never kill the stage. Caller-parameter validation
    belongs in the planner itself, BEFORE this loop: a bad argument
    raising per row would silently convert the whole table into
    decode_error rows."""
    cols = [f.name for f in schema.fields]
    in_cols = ["media_ref", *extra_cols, "content"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, *extras, payload in zip(*(pdf[c] for c in in_cols)):
                b = bytes(payload) if payload is not None else b""
                try:
                    rows.extend(row_fn(ref, b, *extras))
                except Exception:
                    rows.append(err_row(ref, b, *extras))
            yield pd.DataFrame(rows, columns=cols)

    return media.select(*in_cols).mapInPandas(run, schema)


def media_features(media: DataFrame) -> DataFrame:
    """Featurize media payloads with mapInPandas (Arrow batches).

    Errors never kill the stage: a failed decode yields
    status='decode_error' with null dimensions (quarantine column,
    mirroring the extraction pipeline's DecodeError handling).
    """

    def row(ref, b, kind):
        w, h = _fake_decode(b)
        return [(ref, kind, len(b), hashlib.md5(b).hexdigest(), w, h, "ok")]

    return _per_payload_plan(
        media, MEDIA_FEATURE_SCHEMA, row,
        lambda ref, b, kind: (ref, kind, len(b), None, None, None,
                              "decode_error"),
        extra_cols=("media_kind",),
    )


# --- video frame sampling ---------------------------------------------------

FRAME_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("ts_ms", IntegerType()),
        StructField("frame_md5", StringType()),
        StructField("status", StringType()),
    ]
)


def media_table_video(docs: DataFrame) -> DataFrame:
    """Opaque-binary video table (fake payload, as media_table)."""
    return docs.select(
        F.concat(F.lit("vid://"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
        F.lit("video").alias("media_kind"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )


def _fake_frame_count(payload: bytes) -> int:
    """STUB for the container demuxer: frame count from the payload
    hash (1..120). Replace with ffprobe/pyav in production."""
    return 1 + hashlib.md5(payload).digest()[2] % 120


def sample_frames(media: DataFrame, every_n: int = FRAME_EVERY_N,
                  fps: int = 25) -> DataFrame:
    """Frame sampling: one OUTPUT row per sampled frame of each video
    payload (the 1->N mapInPandas batch shape a real frame extractor
    has; frame bytes stand in as a deterministic hash). Decode errors
    quarantine as a single status row. Scale shape: Arrow batches in,
    no shuffle — repartition big video tables by hash(media_ref)
    upstream so demux cost spreads."""

    # caller-parameter bugs must fail loudly HERE, not leak into the
    # per-row quarantine (every_n=0 would silently turn every video
    # into a decode_error row and the job would "succeed")
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    if fps < 1:
        raise ValueError(f"fps must be >= 1, got {fps}")

    def row(ref, b):
        n = _fake_frame_count(b)
        cmd5 = hashlib.md5(b).hexdigest()
        return [
            (ref, i, i * 1000 // fps,
             hashlib.md5(f"{cmd5}:{i}".encode()).hexdigest(), "ok")
            for i in range(0, n, every_n)
        ]

    return _per_payload_plan(
        media, FRAME_SCHEMA, row,
        lambda ref, b: (ref, None, None, None, "decode_error"),
    )


# --- image resize planning --------------------------------------------------

RESIZE_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("status", StringType()),
    ]
)


def resize_plan(media: DataFrame, target: int = RESIZE_TARGET) -> DataFrame:
    """Aspect-preserving resize plan per image: decode dims (stub) ->
    integer-arithmetic target dims (floor((d*target)/max_dim), min 1 —
    integer-exact in every engine). The actual pixel resample is the
    stubbed codec step; the schema/batching is the production shape."""

    if target < 1:
        raise ValueError(f"target must be >= 1, got {target}")

    def row(ref, b):
        w, h = _fake_decode(b)
        m = max(w, h)
        return [(ref, w, h, max(1, (w * target) // m),
                 max(1, (h * target) // m), "ok")]

    return _per_payload_plan(
        media, RESIZE_SCHEMA, row,
        lambda ref, b: (ref, None, None, None, None, "decode_error"),
    )


# --- audio chunking ---------------------------------------------------------

AUDIO_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("n_chunks", IntegerType()),
        StructField("last_chunk_samples", IntegerType()),
        StructField("status", StringType()),
    ]
)


def audio_chunk_plan(media: DataFrame,
                     sample_rate: int = AUDIO_SAMPLE_RATE) -> DataFrame:
    """Fixed-window audio chunking plan: fake decode maps payload bytes
    to a sample count (4 samples per byte), then 1-second windows with
    a ragged tail — the schema a streaming ASR feature extractor needs.
    Integer arithmetic only (engine-portable)."""

    if sample_rate < 1:
        raise ValueError(f"sample_rate must be >= 1, got {sample_rate}")
    chunk = sample_rate  # one-second windows

    def row(ref, b):
        n = len(b) * 4
        n_chunks = max(1, -(-n // chunk))
        last = n - (n_chunks - 1) * chunk
        return [(ref, sample_rate, n, n_chunks, last, "ok")]

    return _per_payload_plan(
        media, AUDIO_SCHEMA, row,
        lambda ref, b: (ref, sample_rate, None, None, None, "decode_error"),
    )
