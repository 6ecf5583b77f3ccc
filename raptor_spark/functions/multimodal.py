"""Multimodal (image/audio/video) column plumbing for training-data
pipelines.

Media ride through the engine as opaque ``binary`` payloads plus typed
metadata — the layout every large multimodal pipeline uses (payload is
never parsed by Catalyst; metadata columns carry the prunable facts).
Feature extraction and frame sampling run as **Arrow-batched pandas
iterators** (``mapInPandas``) so the per-item Python cost is amortized
over columnar batches and executors stream batches without
materializing a partition in memory.

Codec coverage: none. No image, audio or video codec ships here:
JPEG/PNG/audio/video decoding needs PIL/opencv/ffmpeg, which this
engine does not depend on. The two stages keep the real Spark-side
shape (schema, batch iteration, partitioning, row fan-out) around
deterministic stand-ins: ``extract_features`` featurizes the raw
payload bytes (swap ``_fake_feature`` for a model) and
``sample_frames`` slices stand-in frame bytes per sampled timestamp.

Media schema::

    media_id: long, media_type: string ('image'|'audio'|'video'),
    payload: binary, meta: struct<width:int, height:int, duration_ms:int>
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("duration_ms", IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("digest", StringType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)


def synthesize_media(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Deterministic fake media over any text table: payload = utf-8
    bytes of the text, type cycles image/audio/video, metadata derived
    arithmetically. Gives the multimodal path real binary columns
    without shipping actual codecs into the warehouse."""
    mid = F.col(id_col).cast("long")
    n = F.length(F.col(text_col))
    return df.select(
        mid.alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (mid % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            (n % 640 + 1).cast("int").alias("width"),
            (n % 480 + 1).cast("int").alias("height"),
            (n * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def _fake_feature(payload: bytes, dim: int) -> list[float]:
    """Deterministic stand-in for an embedding extractor: md5-seeded
    floats in [0,1). Same shape/dtype/batching as a real model."""
    out = []
    h = b""
    while len(out) < dim:
        h = hashlib.md5(h + payload[:64]).digest()
        out.extend(b / 255.0 for b in h)
    return out[:dim]


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_ts_ms", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling stage (video → frame rows): one output row per
    sampled timestamp — a row-expanding mapInPandas (the shape a real
    keyframe extractor has; the codec decode is the stubbed part, the
    fan-out/ordering/schema are real). Non-video rows produce no
    frames."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss, payloads = [], [], [], []
            for mid, mtype, meta, payload in zip(
                pdf["media_id"], pdf["media_type"], pdf["meta"], pdf["payload"]
            ):
                if mtype != "video":
                    continue
                if payload is None or meta is None or meta["duration_ms"] is None:
                    # NULL media: no frames — the SQL twin's
                    # generate_series(0, NULL) likewise yields none
                    continue
                dur = int(meta["duration_ms"])
                b = bytes(payload)
                for i, t in enumerate(range(0, max(dur, 1), every_ms)):
                    ids.append(mid)
                    idxs.append(i)
                    tss.append(t)
                    # stand-in frame bytes: deterministic slice per ts
                    off = (t * 7) % max(len(b), 1)
                    payloads.append(b[off : off + 16])
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": pd.array(idxs, dtype="int32"),
                 "frame_ts_ms": pd.array(tss, dtype="int32"),
                 "payload": payloads}
            )

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """mapInPandas feature extraction over the media table.

    Batches arrive as pandas DataFrames (Arrow transfer); each yields
    one output frame — the engine-side pattern a real decode/featurize
    stage uses (swap ``_fake_feature`` for the model)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            # NULL payloads (e.g. a NULL source text) yield NULL
            # n_bytes/digest/feature — the row survives with its id
            # and type, matching the SQL twin's NULL propagation;
            # bare .map(len) would crash the whole Arrow batch
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": payloads.map(
                        lambda b: len(b) if b is not None else None
                    ).astype("Int64"),
                    "digest": payloads.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                        if b is not None
                        else None
                    ),
                    "feature": payloads.map(
                        lambda b: _fake_feature(bytes(b), dim)
                        if b is not None
                        else None
                    ),
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)
