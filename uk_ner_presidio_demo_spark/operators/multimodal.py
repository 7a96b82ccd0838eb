"""Multimodal-column operators: decode/feature-extract (Arrow-batched UDF
over binary payloads), aspect-preserving resize planning (pure Catalyst),
and video frame sampling (sequence + posexplode — no UDF).

The decode stage is the canonical 100-TB shape: binary column + typed
metadata in, fixed-width feature vector out, one Arrow crossing, payloads
never touch the driver.  Real decoders are absent in this container, so the
kernel import-guards them and falls back to the deterministic fake in
semantics.media (clearly-marked stub; the Spark plumbing is real).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..semantics.media import fake_decode_features

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("feat", T.ArrayType(T.DoubleType())),
    ]
)


def _real_decoder_available() -> bool:
    try:  # real path: pillow for images, soundfile/librosa for audio
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def decode_features(media: DataFrame) -> DataFrame:
    """(media_id, media_type, payload) -> (media_id, media_type,
    feat: array<double>[FEAT_DIM]) in one mapInPandas pass."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        use_real = _real_decoder_available()
        for pdf in batches:
            feats = []
            for media_id, mtype, payload in zip(
                pdf["media_id"], pdf["media_type"], pdf["payload"]
            ):
                if use_real:
                    # Real decode would go here (PIL.Image.open(BytesIO(...))
                    # etc.).  Not reachable in this container.
                    raise NotImplementedError(
                        "real media decode not wired in this environment"
                    )
                feats.append(
                    (int(media_id), mtype,
                     fake_decode_features(bytes(payload), mtype))
                )
            yield pd.DataFrame(
                feats, columns=["media_id", "media_type", "feat"]
            )

    from .partitioning import fanout

    # fanout (r8): a few-file media table otherwise caps the decode
    # kernel at one task per file (partitioning.py); per-row output is
    # partitioning-independent
    return fanout(media.select("media_id", "media_type", "payload")) \
        .mapInPandas(kernel, FEATURES_SCHEMA)


def resize_plan(media: DataFrame, max_dim: int = 512) -> DataFrame:
    """Aspect-preserving resize targets for images — pure Catalyst."""
    longest = F.greatest("width", "height")
    scale = F.lit(max_dim) / longest
    return media.filter(F.col("media_type") == "image").select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.when(longest <= max_dim, F.col("width"))
        .otherwise(F.floor(F.col("width") * scale))
        .cast("long")
        .alias("new_width"),
        F.when(longest <= max_dim, F.col("height"))
        .otherwise(F.floor(F.col("height") * scale))
        .cast("long")
        .alias("new_height"),
    )


def frame_sample(media: DataFrame, every_ms: int = 500) -> DataFrame:
    """Sample frame timestamps for videos: sequence + posexplode, JVM-only."""
    return (
        media.filter(F.col("media_type") == "video")
        .select(
            "media_id",
            F.posexplode(
                F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
            ).alias("frame_idx", "ts_ms"),
        )
        .select(
            "media_id",
            F.col("frame_idx").cast("long").alias("frame_idx"),
            F.col("ts_ms").cast("long").alias("ts_ms"),
        )
    )
