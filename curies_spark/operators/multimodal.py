"""Multimodal column plumbing: images/audio/video as opaque binary columns.

The Spark-side machinery — schema, typed metadata, Arrow batch shape,
partition sizing, ``mapInPandas`` signatures — is real and tested; the
actual media decode is stubbed (``NotImplementedError``) or served by a
deterministic fake, because media libraries are not in this container.
Swapping ``decode=`` for a real decoder (PIL/torchaudio/av) is the only
change needed in production.

Scale notes: media rows are large, so the iterator-of-batches form of
``mapInPandas`` matters — it streams Arrow batches without materializing
a partition in memory; ``spark.sql.files.maxPartitionBytes`` plus the
metadata-only projection (Parquet column pruning keeps ``payload``
unread when only metadata is touched) control task sizing.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import _worker

__all__ = [
    "MEDIA_SCHEMA",
    "decode_stub",
    "deterministic_fake_decode",
    "extract_features",
    "frame_sample",
    "media_metadata",
    "pil_image_decode",
]

#: The canonical multimodal row: opaque payload + typed metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("payload", BinaryType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("feature", ArrayType(FloatType()), True),
    ]
)


def decode_stub(payload: bytes) -> "bytes":
    """Placeholder for the real media decoder — media libs are not in
    this container. Replace with PIL/torchaudio/av in production."""
    raise NotImplementedError(
        "media decoding requires an image/audio library not present in "
        "this environment; pass a real decoder via decode="
    )


def deterministic_fake_decode(payload: bytes, *, dim: int = 8) -> "list[float]":
    """Deterministic stand-in decoder: sha256-derived feature vector.
    Lets the full Spark plumbing (batching, schema, joins) be exercised
    and asserted without media libraries."""
    if payload is None:
        return None
    digest = hashlib.sha256(payload).digest()
    return [digest[i] / 255.0 for i in range(dim)]


def pil_image_decode(payload: bytes, *, size: int = 4) -> "list[float] | None":
    """A REAL image decoder for the pluggable ``decode=`` slot: PIL
    decode → grayscale → ``size×size`` resize → [0,1] pixel vector.

    PIL is imported lazily (the same pattern as the fastapi/sqlalchemy
    glue): where the library is absent this raises ImportError with the
    install hint, and the PIL-backed tests auto-skip; where it exists
    the full Spark plumbing runs against genuine image bytes. This is
    the production swap-in the stub documents — no other change is
    needed."""
    if payload is None:
        # the NULL-payload contract holds with or without Pillow
        return None
    try:
        from PIL import Image
    except ImportError as exc:  # pragma: no cover - env dependent
        raise ImportError(
            "pil_image_decode requires Pillow (pip install pillow); in "
            "environments without it, use deterministic_fake_decode or "
            "pass your own decode callable"
        ) from exc
    import io
    img = Image.open(io.BytesIO(payload)).convert("L").resize((size, size))
    return [p / 255.0 for p in img.getdata()]


def media_metadata(df: DataFrame) -> DataFrame:
    """Metadata-only projection — never touches ``payload``, so the
    Parquet scan prunes the heavy column entirely (check ReadSchema)."""
    return df.select("media_id", "kind", "mime", "width", "height", "duration_ms")


def extract_features(
    df: DataFrame, *, decode: "Callable[[bytes], list[float] | None]" = None
) -> DataFrame:
    """Decode payloads → feature vectors via streaming ``mapInPandas``.

    ``decode`` defaults to the deterministic fake; pass a real decoder in
    production (it raises loudly if you hit :func:`decode_stub`).
    """
    decoder = decode or deterministic_fake_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _worker.install()
        for batch in batches:
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "feature": batch["payload"].map(
                        lambda p: decoder(bytes(p)) if p is not None else None
                    ),
                }
            )

    return df.select("media_id", "payload").mapInPandas(run, FEATURE_SCHEMA)


def frame_sample(
    df: DataFrame,
    *,
    every_ms: int = 1000,
) -> DataFrame:
    """Frame-sampling plumbing for video rows: emits (media_id, frame_ts)
    rows natively via sequence+explode; the frame *decode* itself is the
    stubbed step downstream."""
    video = df.filter(F.col("kind") == "video")
    return video.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.coalesce(F.col("duration_ms"), F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_ts"),
    )
