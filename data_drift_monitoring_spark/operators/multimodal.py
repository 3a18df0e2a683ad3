"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, processed via Arrow-batched ``mapInPandas``.

The decode step itself is STUBBED (no image/audio libraries in this
container — ``_HAS_PIL``-style gates below); everything Spark-side is real
and tested: the schema contract, the mapInPandas batch plumbing, the
partition sizing, and a deterministic fake decoder so the pipeline shape is
exercisable end to end. Swapping ``fake=True`` for a real decoder is a
one-function change on the executor side.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..session import local_frame

try:  # pragma: no cover - not installed in this container
    from PIL import Image  # noqa: F401

    _HAS_PIL = True
except Exception:  # pragma: no cover
    _HAS_PIL = False

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def synth_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes)."""
    rng = np.random.default_rng(seed)
    rows = [
        (
            f"m_{i:06d}",
            ["image", "audio", "video"][i % 3],
            bytes(rng.integers(0, 256, size=128, dtype=np.uint8)),
            ["image/png", "audio/wav", "video/mp4"][i % 3],
            64,
            64,
            1000,
        )
        for i in range(n)
    ]
    return local_frame(spark, rows, MEDIA_SCHEMA)


def _fake_feature(payload: bytes, dim: int = 8) -> np.ndarray:
    """Deterministic stand-in for a decoded-content embedding: byte
    histogram moments. Replaces a real decode→model step."""
    b = np.frombuffer(payload or b"\x00", dtype=np.uint8).astype(np.float32)
    chunks = np.array_split(b, dim)
    return np.array([c.mean() / 255.0 if len(c) else 0.0 for c in chunks], np.float32)


def extract_features(
    df: DataFrame, dim: int = 8, fake: bool = not _HAS_PIL
) -> DataFrame:
    """mapInPandas feature extraction: Arrow batches of (media_id, payload)
    → (media_id, n_bytes, feature). With ``fake=False`` requires a real
    decoder library (PIL) and raises if absent — the stub boundary."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake and not _HAS_PIL:
                raise NotImplementedError(
                    "real media decode requires PIL/librosa — not available "
                    "in this container; use fake=True for plumbing tests"
                )
            feats = [
                _fake_feature(p, dim).tolist() if p is not None else None
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": [
                        len(p) if p is not None else 0 for p in pdf["payload"]
                    ],
                    "feature": feats,
                }
            )

    return df.select("media_id", "payload").mapInPandas(gen, FEATURE_SCHEMA)


def sample_frames(
    df: DataFrame, every_ms: int = 250, fake: bool = not _HAS_PIL
) -> DataFrame:
    """Video frame sampling plumbing: one output row per sampled timestamp.
    Decode is stubbed; the row-explosion contract (media_id, frame_ts_ms,
    frame_feature) is real."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.StringType(), False),
            T.StructField("frame_ts_ms", T.IntegerType(), False),
            T.StructField("frame_feature", T.ArrayType(T.FloatType()), True),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake and not _HAS_PIL:
                raise NotImplementedError("real frame decode unavailable")
            ids, ts, feats = [], [], []
            for mid, payload, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                for t in range(0, int(dur or 0), every_ms):
                    ids.append(mid)
                    ts.append(t)
                    feats.append(
                        _fake_feature((payload or b"") + t.to_bytes(4, "little")).tolist()
                    )
            yield pd.DataFrame(
                {"media_id": ids, "frame_ts_ms": ts, "frame_feature": feats}
            )

    return (
        df.filter(F.col("media_type") == "video")
        .select("media_id", "payload", "duration_ms")
        .mapInPandas(gen, schema)
    )
