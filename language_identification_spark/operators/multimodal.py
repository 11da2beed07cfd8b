"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads travel as ``binary`` columns with a metadata
struct; decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages.  Audio WAV decode is real (``operators/wav.py``,
stdlib ``wave`` + numpy) and so is uncompressed-image decode
(``operators/image.py``, pure-numpy PNM/BMP).  Only COMPRESSED codecs
(PNG/JPEG/video), which need libraries this container lacks, are stubbed
behind a deterministic hash fake; the Spark-side contract — schema, batch
iteration, partition behavior, UDF signatures — is real and tested either
way.

The normalize semantics mirror the reference's audio conversion utility
(``/root/reference/convert_audio_optimized.py:37-104``: resample to a target
rate, collapse channels, normalize level) re-expressed as a metadata-driven
batch transform.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..pyworker import forget_zip_importers

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload_sha256", StringType()),
        StructField("payload_bytes", LongType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)

FEATURE_DIM = 16


def _decode(kind: str, payload: bytes) -> np.ndarray:
    """Decode a payload to a FEATURE_DIM feature vector.

    Audio WAV payloads decode for REAL (stdlib ``wave`` + numpy, see
    ``operators/wav.py``): per-segment RMS energy over FEATURE_DIM equal
    time slices of the mono signal — the deterministic acoustic envelope.
    Image PNM/BMP payloads also decode for REAL (pure-numpy
    ``operators/image.py``): a 4x4 block-mean luminance grid, the image
    analog of the RMS envelope.  Only COMPRESSED image/video codecs
    (PNG/JPEG/H.264), which genuinely need libraries this container lacks,
    keep the deterministic hash fake (clearly a stub, not silent)."""
    if kind == "audio" and payload and bytes(payload).startswith(b"RIFF"):
        from language_identification_spark.operators.wav import decode_pcm, to_mono

        try:
            mono = to_mono(decode_pcm(bytes(payload))[0])
        except Exception:  # noqa: BLE001 — corrupt payload: hash-fake fallback,
            mono = None  # never a job failure at 100 TB
        if mono is not None:
            if len(mono) >= FEATURE_DIM:
                # trailing remainder (< FEATURE_DIM samples) is dropped so
                # every segment has equal length — vectorized reshape
                seg = len(mono) // FEATURE_DIM
                segs = mono[: seg * FEATURE_DIM].reshape(FEATURE_DIM, seg)
                return np.sqrt((segs * segs).mean(axis=1)).astype(np.float32)
            return np.zeros(FEATURE_DIM, dtype=np.float32)
    if kind == "video" and payload:
        from language_identification_spark.operators.image import (
            _resample_axis,
            decode_pnm_stream,
        )

        b = bytes(payload)
        if b[:2] in (b"P5", b"P6"):  # multi-image PNM stream (netpbm spec)
            try:
                frames = decode_pnm_stream(b)
                # temporal envelope: per-frame mean luminance resampled to
                # FEATURE_DIM — the video analog of the audio RMS envelope
                env = np.array([f.mean() for f in frames], dtype=np.float64)
                return (
                    _resample_axis(env[None, :], FEATURE_DIM, 1)[0]
                    .astype(np.float32)
                )
            except ValueError:  # corrupt payload: hash-fake fallback
                pass
    if kind == "image" and payload:
        from language_identification_spark.operators.image import (
            decode_bmp,
            decode_pnm,
            grid_feature,
            sniff_format,
        )

        b = bytes(payload)  # ONE materialization + ONE sniff per row
        fmt = sniff_format(b)
        if fmt is not None:
            try:
                img = decode_pnm(b) if fmt == "pnm" else decode_bmp(b)
                return grid_feature(img, FEATURE_DIM)
            except ValueError:  # corrupt payload: hash-fake fallback,
                pass  # never a job failure at 100 TB
    # deterministic fake (compressed codecs, corrupt or unknown payloads):
    # payload bytes -> fixed-dim feature via hashing
    digest = hashlib.sha256(payload or b"").digest()
    arr = np.frombuffer(digest[: FEATURE_DIM * 2], dtype=np.uint16)
    return (arr.astype(np.float32) / 65535.0)[:FEATURE_DIM]


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    forget_zip_importers()
    for pdf in batches:
        payloads = pdf["payload"]
        feats = [
            [float(x) for x in _decode(k, p)]
            for k, p in zip(pdf["kind"], payloads)
        ]
        yield pd.DataFrame(
            {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "payload_sha256": [
                    hashlib.sha256(p or b"").hexdigest() for p in payloads
                ],
                "payload_bytes": [len(p or b"") for p in payloads],
                "feature": feats,
            }
        )


def extract_features(df: DataFrame) -> DataFrame:
    """media table → per-item feature vectors (Arrow-batched mapInPandas)."""
    return df.mapInPandas(_extract_batches, FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plan: explodes frame indices 0..n_frames step
    ``every_n`` as rows — pure expressions; the decode of each sampled frame
    would run through ``extract_features`` downstream."""
    from pyspark.sql import functions as F

    return (
        # n_frames <= 0 would make sequence(0, -1, n) throw "Illegal sequence
        # boundaries" at runtime and fail the whole job (ADVICE r01)
        df.filter((F.col("kind") == "video") & (F.col("n_frames") > 0))
        .withColumn(
            "frame_idx",
            F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))),
        )
        .select("media_id", "frame_idx", "payload")
    )
