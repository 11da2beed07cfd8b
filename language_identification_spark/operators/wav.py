"""Real WAV decode + convert — the reference's audio-normalize semantics.

This is the genuinely-implemented form of the S10 "offline media converter"
row: the reference converts arbitrary audio to Speech-SDK format — mono,
16 kHz, 16-bit PCM, peak-normalized with 3 dB headroom
(``/root/reference/convert_audio_optimized.py:37-104``) — and reads WAV
frames in chunks (``disconnected_language_detector.py:211-239``,
``_wav_props``/``_read_frames``).  Here the same transform is re-expressed
as pure-numpy kernels over stdlib ``wave`` payload bytes (no external codec
libraries), wrapped in an Arrow-batched ``mapInPandas`` stage so payloads
travel as opaque ``binary`` columns and every executor converts its own
partition — no driver involvement, no shuffle.

Semantics (each step mirrors a reference step):

- stereo→mono: channel mean                 (ref: ``audio.set_channels(1)``)
- resample to target rate: linear interp    (ref: ``audio.set_frame_rate``)
- bit depth → 16-bit PCM                    (ref: ``audio.set_sample_width(2)``)
- peak normalize to -3 dBFS                 (ref: ``audio.normalize(...)``)

Supported PCM widths: 8-bit unsigned, 16-bit, 24-bit, 32-bit little-endian
(the widths stdlib ``wave`` emits).  The resampler is deterministic linear
interpolation — same output on every executor, every run.
"""

from __future__ import annotations

import io
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..pyworker import forget_zip_importers

TARGET_RATE = 16_000
HEADROOM_DB = 3.0


def wav_props(payload: bytes) -> tuple[int, int, int, int]:
    """(channels, sample_width_bytes, sample_rate, n_frames) of a WAV payload
    (the reference's ``_wav_props`` over bytes instead of a path)."""
    with wave.open(io.BytesIO(payload), "rb") as wf:
        return (
            wf.getnchannels(),
            wf.getsampwidth(),
            wf.getframerate(),
            wf.getnframes(),
        )


def decode_pcm(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode WAV payload → (float64 array shape (n_frames, channels) in
    [-1, 1], sample_rate)."""
    with wave.open(io.BytesIO(payload), "rb") as wf:
        ch, width, rate, n = (
            wf.getnchannels(),
            wf.getsampwidth(),
            wf.getframerate(),
            wf.getnframes(),
        )
        raw = wf.readframes(n)
    if width == 1:  # unsigned 8-bit
        x = np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
        x = (x - 128.0) / 128.0
    elif width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 3:  # packed little-endian 24-bit
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3)
        x = (
            b[:, 0].astype(np.int32)
            | (b[:, 1].astype(np.int32) << 8)
            | (b[:, 2].astype(np.int32) << 16)
        )
        x = np.where(x >= 1 << 23, x - (1 << 24), x).astype(np.float64) / float(
            1 << 23
        )
    elif width == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / float(1 << 31)
    else:
        raise ValueError(f"unsupported PCM sample width: {width}")
    return x.reshape(-1, ch), rate


def to_mono(x: np.ndarray) -> np.ndarray:
    """(n, ch) → (n,) channel mean (ref: ``set_channels(1)``)."""
    return x.mean(axis=1) if x.ndim == 2 else x


def resample_linear(x: np.ndarray, src_rate: int, dst_rate: int) -> np.ndarray:
    """Deterministic linear-interpolation resample of a mono signal."""
    if src_rate == dst_rate or len(x) == 0:
        return x
    n_out = max(1, int(round(len(x) * dst_rate / src_rate)))
    pos = np.arange(n_out, dtype=np.float64) * (src_rate / dst_rate)
    return np.interp(pos, np.arange(len(x), dtype=np.float64), x)


def normalize_peak(x: np.ndarray) -> np.ndarray:
    """Scale so the peak sits ``HEADROOM_DB`` below full scale (ref:
    ``audio.normalize``).  Silence passes through unscaled."""
    peak = float(np.abs(x).max(initial=0.0))
    if peak == 0.0:
        return x
    return x * (10.0 ** (-HEADROOM_DB / 20.0) / peak)


def encode_wav16(x: np.ndarray, rate: int) -> bytes:
    """Mono float [-1,1] → 16-bit PCM mono WAV bytes."""
    pcm = np.clip(np.round(x * 32767.0), -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(pcm.tobytes())
    return buf.getvalue()


def convert_wav(payload: bytes) -> bytes:
    """Full reference conversion: decode → mono → resample → normalize →
    16-bit WAV bytes (``convert_audio_optimized.py:37-104``)."""
    x, rate = decode_pcm(payload)
    mono = resample_linear(to_mono(x), rate, TARGET_RATE)
    return encode_wav16(normalize_peak(mono), TARGET_RATE)


CONVERTED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("sample_width", IntegerType()),
    ]
)


def _conv_one(payload) -> bytes | None:
    # variable-length audio decode is inherently per-payload; each call
    # is numpy inside.  ONE bytes() materialization per row (it is a
    # no-op when Arrow already hands us bytes); non-WAV and corrupt rows
    # surface as None, not job failures — a 100 TB run must not die on
    # one payload.
    if payload is None:
        return None
    b = bytes(payload)
    if not b.startswith(b"RIFF"):
        return None
    try:
        return convert_wav(b)
    except Exception:  # noqa: BLE001 — truncated/corrupt WAV
        return None


_NULL_PROPS = (None, None, None, None)


def _convert_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    forget_zip_importers()
    for pdf in batches:
        convs = [_conv_one(p) for p in pdf["payload"]]
        props = [wav_props(c) if c is not None else _NULL_PROPS for c in convs]
        yield pd.DataFrame(
            {
                "media_id": pdf["media_id"].to_numpy(),
                "payload": convs,
                "sample_rate": [p[2] for p in props],
                "n_frames": [p[3] for p in props],
                "channels": [p[0] for p in props],
                "sample_width": [p[1] for p in props],
            }
        )


def convert_audio(df: DataFrame) -> DataFrame:
    """Media table → Speech-SDK-format WAV payloads (mono / 16 kHz /
    16-bit / -3 dBFS peak), one Arrow-batched stage, no shuffle.  Input
    needs ``media_id`` + ``payload`` columns; corrupt/non-WAV payloads
    yield null rows instead of failing the job."""
    return df.select("media_id", "payload").mapInPandas(
        _convert_batches, CONVERTED_SCHEMA
    )
