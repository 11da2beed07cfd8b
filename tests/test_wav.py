"""Real WAV decode/convert (operators/wav.py) — the S10/P9 media rows.

Golden input: the reference repo's own sample
(`/root/reference/audio/samples/Arabic_english_mix_optimized.wav`) — used
read-only as test input, never copied into this repo.
"""

from __future__ import annotations

import io
import os
import wave

import numpy as np
import pytest

from language_identification_spark.operators.wav import (
    HEADROOM_DB,
    TARGET_RATE,
    convert_audio,
    convert_wav,
    decode_pcm,
    encode_wav16,
    normalize_peak,
    resample_linear,
    wav_props,
)

GOLDEN = "/root/reference/audio/samples/Arabic_english_mix_optimized.wav"


def _make_wav(
    rate: int, channels: int, width: int, seconds: float = 0.25, freq: float = 440.0
) -> bytes:
    """Synthetic sine WAV at arbitrary rate/channels/width."""
    n = int(rate * seconds)
    t = np.arange(n) / rate
    x = 0.5 * np.sin(2 * np.pi * freq * t)
    if channels == 2:
        x = np.stack([x, 0.25 * np.sin(2 * np.pi * 2 * freq * t)], axis=1)
    else:
        x = x[:, None]
    flat = x.reshape(-1)
    if width == 1:
        raw = (np.round(flat * 127) + 128).astype(np.uint8).tobytes()
    elif width == 2:
        raw = np.round(flat * 32767).astype("<i2").tobytes()
    elif width == 3:
        ints = np.round(flat * ((1 << 23) - 1)).astype(np.int64)
        ints = np.where(ints < 0, ints + (1 << 24), ints)
        b = np.zeros((len(ints), 3), dtype=np.uint8)
        b[:, 0] = ints & 0xFF
        b[:, 1] = (ints >> 8) & 0xFF
        b[:, 2] = (ints >> 16) & 0xFF
        raw = b.tobytes()
    else:
        raw = np.round(flat * ((1 << 31) - 1)).astype("<i4").tobytes()
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(width)
        wf.setframerate(rate)
        wf.writeframes(raw)
    return buf.getvalue()


@pytest.mark.parametrize("width", [1, 2, 3, 4])
def test_decode_pcm_widths_roundtrip_sine(width):
    payload = _make_wav(8000, 1, width)
    x, rate = decode_pcm(payload)
    assert rate == 8000 and x.shape == (2000, 1)
    # amplitude preserved within quantization error of the narrowest width
    assert abs(float(np.abs(x).max()) - 0.5) < (1.5 / 127 if width == 1 else 1e-3)


def test_decode_matches_stdlib_wave_int16():
    payload = _make_wav(16000, 2, 2)
    x, rate = decode_pcm(payload)
    with wave.open(io.BytesIO(payload), "rb") as wf:
        ref = np.frombuffer(wf.readframes(wf.getnframes()), dtype="<i2")
    assert np.array_equal(np.round(x.reshape(-1) * 32768.0), ref.astype(np.float64))


def test_convert_wav_full_semantics():
    """Stereo 44.1k 24-bit → mono 16k 16-bit, peak at -3 dBFS, duration kept."""
    payload = _make_wav(44100, 2, 3, seconds=0.5)
    conv = convert_wav(payload)
    ch, width, rate, n = wav_props(conv)
    assert (ch, width, rate) == (1, 2, TARGET_RATE)
    assert abs(n - int(0.5 * TARGET_RATE)) <= 1
    x, _ = decode_pcm(conv)
    peak_db = 20 * np.log10(float(np.abs(x).max()))
    assert abs(peak_db - (-HEADROOM_DB)) < 0.05


def test_convert_idempotent_on_conformant_input():
    conv1 = convert_wav(_make_wav(44100, 2, 2))
    conv2 = convert_wav(conv1)
    x1, _ = decode_pcm(conv1)
    x2, _ = decode_pcm(conv2)
    # already mono/16k/normalized: second pass changes nothing but rounding
    assert np.abs(x1 - x2).max() < 2.0 / 32767


def test_resample_preserves_dc_and_length():
    x = np.ones(44100)
    y = resample_linear(x, 44100, 16000)
    assert len(y) == 16000 and np.allclose(y, 1.0)
    assert resample_linear(x, 44100, 44100) is x


def test_normalize_peak_silence_passthrough():
    z = np.zeros(100)
    assert np.array_equal(normalize_peak(z), z)


@pytest.mark.skipif(not os.path.exists(GOLDEN), reason="reference sample absent")
def test_golden_reference_sample():
    """The reference's own pre-optimized sample: our props reader agrees with
    stdlib wave, and the payload is already in Speech-SDK format (it came out
    of the reference's converter), so our converter is a near-no-op on it."""
    with open(GOLDEN, "rb") as f:
        payload = f.read()
    ch, width, rate, n = wav_props(payload)
    with wave.open(GOLDEN, "rb") as wf:
        assert (ch, width, rate, n) == (
            wf.getnchannels(),
            wf.getsampwidth(),
            wf.getframerate(),
            wf.getnframes(),
        )
    assert (ch, width, rate) == (1, 2, 16000)  # the reference's target format
    conv = convert_wav(payload)
    cch, cwidth, crate, cn = wav_props(conv)
    assert (cch, cwidth, crate, cn) == (1, 2, 16000, n)
    x, _ = decode_pcm(conv)
    peak_db = 20 * np.log10(float(np.abs(x).max()))
    assert abs(peak_db - (-HEADROOM_DB)) < 0.05


def test_convert_audio_spark_matches_local_kernel(spark):
    payloads = {
        1: _make_wav(44100, 2, 2),
        2: _make_wav(22050, 1, 3),
        3: None,  # corrupt/absent payload must not fail the job
        4: b"not a wav",
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in payloads.items()], "media_id long, payload binary"
    )
    rows = {r.media_id: r for r in convert_audio(df).collect()}
    assert rows[3].payload is None and rows[4].payload is None
    for mid in (1, 2):
        assert bytes(rows[mid].payload) == convert_wav(payloads[mid])
        assert (rows[mid].channels, rows[mid].sample_width, rows[mid].sample_rate) == (
            1,
            2,
            TARGET_RATE,
        )


def test_convert_audio_survives_corrupt_riff(spark):
    """RIFF-prefixed garbage and truncated WAVs yield null rows, never job
    failures (the 100 TB no-poison-pill rule)."""
    good = _make_wav(8000, 1, 2)
    rows = [
        (1, b"RIFF" + b"\x00" * 40),      # RIFF prefix, not a WAV
        (2, good[: len(good) // 3]),       # truncated mid-data
        (3, good),                          # sanity: the good one converts
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in convert_audio(df).collect()}
    assert got[1].payload is None
    assert got[3].payload is not None and got[3].sample_rate == TARGET_RATE
