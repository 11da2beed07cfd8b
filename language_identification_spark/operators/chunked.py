"""Stateful cross-chunk normalization (P10 — the resampler-state analog).

The reference's writer loop converts audio chunk by chunk and must CARRY
CONVERTER STATE across chunk boundaries (``audioop.ratecv`` state at
``/root/reference/disconnected_language_detector.py:837,:877-878``) — a
chunk is not decodable independently of its predecessor.  The text-domain
twin: documents arriving as ordered byte chunks where

- a UTF-8 multibyte sequence can be split across a chunk boundary (the
  sample-width analog: carry the incomplete suffix), and
- a CRLF pair can straddle the boundary (carry the pending ``\\r``),

so per-chunk-independent decoding would corrupt exactly the rows a naive
port gets wrong.  ``normalize_chunked`` is the Spark operator:
``groupBy(doc).applyInPandas`` with the state threaded through the ordered
chunk sequence — state lives inside a key's group, never shared, which is
the shared-nothing re-expression of the reference's per-stream converter
state (SURVEY §2.2 P8-P10, §4.1 "stateful resample carried across chunks").

The correctness contract is exact equality with whole-document
normalization (``normalize_whole``), pinned by tests that split documents
INSIDE multibyte sequences and BETWEEN ``\\r`` and ``\\n``.
"""

from __future__ import annotations

import unicodedata
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..pyworker import forget_zip_importers

OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("n_chunks", LongType()),
    ]
)


def _utf8_incomplete_suffix(buf: bytes) -> int:
    """Length of an incomplete UTF-8 sequence at the END of ``buf`` (0-3)."""
    n = len(buf)
    for back in range(1, min(4, n + 1)):
        b = buf[n - back]
        if b & 0b1100_0000 == 0b1000_0000:
            continue  # continuation byte — keep scanning for the lead
        if b < 0x80:
            expected = 1
        elif b >> 5 == 0b110:
            expected = 2
        elif b >> 4 == 0b1110:
            expected = 3
        elif b >> 3 == 0b11110:
            expected = 4
        else:
            return 0  # invalid lead — let the decoder handle it
        return back if expected > back else 0
    return 0


def normalize_whole(data: bytes) -> str:
    """Whole-document twin: decode + newline canonicalization (CRLF/CR→LF)
    + Unicode NFC (the reference's level-normalize analog, SURVEY §2.2 P11:
    ``convert_audio_optimized.py:85`` normalizes amplitude; the text twin
    normalizes combining-character representation so visually identical
    strings hash identically)."""
    text = data.decode("utf-8", errors="replace").replace("\r\n", "\n").replace(
        "\r", "\n"
    )
    return unicodedata.normalize("NFC", text)


def normalize_chunk_stream(chunks: Iterator[bytes]) -> str:
    """Sequential chunk normalizer with carried state — exact equality with
    ``normalize_whole`` over the concatenated bytes."""
    parts: list[str] = []
    carry = b""  # incomplete UTF-8 suffix from the previous chunk
    cr_pending = False  # previous chunk ended in '\r' (CRLF may straddle)
    for payload in chunks:
        buf = carry + (payload or b"")
        cut = _utf8_incomplete_suffix(buf)
        carry = buf[len(buf) - cut :] if cut else b""
        text = buf[: len(buf) - cut].decode("utf-8", errors="replace")
        if cr_pending:
            text = "\r" + text
        cr_pending = text.endswith("\r")
        if cr_pending:
            text = text[:-1]
        parts.append(text.replace("\r\n", "\n").replace("\r", "\n"))
    if carry:  # truncated multibyte at EOF — decoder's replacement char
        parts.append(carry.decode("utf-8", errors="replace"))
    if cr_pending:
        parts.append("\n")  # lone trailing CR normalizes to LF
    # NFC at assembly: a combining sequence can straddle chunk boundaries,
    # so composition happens once over the assembled text — incremental NFC
    # would need UAX#15 stream-safe segmentation for zero benefit here,
    # since the operator's output granularity is the document
    return unicodedata.normalize("NFC", "".join(parts))


def _normalize_group(pdf: pd.DataFrame) -> pd.DataFrame:
    forget_zip_importers()
    pdf = pdf.sort_values("chunk_idx")
    doc_id = int(pdf["doc_id"].iloc[0])
    text = normalize_chunk_stream(iter(pdf["payload"]))
    return pd.DataFrame(
        {"doc_id": [doc_id], "text": [text], "n_chunks": [len(pdf)]}
    )


def normalize_chunked(df: DataFrame) -> DataFrame:
    """(doc_id long, chunk_idx long, payload binary) → one normalized row
    per document.  State is carried across the ordered chunks of each key
    inside ``applyInPandas`` — Spark shuffles each document's chunks to one
    task (one Exchange on doc_id), then the conversion is single-pass."""
    return df.groupBy("doc_id").applyInPandas(_normalize_group, OUTPUT_SCHEMA)
