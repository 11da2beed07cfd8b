"""Gopher-style within-document repetition signals — row-local, one scan.

Rae et al. 2021 ("Scaling Language Models: ... Gopher", Table A1) filter
training documents by *internal* repetition: the fraction of duplicate
lines / paragraphs, the fraction of characters inside them, and the
fraction of characters covered by the single most frequent word n-gram.
Dolma, RedPajama-v2 and FineWeb all reuse these signals.  The engine's
existing repetition gate (``functions/heuristics.py`` distinct-line
ratio) is the cheap early-exit form; this operator is the full,
separately-thresholded signal set for corpus quality audits and
mixture design.

Every signal is a WITHIN-document statistic, so the whole operator is
row-local: one ``mapInPandas`` stage computing Counter-based occurrence
statistics per document in exact integer arithmetic.  Zero Exchange, one
scan at any corpus size — the 100 TB plan is the same plan as the laptop
plan; only (id, text) cross the Python boundary.  (Until r06 this was a
chain of Catalyst ``array_sort`` + ``aggregate`` folds — higher-order
functions evaluate interpreted outside whole-stage codegen and the fold
subtrees get duplicated per consuming field, which measured ~40x slower
for identical integer output; see OPTIMIZATION_r06.md.)

Exact definitions (the DuckDB oracle derives them independently via
UNNEST + GROUP BY, not by mirroring the fold):

- *lines*: ``split('\\n')`` entries whose ``trim`` is non-empty;
  *paragraphs*: ``split(/\\n\\n+/)`` likewise.  A duplicate is every
  occurrence AFTER the first of an identical string, so
  ``dup = sum(count - 1)`` over repeated values and
  ``dup_chars = sum((count - 1) * length)``.
- *words*: ``split(trim(text), /\\s+/)`` (the engine-wide token spec,
  see ``operators/vocab.py``); an n-gram is ``n`` consecutive words
  joined by a single space.  ``top_{n}gram_char_frac`` counts
  ``count * length(gram)`` characters for the most frequent n-gram —
  ties broken toward the LONGER gram (worst-case fraction,
  deterministic across engines).  Counted even when the top count is
  1, like Dolma's implementation.
- Fractions are integer ppm (``x * 1_000_000 DIV denominator``,
  engine-exact — float division rounds differently across engines):
  line/paragraph fractions over the non-empty line/paragraph count,
  character fractions over ``length(text)``.  Empty denominators → 0.

``repetition_verdict`` applies Gopher's published thresholds (Table A1,
in ppm): drop when dup_line_frac > 0.30, dup_para_frac > 0.30,
dup_line_char_frac > 0.20, dup_para_char_frac > 0.20, or the top
2/3/4-gram char fraction exceeds 0.20 / 0.18 / 0.16.

No reference analog: the reference engine (see SURVEY.md) has no
corpus-level text quality ops; this module extends the LLM-training
surface alongside ``linededup``/``spandedup``/``collapse_runs``.
"""

from __future__ import annotations

import re as _re
from collections import Counter
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StructField,
    StructType,
)

from ..pyworker import forget_zip_importers

PPM = 1_000_000

# Gopher Table A1 thresholds, ppm
DUP_LINE_PPM = 300_000
DUP_PARA_PPM = 300_000
DUP_LINE_CHAR_PPM = 200_000
DUP_PARA_CHAR_PPM = 200_000
TOP_NGRAM_CHAR_PPM = {2: 200_000, 3: 180_000, 4: 160_000}


# Java regex \s without UNICODE_CHARACTER_CLASS is ASCII-only:
# [ \t\n\x0B\f\r].  Python's re.ASCII \s is the identical set, so the
# word tokenization below matches F.split(text, r"\s+") byte-for-byte.
_WS_RE = _re.compile(r"\s+", _re.ASCII)
_PARA_RE = _re.compile(r"\n\n+")


def _dup_stats(parts: list[str]) -> tuple[int, int, int]:
    """(n, dup, dup_chars) — duplicates are occurrences after the first;
    identical to the sort-adjacency fold, order-independently."""
    n = len(parts)
    if n < 2:
        return n, 0, 0
    dup = 0
    dupc = 0
    for p, c in Counter(parts).items():
        if c > 1:
            dup += c - 1
            dupc += (c - 1) * len(p)
    return n, dup, dupc


def _top_gram_chars(words: list[str], n: int) -> int:
    """count × length of the most frequent word n-gram; ties toward the
    LONGER gram (identical to the sorted-run fold's tie-break — only the
    product is consumed downstream).  Gram length == len(' '.join(g))."""
    if len(words) < n:
        return 0
    best_c = 0
    best_len = 0
    for g, c in Counter(zip(*(words[i:] for i in range(n)))).items():
        if c > best_c:
            best_c = c
            best_len = sum(map(len, g)) + n - 1
        elif c == best_c:
            glen = sum(map(len, g)) + n - 1
            if glen > best_len:
                best_len = glen
    return best_c * best_len


def _ppm(num: int, den: int) -> int:
    """Exact integer ppm — Python ``//`` on non-negative ints equals
    Spark's ``DIV`` on longs."""
    return (PPM * num) // den if den > 0 else 0


def gopher_repetition(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Gopher repetition signals + keep verdict.

    Output: ``(id_col, n_chars, dup_line_ppm, dup_line_char_ppm,
    dup_para_ppm, dup_para_char_ppm, top_{n}gram_char_ppm ...,
    repetition_keep)`` — all integers except the boolean verdict.

    r06 (guide §4.2): computed in ONE ``mapInPandas`` stage instead of
    row-local Catalyst higher-order-function folds.  HOFs evaluate
    outside whole-stage codegen (interpreted, with the fold subtree
    duplicated per consuming field), which measured 76 s at sf1.0 vs ~2 s
    for the same integer arithmetic as C-speed Counter passes.  Every
    statistic is a count/length/integer-floor-division, so the output is
    integer-for-integer identical (the DuckDB oracle derives the same
    numbers via UNNEST + GROUP BY either way); the operator stays
    row-local — one scan, no Exchange, only (id, text) cross the Python
    boundary."""
    ns = tuple(TOP_NGRAM_CHAR_PPM)
    caps = [TOP_NGRAM_CHAR_PPM[n] for n in ns]
    fields = [
        StructField(id_col, df.schema[id_col].dataType),
        StructField("n_chars", LongType()),
        StructField("dup_line_ppm", LongType()),
        StructField("dup_line_char_ppm", LongType()),
        StructField("dup_para_ppm", LongType()),
        StructField("dup_para_char_ppm", LongType()),
        *[StructField(f"top_{n}gram_char_ppm", LongType()) for n in ns],
        StructField("repetition_keep", BooleanType()),
    ]
    schema = StructType(fields)
    names = [f.name for f in fields]

    def _batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        forget_zip_importers()
        for pdf in it:
            ids = pdf[id_col].tolist()
            texts = pdf[text_col].tolist()
            rows: list[list] = []
            for i, t in enumerate(texts):
                t = "" if t is None else str(t)
                n_chars = len(t)
                # Spark trim strips 0x20 only — hence strip(" "), not strip()
                lines = [x for x in t.split("\n") if x.strip(" ") != ""]
                paras = [x for x in _PARA_RE.split(t) if x.strip(" ") != ""]
                t2 = t.strip(" ")
                words = _WS_RE.split(t2) if t2 != "" else []
                ln, ld, ldc = _dup_stats(lines)
                pn, pdp, pdc = _dup_stats(paras)
                row = [
                    ids[i],
                    n_chars,
                    _ppm(ld, ln),
                    _ppm(ldc, n_chars),
                    _ppm(pdp, pn),
                    _ppm(pdc, n_chars),
                ]
                tops = [_ppm(_top_gram_chars(words, n), n_chars) for n in ns]
                row.extend(tops)
                keep = (
                    row[2] <= DUP_LINE_PPM
                    and row[4] <= DUP_PARA_PPM
                    and row[3] <= DUP_LINE_CHAR_PPM
                    and row[5] <= DUP_PARA_CHAR_PPM
                )
                keep = keep and all(v <= cap for v, cap in zip(tops, caps))
                row.append(bool(keep))
                rows.append(row)
            yield pd.DataFrame(rows, columns=names)

    return df.select(id_col, text_col).mapInPandas(_batch, schema)
