"""Source-code symbol mining and complexity metrics.

Code-corpus curation wants per-file structural signals beyond raw text
heuristics: which symbols a file defines (API surface, symbol-level
dedup keys, search indexing) and how complex/dense it is (filtering
generated or pathological files, stratifying training mixtures by
difficulty).  Both are row-local — one scan, whole-stage codegen, no
UDF, no Exchange — so they cost what the scan costs at any corpus size.

- ``mine_symbols``: multiline-regex extraction of function/class
  definitions across the common syntaxes (``def``/``class`` for Python,
  ``function`` for JS, ``func`` for Go), each tagged with its kind.
- ``code_metrics``: per-file integer metrics — line count, max line
  length, max indent depth, branch-keyword count, comment-line count,
  blank-line count, and ppm ratios (integer, engine-portable: ratios
  are ``x * 1_000_000 DIV n_lines`` so the DuckDB oracle reproduces
  them bit-for-bit; float division would not).

Scale shape (100 TB lens): both operators are pure projections over the
scan — embarrassingly parallel per split, filter/column pruning reach
the parquet reader, and the symbol explode emits only (doc_id, kind,
name) triples.  Regex cost is bounded per row by clipping to a prefix
where appropriate (symbols appear throughout a file, so mining scans
the full text but each regex is a single linear pass).

Reference parity: the reference engine has no code-structure stage;
this is part of the LLM-training-data extension surface for the code
payload (same tier as ``operators/license.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PPM = 1_000_000

_SYMBOL_PATTERNS = (
    ("py_function", r"(?m)^[ \t]*def[ ]+([A-Za-z_][A-Za-z0-9_]*)"),
    ("py_class", r"(?m)^[ \t]*class[ ]+([A-Za-z_][A-Za-z0-9_]*)"),
    ("js_function", r"(?m)^[ \t]*function[ ]+([A-Za-z_$][A-Za-z0-9_$]*)"),
    ("go_func", r"(?m)^func[ ]+([A-Za-z_][A-Za-z0-9_]*)"),
)

BRANCH_RE = r"\b(if|elif|else|for|while|switch|case)\b"
COMMENT_RE = r"^[ \t]*(#|//)"


def mine_symbols(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Defined symbols per document: ``id_col``, ``kind``, ``name``.

    One row per (doc, kind, name) — duplicates within a document
    collapse.  Pure Catalyst: a union of multiline regexp_extract_all
    projections, no UDF.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    # ONE corpus scan: every pattern's matches become (kind, name) structs
    # in a single projection, concatenated and exploded together — a
    # per-pattern union would re-read the source once per pattern, which
    # at 100 TB is the whole cost
    def _tagged(kind: str, pat: str):
        # NB: the lambda must be single-parameter — F.transform treats a
        # second parameter (even a defaulted one) as the array INDEX
        return F.transform(
            F.regexp_extract_all(text, F.lit(pat), F.lit(1)),
            lambda name: F.struct(F.lit(kind).alias("kind"), name.alias("name")),
        )

    per_pattern = [_tagged(kind, pat) for kind, pat in _SYMBOL_PATTERNS]
    exploded = df.select(
        F.col(id_col), F.explode(F.concat(*per_pattern)).alias("s")
    )
    return exploded.select(
        id_col, F.col("s.kind").alias("kind"), F.col("s.name").alias("name")
    ).distinct()


def _lines(text: Column) -> Column:
    return F.split(text, "\n")


def code_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-file integer complexity metrics (see module docstring).

    Columns: ``n_lines``, ``max_line_len``, ``max_indent``,
    ``n_branches``, ``n_comment_lines``, ``n_blank_lines``,
    ``comment_ppm``, ``blank_ppm``.  All integers; ratios use integer
    DIV so results are engine-exact.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = _lines(text)
    n_lines = F.size(lines)
    max_len = F.coalesce(
        F.array_max(F.transform(lines, lambda x: F.length(x))), F.lit(0)
    )
    max_indent = F.coalesce(
        F.array_max(
            F.transform(lines, lambda x: F.length(x) - F.length(F.ltrim(x)))
        ),
        F.lit(0),
    )
    n_comment = F.size(F.filter(lines, lambda x: x.rlike(COMMENT_RE)))
    n_blank = F.size(F.filter(lines, lambda x: F.trim(x) == F.lit("")))
    n_branches = F.regexp_count(text, F.lit(BRANCH_RE))
    # split('\n') on any string yields >= 1 element, so n_lines >= 1 and
    # the DIV below never divides by zero
    return df.select(
        F.col(id_col),
        n_lines.cast("int").alias("n_lines"),
        max_len.cast("int").alias("max_line_len"),
        max_indent.cast("int").alias("max_indent"),
        n_branches.cast("int").alias("n_branches"),
        n_comment.cast("int").alias("n_comment_lines"),
        n_blank.cast("int").alias("n_blank_lines"),
        # multiply in LONG: PPM * an int count overflows 32-bit at ~2148
        # comment lines (silently negative with ANSI off, a crash with it
        # on) while the DuckDB oracle computes BIGINT — cast first
        (F.lit(PPM).cast("long") * n_comment.cast("long")).alias("_c_tmp"),
        (F.lit(PPM).cast("long") * n_blank.cast("long")).alias("_b_tmp"),
    ).select(
        id_col,
        "n_lines",
        "max_line_len",
        "max_indent",
        "n_branches",
        "n_comment_lines",
        "n_blank_lines",
        F.expr("_c_tmp DIV n_lines").alias("comment_ppm"),
        F.expr("_b_tmp DIV n_lines").alias("blank_ppm"),
    )


BLOCK_COMMENT_RE = r"(?s)/\*.*?\*/"


def strip_comments(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Comment-stripping census: per-document counts plus the rewritten
    text's sha256 (the oracle verifies the exact rewrite without hauling
    text through the compare — same contract as ``collapse_runs``).

    Columns: ``n_lines_in``, ``n_block_chars_removed``,
    ``n_comment_lines_removed``, ``stripped_chars``, ``stripped_sha256``.
    Row-local (one projection, zero Exchange, zero UDF).

    The rewrite is two deterministic passes: (1) ``/* ... */`` block
    comments deleted (lazy match, so an unterminated ``/*`` is left alone
    — consistent in both engines); (2) whole lines whose first non-blank
    characters are ``#`` or ``//`` dropped.  A string literal that *looks*
    like a comment (a lone ``"# nope"`` line, a ``/* */`` inside a string)
    is stripped too: the rewrite serves dedup normalization and
    comment-density curation, where that false positive is harmless and
    bit-reproducible.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    no_block = F.regexp_replace(text, BLOCK_COMMENT_RE, "")
    all_lines = F.split(no_block, "\n")
    kept = F.filter(all_lines, lambda x: ~x.rlike(COMMENT_RE))
    stripped = F.array_join(kept, "\n")
    return df.select(
        F.col(id_col),
        F.size(F.split(text, "\n")).cast("long").alias("n_lines_in"),
        (F.length(text) - F.length(no_block)).cast("long").alias(
            "n_block_chars_removed"
        ),
        (F.size(all_lines) - F.size(kept)).cast("long").alias(
            "n_comment_lines_removed"
        ),
        F.length(stripped).cast("long").alias("stripped_chars"),
        F.sha2(F.encode(stripped, "UTF-8"), 256).alias("stripped_sha256"),
    )
