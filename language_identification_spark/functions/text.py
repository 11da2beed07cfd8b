"""Text-analysis expressions for training-data pipelines — all pure Catalyst.

Token counting, quality scoring, and document fingerprinting as column
expressions (whole-stage codegen; SQL-oracle-expressible).  Heuristic
language ID over the ``documents`` table reuses the model UDF from the
pipeline (rows-only oracle).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny deterministic english stopword list for quality scoring
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def token_count_col(c: Column) -> Column:
    """Whitespace token count; 0 for empty/blank strings."""
    t = F.trim(c)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")


def punct_ratio_col(c: Column) -> Column:
    non_alnum_non_space = F.length(F.regexp_replace(c, r"[\p{L}\p{N}\s]", ""))
    return non_alnum_non_space.cast("double") / F.greatest(
        F.length(c), F.lit(1)
    ).cast("double")


def stopword_ratio_col(c: Column) -> Column:
    toks = F.split(F.lower(F.trim(c)), r"\s+")
    stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    return stop.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score_col(c: Column) -> Column:
    """Composite [0,1] quality score from length, punctuation, and stopword
    signals — a pure-expression stand-in for model-based quality filters."""
    length_score = F.least(F.length(c).cast("double") / F.lit(500.0), F.lit(1.0))
    punct_penalty = F.greatest(
        F.lit(0.0), F.lit(1.0) - punct_ratio_col(c) * F.lit(4.0)
    )
    stop_score = F.least(stopword_ratio_col(c) * F.lit(5.0), F.lit(1.0))
    return F.round(
        (length_score + punct_penalty + stop_score) / F.lit(3.0), 6
    )


def fingerprint_col(c: Column) -> Column:
    """Deterministic 64-bit-ish document fingerprint: first 16 hex chars of
    sha256 over the whitespace-normalized, lowercased text."""
    normalized = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.substring(F.sha2(F.encode(normalized, "UTF-8"), 256), 1, 16)


# winnowing parameters (frozen spec, shared with the SQL oracle and the
# scalar twin): k-gram size, winnow window, polynomial base, modulus
WINNOW_K = 5
WINNOW_W = 4
WINNOW_B = 31
WINNOW_M = 1 << 31


def with_winnow_fingerprints(df, text_col: str, out_col: str = "winnow_fp"):
    """Winnowing rolling-hash fingerprints (Schleimer et al.) as PURE
    Catalyst expressions — the local document-fingerprinting scheme behind
    MOSS-style near-duplicate detection.

    Pipeline per document: lowercase → strip non-alphanumerics → code
    points → polynomial k-gram rolling hashes (base B mod M) → minimum of
    every w-hash window → sorted distinct minima.  Two documents sharing a
    sufficiently long substring are guaranteed to share a fingerprint
    (the winnowing guarantee) — no UDF, no shuffle, SQL-mirrorable.

    Staged as intermediate columns (not one nested expression) because
    Catalyst re-evaluates a subexpression referenced inside a higher-order
    lambda once PER ELEMENT — a single-expression form is O(n²·k) per
    document; column references make each stage O(n)."""
    c = F.col(text_col)
    norm = F.regexp_replace(F.lower(c), r"[^\p{L}\p{N}]", "")
    tmp_cps, tmp_h = f"_{out_col}_cps", f"_{out_col}_hashes"
    df = df.withColumn(
        tmp_cps, F.transform(F.split(norm, ""), lambda ch: F.ascii(ch).cast("long"))
    )
    cps = F.col(tmp_cps)
    n_hashes = F.size(cps) - F.lit(WINNOW_K - 1)
    df = df.withColumn(
        tmp_h,
        F.when(
            F.size(cps) >= WINNOW_K,
            F.transform(
                F.sequence(F.lit(1), n_hashes),
                lambda i: F.aggregate(
                    F.sequence(F.lit(0), F.lit(WINNOW_K - 1)),
                    F.lit(0).cast("long"),
                    lambda acc, j: (
                        acc * F.lit(WINNOW_B)
                        + F.element_at(cps, (i + j).cast("int"))
                    )
                    % F.lit(WINNOW_M),
                ),
            ),
        ).otherwise(F.array().cast("array<long>")),
    )
    hashes = F.col(tmp_h)
    minima = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size(hashes) - F.lit(WINNOW_W - 1), F.lit(1))
        ),
        lambda p: F.array_min(F.slice(hashes, p.cast("int"), WINNOW_W)),
    )
    fp = F.when(
        F.size(hashes) > 0, F.array_sort(F.array_distinct(minima))
    ).otherwise(F.array().cast("array<long>"))
    return df.withColumn(out_col, fp).drop(tmp_cps, tmp_h)
