"""Quality heuristics as pure Catalyst expressions — NO UDFs.

These are the target-side materialization of the reference's cheap early
gates (zero-duration drop ``disconnected_language_detector.py:392-393``,
min-segment flag ``:312,:398-402``) plus the north-star heuristic rules
(line-length stats, alnum ratio, repetition, minified/generated detection).
Pure expressions keep them inside whole-stage codegen and let Catalyst push
them below/around the expensive Python stages (SURVEY.md §4.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import FilterConfig


def with_heuristics(df: DataFrame, content: str = "content") -> DataFrame:
    """Adds the heuristic feature columns used by the verdict."""
    c = F.col(content)
    lines = F.split(c, "\n")
    return (
        df.withColumn("n_chars", F.length(c).cast("long"))
        # ASCII-whitespace strip (Java \s set), matching the labeler's
        # strip(" \t\n\r\f\v") — F.trim would strip only 0x20 and diverge
        # from the ground truth on \n/\t-padded boundary rows (ADVICE r01).
        # btrim is linear; the regex ^\s+|\s+$ retried \s+$ from every
        # interior whitespace char, quadratic in whitespace runs.
        .withColumn(
            "n_chars_stripped",
            F.length(F.btrim(c, F.lit(" \t\n\r\f\u000b"))).cast("long"),
        )
        .withColumn("n_lines", F.size(lines).cast("long"))
        .withColumn(
            "max_line_len",
            F.coalesce(
                F.array_max(F.transform(lines, lambda x: F.length(x))), F.lit(0)
            ).cast("long"),
        )
        .withColumn(
            "distinct_line_ratio",
            (F.size(F.array_distinct(lines)).cast("double") / F.size(lines)),
        )
        .withColumn(
            "alnum_ratio",
            F.length(F.regexp_replace(c, r"[^\p{L}\p{N}]", "")).cast("double")
            / F.greatest(F.length(c), F.lit(1)).cast("double"),
        )
    )


def cheap_drop_reason(cfg: FilterConfig) -> Column:
    """First firing cheap rule, or NULL — evaluated before any Python stage.

    Rule order per config.py: too_short → minified → generated → repetition
    → low_alnum.
    """
    return (
        F.when(F.col("n_chars_stripped") < cfg.min_chars, "too_short")
        .when(F.col("max_line_len") > cfg.max_line_len, "minified")
        .when(F.col("content").rlike(cfg.generated_regex), "generated")
        .when(
            (F.col("n_lines") >= cfg.rep_min_lines)
            & (F.col("distinct_line_ratio") < cfg.rep_distinct_ratio),
            "repetition",
        )
        .when(
            (F.col("alnum_ratio") < cfg.min_alnum_ratio) & (F.col("n_chars") >= 64),
            "low_alnum",
        )
    )
