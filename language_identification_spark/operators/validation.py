"""Data-quality gate for lake ingest: column profiling + expectations.

A 10^12-file lake runs validation BEFORE curation: a bad upstream dump
(null floods, truncated content, out-of-domain lang tags) should fail the
ingest gate, not surface three stages later as a mysterious F1 drop.  Two
operators, both one-pass aggregations (Deequ / Great Expectations do the
same checks; this is the minimal Spark-native core):

- ``column_profile``: per-column row/null/exact-distinct counts and
  min/max rendered as strings — the table-shape fingerprint an ingest
  pipeline diffs against the previous snapshot's profile.
- ``validate_expectations``: named boolean rules evaluated as ONE
  aggregation pass over the corpus; output is per-rule violation counts,
  so the gate is `assert all n_violations == 0` (or a tolerated rate).

Scale shape (100 TB lens): ``validate_expectations`` is a pure
partial-aggregated global aggregate — map-side combine reduces each
partition to one counter row before a SinglePartition Exchange; nothing
but counters moves (pinned by plan test).  ``column_profile`` with exact
distincts additionally shuffles the DISTINCT VALUES of the profiled
columns (Spark's Expand + hash Exchange, deduplicated map-side first) —
that is inherent to exact multi-column count(distinct) and is the one
genuinely expensive piece at lake scale.

Reference parity: the reference engine validates per-file WAV headers at
ingest (guard projections); this is the corpus-level analog from the
LLM-training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def column_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One-pass per-column profile: (column, n_rows, n_nulls, n_distinct,
    min_str, max_str), one output row per profiled column.

    min/max are computed on the NATIVE type (so integer columns order
    numerically, not lexically) and rendered to strings afterwards, which
    keeps the schema uniform across heterogeneous columns.  NULL-only
    columns render empty strings rather than NULL so downstream diffs are
    total.
    """
    names = cols if cols is not None else df.columns
    if not names:
        # F.array() over zero per-column structs yields array<null> and a
        # downstream star-expand fails with an opaque AnalysisException
        # (ADVICE r05) — fail fast with the actual problem instead
        raise ValueError("column_profile: no columns to profile "
                         "(empty cols list on a zero-column frame?)")
    aggs: list[Column] = [F.count(F.lit(1)).alias("_rows")]
    for c in names:
        col = F.col(c)
        aggs.append(F.count(col).alias(f"_nn_{c}"))
        aggs.append(F.count_distinct(col).alias(f"_nd_{c}"))
        aggs.append(F.min(col).cast("string").alias(f"_mn_{c}"))
        aggs.append(F.max(col).cast("string").alias(f"_mx_{c}"))
    wide = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("_rows").alias("n_rows"),
                (F.col("_rows") - F.col(f"_nn_{c}")).alias("n_nulls"),
                F.col(f"_nd_{c}").alias("n_distinct"),
                F.coalesce(F.col(f"_mn_{c}"), F.lit("")).alias("min_str"),
                F.coalesce(F.col(f"_mx_{c}"), F.lit("")).alias("max_str"),
            )
            for c in names
        ]
    )
    return wide.select(F.explode(per_col).alias("p")).select("p.*")


def validate_expectations(
    df: DataFrame, rules: dict[str, Column]
) -> DataFrame:
    """Evaluate named row-level expectations in ONE aggregation pass.

    ``rules`` maps a rule name to a boolean Column that is True when the
    row SATISFIES the expectation.  A NULL verdict (e.g. a comparison on a
    NULL value) counts as a violation — an unverifiable row must not pass
    an ingest gate silently.  Returns (rule, n_rows, n_violations) with
    one row per rule, exactly reproducible in any SQL engine as
    ``sum(CASE WHEN cond THEN 0 ELSE 1 END)``.
    """
    if not rules:
        # same array<null> star-expand failure as column_profile (ADVICE r05)
        raise ValueError("validate_expectations: no rules given")
    aggs: list[Column] = [F.count(F.lit(1)).alias("_rows")]
    for name, cond in rules.items():
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(
                        F.coalesce(cond, F.lit(False)), F.lit(0)
                    ).otherwise(F.lit(1))
                ),
                F.lit(0),  # empty corpus: zero violations, not NULL
            ).alias(f"_v_{name}")
        )
    wide = df.agg(*aggs)
    per_rule = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col("_rows").alias("n_rows"),
                F.col(f"_v_{name}").alias("n_violations"),
            )
            for name in rules
        ]
    )
    return wide.select(F.explode(per_rule).alias("r")).select("r.*")
