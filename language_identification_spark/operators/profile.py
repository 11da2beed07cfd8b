"""Corpus profiling — per-group size/token distributions in one pass.

Every curation decision (sampling rates, quality thresholds, mixture
weights) starts from a profile: how many documents per language, how
long are they, where do the token-count percentiles sit.  This operator
computes all of it in ONE grouped aggregation over the corpus — count,
total/average tokens, and the requested percentiles — so profiling a
100 TB lake costs exactly one scan and one short-key shuffle of partial
aggregation buffers (group cardinality × constant, never rows).

The percentile estimator is the knob that matters at scale:

* ``exact=False`` (default): ``percentile_approx`` — Spark's mergeable
  quantile sketch.  Partial aggregation applies, executor memory per
  group is bounded by ``APPROX_ACCURACY`` (not group size), and error is
  ≤ 1/APPROX_ACCURACY of rank.  This is the only shape that survives a
  billion-row group.
* ``exact=True``: ``percentile`` — collects each group's values into
  the aggregation buffer (memory O(group size)); linear-interpolation
  semantics identical to SQL ``quantile_cont``/``percentile_cont``, and
  empirically bit-identical to DuckDB on integer inputs, which is what
  makes the profile independently auditable (the driver oracle runs
  this mode).  Use for CI-sized slices and cross-engine audits only.

Percentile and average columns ship as ``*_milli`` bigints (value ×1000
rounded) like every other numeric surface in this engine, so
cross-engine float formatting cannot perturb comparisons.

No reference analog: the reference engine keeps no corpus statistics
(`/root/reference/` processes one file at a time); part of the
LLM-training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from language_identification_spark.functions.text import token_count_col

APPROX_ACCURACY = 10000  # percentile_approx sketch size


def corpus_profile(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    percentiles: tuple[float, ...] = (0.5, 0.95),
    exact: bool = False,
) -> DataFrame:
    """Per-``group_col`` token-count profile of ``docs``.

    Returns ``(group_col, n_docs, total_tokens, avg_tokens_milli,
    p<NN>_tokens_milli ...)`` with one percentile column per entry in
    ``percentiles`` (named by percent, e.g. 0.95 → ``p95_tokens_milli``;
    approx mode returns integer-valued milli because the sketch yields
    an actual member of the group).
    """
    if not percentiles:
        raise ValueError("percentiles must be non-empty")
    for p in percentiles:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"percentile {p} outside [0, 1]")
    tc = token_count_col(F.col(text_col))
    base = docs.select(F.col(group_col), tc.alias("_tc"))
    pct_cols = []
    for p in percentiles:
        name = f"p{round(p * 100)}_tokens_milli"
        est = (
            F.percentile("_tc", F.lit(float(p)))
            if exact
            else F.percentile_approx("_tc", F.lit(float(p)), F.lit(APPROX_ACCURACY))
        )
        pct_cols.append(F.round(est * 1000).cast("long").alias(name))
    return base.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_tc").alias("total_tokens"),
        F.round(F.avg("_tc") * 1000).cast("long").alias("avg_tokens_milli"),
        *pct_cols,
    )
