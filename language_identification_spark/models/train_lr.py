"""Distributed logistic-regression quality-classifier training.

The counts-based trainers (``train_distributed.py``) fit generative
models; a curation pipeline also wants a *discriminative* quality
classifier fit on the cluster — full-batch gradient descent where each
iteration is one aggregation job and only the (d+1)-vector gradient
crosses to the driver.  This module trains a tiny LR on exact-integer
text features and is verified end-to-end by a DuckDB oracle that
independently retrains in numpy and re-scores every document in SQL
(the same engine-independence discipline as the trained IVF quantizer
in ``operators/similarity.py``).

Engine-exact determinism, the part that makes the oracle possible:

* **Features are exact integers** (milli/permilli ratios built from
  character and token counts with ``floor`` of a double division —
  never ``round``).  Integer-identical features mean the float feature
  matrix ``milli / 1000.0`` is bit-identical across engines (one
  correctly-rounded IEEE-754 division).
* **Weights are quantized to 9 decimals after every update** — the
  per-iteration gradient differs from numpy's only by summation-order
  and ``exp`` ulps (~1e-13 relative), which the 1e-9 quantization
  absorbs, so the whole trajectory is bit-identical (same trick, and
  the same argument, as ``train_ivf_centroids``).
* **Published outputs avoid ties**: the margin is a fixed
  left-associated dot product of 9-decimal weights with exact
  features, published as ``floor(margin * 1e6)`` — floor of identical
  doubles, no HALF_UP-vs-half-even rounding divergence.

Scale shape (100 TB lens): per iteration one scan + one partial
aggregation; the Exchange carries (d+2) doubles per upstream partition
and the driver holds (d+1) scalars.  Rows never reach the driver;
scoring is a row-local projection with the weights folded in as
literals (no Exchange, no UDF).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from language_identification_spark.functions.text import STOPWORDS

DEFAULT_ITERS = 40
DEFAULT_LR = 4.0


def _text(text_col: str) -> Column:
    return F.coalesce(F.col(text_col), F.lit(""))


def lr_feature_cols(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-integer features + label.  Adds:

    * ``len_milli``     = min(2 * n_chars, 1000)            (length signal)
    * ``punct_permilli``= floor(1000 * n_punct / n_chars)   (noise signal)
    * ``stop_permilli`` = floor(1000 * n_stop / n_tokens)   (fluency signal)
    * ``label``         = 1 when len_milli >= 600 AND punct_permilli <= 150

    Every value is a BIGINT derived from counts — no float round-off can
    differ across engines, so the training data is reproducible anywhere.
    """
    t = _text(text_col)
    n = F.length(t)
    p = F.length(F.regexp_replace(t, r"[\p{L}\p{N}\s]", ""))
    toks = F.split(F.lower(F.trim(t)), r"\s+")
    m = F.when(F.trim(t) == "", F.lit(0)).otherwise(F.size(toks))
    s = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    out = df.withColumn(
        "len_milli", F.least(n * 2, F.lit(1000)).cast("long")
    ).withColumn(
        "punct_permilli",
        F.floor((p * 1000).cast("double") / F.greatest(n, F.lit(1))).cast("long"),
    ).withColumn(
        "stop_permilli",
        F.floor((s * 1000).cast("double") / F.greatest(m, F.lit(1))).cast("long"),
    )
    return out.withColumn(
        "label",
        ((F.col("len_milli") >= 600) & (F.col("punct_permilli") <= 150)).cast("int"),
    )


def _margin_expr(weights: list[float]) -> Column:
    """Left-associated dot product — the association order is part of the
    cross-engine contract (the oracle SQL parenthesizes identically)."""
    x1 = F.col("len_milli").cast("double") / F.lit(1000.0)
    x2 = F.col("punct_permilli").cast("double") / F.lit(1000.0)
    x3 = F.col("stop_permilli").cast("double") / F.lit(1000.0)
    return (
        (F.lit(weights[0]) + F.lit(weights[1]) * x1)
        + F.lit(weights[2]) * x2
    ) + F.lit(weights[3]) * x3


def train_quality_lr(
    df: DataFrame,
    text_col: str = "text",
) -> list[float]:
    """Full-batch GD, ``DEFAULT_ITERS`` steps of size ``DEFAULT_LR``;
    returns ``[w0 (bias), w1, w2, w3]`` quantized to 9 decimals.  One
    aggregation job per iteration; only (d+1) scalars reach the driver per
    round.

    The exact-integer features (4 longs per row) are persisted before the
    loop: without the cache every iteration re-scans the corpus and
    re-runs the regex feature extraction — at 40 iterations that is 40
    full text scans for a feature table that is ~1000x smaller than the
    text.  ``persist`` (not localCheckpoint) so a lost executor recomputes
    its cached split from lineage instead of failing the job."""
    feats = lr_feature_cols(df, text_col).select(
        "len_milli", "punct_permilli", "stop_permilli", "label"
    )
    # r06 (guide §2.2/§5): the iteration table is 4 longs/row; when the
    # (possibly spread) extraction ran wide, 40 gradient jobs over a
    # many-partition cache pay task scheduling, not compute.  Compact the
    # cached table to a bounded partition count; for feature tables that
    # are already few-partition this is a no-op.
    sc = df.sparkSession.sparkContext
    target = max(8, sc.defaultParallelism // 4)
    if feats.rdd.getNumPartitions() > 4 * target:
        feats = feats.repartition(target)
    feats = feats.persist()
    x1 = F.col("len_milli").cast("double") / F.lit(1000.0)
    x2 = F.col("punct_permilli").cast("double") / F.lit(1000.0)
    x3 = F.col("stop_permilli").cast("double") / F.lit(1000.0)
    y = F.col("label").cast("double")
    w = [0.0, 0.0, 0.0, 0.0]
    try:
        for _ in range(DEFAULT_ITERS):
            margin = _margin_expr(w)
            resid = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)) - y
            row = feats.agg(
                F.sum(resid).alias("g0"),
                F.sum(resid * x1).alias("g1"),
                F.sum(resid * x2).alias("g2"),
                F.sum(resid * x3).alias("g3"),
                F.count(F.lit(1)).alias("n"),
            ).first()
            n = float(row["n"])
            if n == 0:
                raise ValueError("cannot train on an empty table")
            w = [
                round(w[j] - DEFAULT_LR * float(row[f"g{j}"]) / n, 9)
                for j in range(4)
            ]
    finally:
        feats.unpersist()
    return w


def score_quality_lr(
    df: DataFrame, weights: list[float], text_col: str = "text"
) -> DataFrame:
    """Row-local scoring with the weights folded in as literals.

    Output: ``(doc_id, margin_micro, pred)`` — ``margin_micro`` is
    ``floor(margin * 1e6)`` (tie-free across engines), ``pred`` is the
    decision-boundary sign ``margin >= 0``."""
    feats = lr_feature_cols(df, text_col)
    margin = _margin_expr(weights)
    return feats.select(
        "doc_id",
        F.floor(margin * F.lit(1_000_000.0)).cast("long").alias("margin_micro"),
        (margin >= 0).alias("pred"),
    )
