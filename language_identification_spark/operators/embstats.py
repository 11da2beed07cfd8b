"""Embedding-space health stats — norm profile + exact z-score outliers.

Embedding columns feed the semantic-dedup and ANN stages; a batch of
degenerate vectors (zero norms from a failed encoder shard, exploding
norms from a bad checkpoint) silently poisons every cosine downstream.
This operator profiles L2 norms per label group and flags outliers —
the standard data-quality gate before any embedding-based curation.

The outlier test is the textbook ``|x - mean| > z * std`` but evaluated
entirely in integer arithmetic on micro-quantized norms:

    (n*x - sum)^2  >  z^2 * (n*sum2 - sum^2)

(multiply both sides of ``(x-mean)^2 > z^2 * var`` by ``n^2``) — sums of
longs are order-independent, so the verdict is bit-reproducible across
engines, partitionings, and aggregation orders, unlike any float
mean/std comparison.  Intermediates are carried as DECIMAL(38,0)
(Spark) / HUGEINT (DuckDB): at 1e12 rows per label with micro-quantized
norms ~1e7, ``n*sum2`` peaks around 1e38 — inside both types.

Reference parity: no analog (the reference has no embedding surface);
LLM-training-data extension.

Scale shape (100 TB lens): the norm is a row-local higher-order-function
fold over the vector (no UDF, no shuffle); group stats are one
partial-aggregated groupBy carrying three numbers per label, broadcast
back — the vectors themselves never shuffle and never reach the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def l2_norm_col(vec: Column) -> Column:
    """Row-local L2 norm of an array column (double)."""
    return F.sqrt(
        F.aggregate(
            vec, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


OUTLIER_Z = 3


def norm_outliers(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-vector norm + exact integer z-score outlier flag per label.

    Output: ``<id_col>``, ``<label_col>``, ``norm_micro`` (long,
    micro-quantized L2 norm), ``n_label`` (group size), ``mean_micro``
    (integer-floor group mean) and ``is_outlier`` (more than ``OUTLIER_Z``
    standard deviations from the group mean; an integer so ``z^2`` stays
    exact).
    """
    norm_micro = (
        F.round(F.round(l2_norm_col(F.col(vec_col)), 6) * 1000000)
        .cast("long")
        .alias("norm_micro")
    )
    rows = emb.select(F.col(id_col), F.col(label_col), norm_micro)
    x38 = F.col("norm_micro").cast("decimal(38,0)")
    stats = rows.groupBy(label_col).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_g"),
        F.sum(x38).cast("decimal(38,0)").alias("sum_g"),
        F.sum(x38 * x38).cast("decimal(38,0)").alias("sum2_g"),
    )
    joined = rows.join(F.broadcast(stats), on=label_col)
    dev = F.col("n_g") * x38 - F.col("sum_g")
    var_n2 = F.col("n_g") * F.col("sum2_g") - F.col("sum_g") * F.col("sum_g")
    return joined.select(
        id_col,
        label_col,
        "norm_micro",
        F.col("n_g").cast("long").alias("n_label"),
        # subtract the exact decimal remainder before dividing so the
        # quotient is integral and decimal HALF_UP rounding can never
        # perturb the floor (a bare floor(sum/n) rounds at scale 6 first)
        F.floor(
            (F.col("sum_g") - F.col("sum_g") % F.col("n_g")) / F.col("n_g")
        )
        .cast("long")
        .alias("mean_micro"),
        (dev * dev > F.lit(OUTLIER_Z * OUTLIER_Z) * var_n2).alias("is_outlier"),
    )
