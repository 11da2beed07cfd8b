"""Threshold calibration — confusion matrix + F1 at every cutoff, one scan.

The quality pipeline's keep/drop gate is a confidence threshold
(``plans/pipeline.py``); choosing it on a 100 TB corpus means sweeping
candidate cutoffs against a labeled sample.  The naive sweep (one filter
per threshold) re-scans the corpus per candidate; the cross-join form
(docs x thresholds) multiplies the shuffle by the grid size.  This
operator does it in ONE pass:

* each row is bucketed to its grid cell by integer division of the
  already-quantized milli score — one ``groupBy(cell)`` over the data,
  the only data-sized operation;
* per-threshold counts are cumulative sums over the ~41-row grid — an
  unpartitioned window over GRID rows, not data rows (same k-row
  justification as ``mixture_plan``'s normalizer);
* totals come from the same aggregate, so TP/FP/FN/TN, precision,
  recall, and F1 per threshold need no second scan.

All outputs are integers (counts, and metric x1000 rounded), so an
external engine re-deriving the sweep agrees bit-exactly.

No reference analog: the reference engine hard-codes its confidence
gate (``disconnected_language_detector.py``); sweeping it at corpus
scale is part of the LLM-training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MAX_MILLI = 1000  # scores are milli-units in [0, MAX_MILLI]


def threshold_sweep(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    step_milli: int = 25,
) -> DataFrame:
    """Sweep ``keep iff score >= t`` over a milli-unit threshold grid.

    ``score_col`` is an integer 0..MAX_MILLI score (quantize floats
    upstream — one rounding point, the engine's usual convention);
    ``label_col`` is the boolean ground truth.  Returns one row per grid
    threshold: ``(threshold_milli, tp, fp, fn, tn, precision_milli,
    recall_milli, f1_milli)``.
    """
    if step_milli <= 0 or MAX_MILLI % step_milli != 0:
        raise ValueError(
            f"step_milli must divide {MAX_MILLI}, got {step_milli}"
        )
    cells = scored.select(
        (
            (F.col(score_col).cast("long") / step_milli).cast("long")
            * step_milli
        ).alias("cell"),
        F.col(label_col).cast("long").alias("_y"),
    )
    agg = cells.groupBy("cell").agg(
        F.sum("_y").alias("pos"),
        (F.count(F.lit(1)) - F.sum("_y")).alias("neg"),
    )
    spark = scored.sparkSession
    grid = spark.range(0, MAX_MILLI + 1, step_milli).select(
        F.col("id").cast("long").alias("threshold_milli")
    )
    joined = (
        grid.join(agg, grid["threshold_milli"] == agg["cell"], "left")
        .select(
            "threshold_milli",
            F.coalesce("pos", F.lit(0)).alias("pos"),
            F.coalesce("neg", F.lit(0)).alias("neg"),
        )
    )
    # grid-sized (not data-sized) unpartitioned windows: cumulative
    # "kept at threshold t" counts and the grand totals
    desc = (
        Window.orderBy(F.desc("threshold_milli"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    full = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = joined.select(
        "threshold_milli",
        F.sum("pos").over(desc).alias("tp"),
        F.sum("neg").over(desc).alias("fp"),
        F.sum("pos").over(full).alias("_tpos"),
        F.sum("neg").over(full).alias("_tneg"),
    )
    fn = F.col("_tpos") - F.col("tp")
    tn = F.col("_tneg") - F.col("fp")

    def _ratio_milli(num, den):
        return (
            F.when(den == 0, F.lit(0))
            .otherwise(F.round(F.lit(1000.0) * num / den))
            .cast("long")
        )

    return cum.select(
        "threshold_milli",
        "tp",
        "fp",
        fn.alias("fn"),
        tn.alias("tn"),
        _ratio_milli(F.col("tp"), F.col("tp") + F.col("fp")).alias(
            "precision_milli"
        ),
        _ratio_milli(F.col("tp"), F.col("_tpos")).alias("recall_milli"),
        _ratio_milli(
            F.lit(2.0) * F.col("tp"), F.lit(2) * F.col("tp") + F.col("fp") + fn
        ).alias("f1_milli"),
    )
