"""Gaps-and-islands merge — the reference's segment state machine, batch-style.

Re-expresses ``_merge_segments_from_events``
(``/root/reference/disconnected_language_detector.py:901-958``) and the
switch state machine ``on_lid_segment`` (``:1042-1134``) as window functions
(SURVEY.md §2.4 W2/W3/W4).  Exact semantics preserved:

- events sorted by start within a partition (reference sorts at ``:928``)
- a different label ALWAYS closes the current island (W3 — the switch case
  ``:1092-1118`` has no gap tolerance across labels)
- within a same-label run, a new island starts only when
  ``start > running_end + max_gap`` — i.e. a gap exactly equal to
  ``max_gap`` still merges, matching the ``<=`` at ``:935``
- overlapping events extend the island end monotonically
  (``max(cur_end, e)`` at ``:936``; monotonic max ``:701-712,:1086``)

Two-pass construction (label run first, then gap split inside the run) is
required for exactness: a single running-max over the whole partition can
bleed an earlier island's end into a later same-label run when spans of
different labels overlap heavily.

Scale: both windows and the final groupBy hash-partition on the same key
(``partition_cols``), so Catalyst plans ONE Exchange reused by all three —
verified in tests via ``explain``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_islands(
    df: DataFrame,
    partition_cols: list[str],
    label_col: str,
    start_col: str,
    end_col: str,
    max_gap: int | float = 0,
) -> DataFrame:
    """Collapse events into islands.

    Output: ``partition_cols + (label, island_start, island_end,
    island_duration, n_events)``, one row per island.
    """
    order = Window.partitionBy(*partition_cols).orderBy(
        F.col(start_col).asc(), F.col(end_col).asc()
    )
    prev_label = F.lag(F.col(label_col)).over(order)
    new_run = (prev_label.isNull() | (prev_label != F.col(label_col))).cast("long")
    df = df.withColumn(
        "_run",
        F.sum(new_run).over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    run_order = Window.partitionBy(*partition_cols, "_run").orderBy(
        F.col(start_col).asc(), F.col(end_col).asc()
    )
    running_end = F.max(F.col(end_col)).over(
        run_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    gap_split = (
        running_end.isNotNull() & (F.col(start_col) > running_end + F.lit(max_gap))
    ).cast("long")
    df = df.withColumn(
        "_island",
        F.sum(gap_split).over(run_order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        df.groupBy(*partition_cols, "_run", "_island")
        .agg(
            F.first(F.col(label_col)).alias("label"),
            F.min(F.col(start_col)).alias("island_start"),
            F.max(F.col(end_col)).alias("island_end"),
            (F.max(F.col(end_col)) - F.min(F.col(start_col))).alias(
                "island_duration"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("_run", "_island")
    )
