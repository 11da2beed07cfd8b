"""Data layout — range-sorted writes and the zone-map audit.

This module pre-pays the FILTER scan.  Parquet footers carry per-column
min/max statistics per row group ("zone maps"), and Spark pushes comparison
predicates down to the reader (`PushedFilters` in the plan), which then
skips every row group — and, via footer-only reads, effectively every
file — whose min/max range cannot contain a match.  On randomly-ordered
data those ranges all span the whole domain and nothing skips; the
statistics only bite when the layout CLUSTERS values.  A range-sorted
rewrite (``repartitionByRange`` + ``sortWithinPartitions``) makes the
per-file ranges pairwise disjoint, so a point or range predicate on the
sort column touches O(matching files) instead of O(all files).  At
100 TB that is the difference between a full-corpus scan and reading a
few hundred megabytes — the same reason every lakehouse table format
(Delta OPTIMIZE ZORDER, Iceberg sort orders) ships a clustering rewrite.

The reference engine reads one media file per task and has no tabular
layout at all (`/root/reference/disconnected_language_detector.py`);
this module is part of the scale surface of the Spark re-expression.

No ``.collect()`` of data anywhere: the zone-map audit reads parquet
FOOTERS only (pyarrow metadata, driver-side, O(files) not O(rows)).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_ranges: int,
) -> None:
    """Rewrite ``df`` as parquet clustered on ``sort_cols``.

    ``repartitionByRange`` samples the sort key and splits the data into
    ``n_ranges`` contiguous, pairwise-disjoint key ranges (one shuffle —
    the write-once cost the reads amortize); ``sortWithinPartitions``
    orders rows inside each range so row-group min/max spans stay tight
    even within a file.  An existing ``path`` is overwritten.

    Size ``n_ranges`` to the CLUSTER and the table, not the laptop:
    total_bytes / (128-512 MiB) is the usual target, and the range
    exchange is sampling-based, so heavily skewed keys land in wider
    files rather than failing.
    """
    if not sort_cols:
        raise ValueError("sort_cols must be non-empty")
    if n_ranges < 1:
        raise ValueError(f"n_ranges must be >= 1, got {n_ranges}")
    out = df.repartitionByRange(n_ranges, *sort_cols).sortWithinPartitions(
        *sort_cols
    )
    out.write.mode("overwrite").parquet(path)


def file_column_ranges(path: str, column: str) -> list[tuple[str, object, object]]:
    """Per-file (name, min, max) for ``column`` — footers only, no row IO.

    This is the zone-map audit: after ``write_range_sorted`` the returned
    ranges are pairwise disjoint, and the fraction of files a predicate
    overlaps is exactly the fraction of the table a pushed-down scan will
    read.  Runs driver-side over O(files) footers; on an object store
    you would batch these fetches, but the access pattern is the same.
    """
    import pyarrow.parquet as pq

    out = []
    for fn in sorted(os.listdir(path)):
        if not fn.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, fn)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if column not in idx:
            raise ValueError(f"column {column!r} not in {fn}")
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[column]).statistics
            if st is None or not st.has_min_max:
                raise ValueError(
                    f"{fn} row group {rg} has no min/max statistics for "
                    f"{column!r} — zone-map pruning cannot work on this file"
                )
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if md.num_row_groups:
            out.append((fn, lo, hi))
    return out
