"""Data layout — range-sorted writes, zone-map audit, and compaction.

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

The second half of the layout problem is FILE SIZING.  Streaming ingest
and over-parallel writes leave thousands of tiny files per table;
driver-side planning, footer fetches, and task scheduling then dominate
scan cost (the "small files problem").  ``compact`` rewrites a directory
to a bounded file count computed from the actual input bytes, and
``write_range_sorted`` bounds per-file rows at write time with
``maxRecordsPerFile`` — sized so one file ≈ one comfortable task.

The reference engine reads one media file per task and has no tabular
layout at all (`/root/reference/disconnected_language_detector.py`);
this module is part of the scale surface of the Spark re-expression.

No ``.collect()`` of data anywhere: the zone-map audit reads parquet
FOOTERS only (pyarrow metadata, driver-side, O(files) not O(rows)).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_ranges: int,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Rewrite ``df`` as parquet clustered on ``sort_cols``.

    ``repartitionByRange`` samples the sort key and splits the data into
    ``n_ranges`` contiguous, pairwise-disjoint key ranges (one shuffle —
    the write-once cost the reads amortize); ``sortWithinPartitions``
    orders rows inside each range so row-group min/max spans stay tight
    even within a file.  ``max_records_per_file`` caps file size without
    extra shuffles (the writer rolls to a new file mid-task).

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
    writer = out.write.mode(mode)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


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


def compact(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_bytes_per_file: int = 128 << 20,
    n_files: int | None = None,
    sort_cols: list[str] | None = None,
) -> int:
    """Rewrite ``src_path`` to ``dst_path`` with a bounded file count.

    The count is ``ceil(input_bytes / target_bytes_per_file)`` measured
    from the actual source files (parquet-to-parquet compaction keeps
    roughly the same encoded size, so input bytes are the right sizing
    signal — counting rows would cost a full scan).  Pass ``n_files``
    explicitly for non-local filesystems where the driver cannot stat
    the inputs.  With ``sort_cols`` the rewrite re-clusters while it
    compacts (one shuffle either way — ``repartition(n)`` round-robins,
    ``repartitionByRange`` clusters; same cost, strictly more useful
    layout).  Returns the file count written.

    ``dst_path`` must differ from ``src_path``: compaction that rewrites
    in place loses the table on a mid-job failure.  Swap via rename
    after the write commits (the _SUCCESS marker), as a lakehouse
    OPTIMIZE transaction would.
    """
    if os.path.abspath(src_path) == os.path.abspath(dst_path):
        raise ValueError("compact in place is unsafe — write then swap")
    df = spark.read.parquet(src_path)
    if n_files is None:
        sizes = []
        for uri in df.inputFiles():
            local = uri.removeprefix("file:")
            if not os.path.isfile(local):
                raise ValueError(
                    f"cannot stat {uri!r} from the driver — pass n_files "
                    "explicitly on non-local filesystems"
                )
            sizes.append(os.path.getsize(local))
        n_files = max(1, math.ceil(sum(sizes) / target_bytes_per_file))
    if sort_cols:
        out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.repartition(n_files)
    out.write.mode("error").parquet(dst_path)
    return n_files
