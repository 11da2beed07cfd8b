"""Scan-parallelism guards (r06, guide §2.5 / §6) and ``materialize``,
the one lifetime rule for intermediates a returned DataFrame reads.

The driver's sf tables are SINGLE-row-group parquet files, so a scan
yields 1-2 partitions regardless of scale factor — ``maxPartitionBytes``
and ``minPartitionNum`` cannot split below one row group, and every
row-local operator downstream runs on 2 of N cores (measured:
gopher_repetition spent 76 s at sf1.0 with 30 cores idle).

``spread_scan`` repartitions such a scan to
``SPREAD_MULT × defaultParallelism`` — but ONLY when the input is big
enough to amortize the exchange: at sf0.1 (~0.6 MB of documents) the
round-robin shuffle plus 128 near-empty tasks cost MORE than the 2-task
compute they replace (measured: vocab_topk 0.34 s → 2.07 s, quantize
0.70 s → 2.47 s), while at sf1.0 the same queries win 2-50x.  The byte
gate reads the scan's file sizes; inputs below ``SPREAD_MIN_BYTES`` (3 MB
compressed) are left alone.  At production partition counts the guard is
a no-op either way, so none of this is a local[32] tune — it adapts to
input size exactly as guide §2 prescribes.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame

SPREAD_MULT = 4
SPREAD_MIN_BYTES = 3 * 1024 * 1024

_FILE_URI = re.compile(r"^file:(//)?")


def input_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of the scan's input files; None when unknown
    (non-local files).  In-memory DataFrames report 0 (no files)."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001
        return None
    total = 0
    for f in files:
        p = _FILE_URI.sub("", f)
        if "://" in p:
            return None  # remote filesystem — size unknown cheaply
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total


def spread_scan(df: DataFrame) -> tuple[DataFrame, bool]:
    """(df, did_spread) — see module docstring."""
    sc = df.sparkSession.sparkContext
    # both gates must pass; the byte gate goes first because it only lists
    # the scan's files, while the partition count needs a plan→RDD hop
    nbytes = input_bytes(df)
    if nbytes is not None and nbytes < SPREAD_MIN_BYTES:
        return df, False  # too small for the exchange to pay for itself
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df, False  # already parallelism-wide — the production case
    return df.repartition(sc.defaultParallelism * SPREAD_MULT), True


def materialize(df: DataFrame, staging_path: str | None = None) -> DataFrame:
    """Compute ``df`` once; return a DataFrame that reads the result.

    - ``staging_path``: write parquet there and read it back (survives
      executor loss; the path belongs to the caller);
    - else, with a checkpoint dir configured: ``checkpoint(eager=True)``
      (reliable, replicated storage — the cluster path);
    - else ``localCheckpoint(eager=True)`` (executor-local blocks: a lost
      executor fails the job instead of recomputing).

    Either way the returned plan is a leaf scan of the result, so the
    lineage is cut and nothing upstream (e.g. a Python UDF) re-runs.  No
    caller evicts or releases anything, so a later call can never change
    what an earlier returned DataFrame computes: Spark's ContextCleaner
    drops localCheckpoint blocks once nothing references them, reliable
    checkpoint files follow the checkpoint dir's cleanup policy
    (``spark.cleaner.referenceTracking.cleanCheckpoints``), and staged
    parquet belongs to the caller's path.
    """
    if staging_path is not None:
        df.write.mode("overwrite").parquet(staging_path)
        return df.sparkSession.read.parquet(staging_path)
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
