"""Snapshot diff — added / removed / changed rows between corpus versions.

Training-data lakes are rebuilt incrementally; every refresh needs a
machine-checkable answer to "what actually changed?" — both for cache
invalidation (which downstream shards must be re-tokenized) and for audit
(a refresh that silently drops 30% of a language is a bug, not an
update).  ``snapshot_diff`` compares two versions of a keyed table by
content hash and emits one row per difference.

Reference parity: the reference engine re-processes whole inputs and has
no versioned-corpus notion; this operator is part of the
LLM-training-data extension surface (it complements the incremental
near-dedup in ``operators/dedup.py:incremental_jaccard_pairs`` — that one
answers "is the new text a near-copy", this one answers "which rows
moved").

Scale shape (100 TB lens): the content hash is computed scan-side
(built-in sha2 inside whole-stage codegen), so the full-outer
sort-merge join shuffles only (key, 64-hex-char hash) pairs — content
never crosses the Exchange.  Unchanged rows (the overwhelming majority
of any refresh) are filtered pre-shuffle-read on the joined result.
No driver-side state, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Diff two snapshot versions of a keyed corpus.

    Output: ``<key_col>``, ``status`` in {'added','removed','changed'}
    (unchanged keys are dropped), ``old_sha256``, ``new_sha256`` (NULL on
    the absent side).  Deterministic, exact — no floats, no sampling.
    """
    h = lambda c: F.sha2(F.coalesce(F.col(c), F.lit("")), 256)  # noqa: E731
    o = old.select(F.col(key_col).alias("k"), h(text_col).alias("old_sha256"))
    n = new.select(F.col(key_col).alias("k"), h(text_col).alias("new_sha256"))
    joined = o.join(n, on="k", how="full_outer")
    status = (
        F.when(F.col("old_sha256").isNull(), F.lit("added"))
        .when(F.col("new_sha256").isNull(), F.lit("removed"))
        .when(F.col("old_sha256") != F.col("new_sha256"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        F.col("k").alias(key_col),
        status.alias("status"),
        "old_sha256",
        "new_sha256",
    ).filter(F.col("status") != "unchanged")
