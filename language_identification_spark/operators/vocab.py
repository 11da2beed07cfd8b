"""Corpus vocabulary mining — token frequency and document frequency.

Tokenizer training, boilerplate detection, and IDF-style weighting all
start from the same two corpus statistics: how often each token occurs
(``tf``) and in how many documents (``df``).  This operator computes
both in one grouped aggregation over the exploded token stream and
returns the top-k tokens with a deterministic tie-break, so the result
is reproducible across engines and partitionings.

Reference parity: the reference engine has no vocabulary stage; this
operator is part of the LLM-training-data extension surface (same tier
as the distributed LM trainers in ``train/distributed.py``, whose
count-gathering shape it shares).

Scale shape (100 TB lens): the explode happens scan-side and feeds a
partial-aggregated ``groupBy(token)`` — map-side combine collapses each
partition to its local vocabulary before the Exchange, so the shuffle
carries O(|local vocab|) rows per partition, not O(tokens).  The
``count_distinct(doc_id)`` adds one Expand pass (two-phase distinct
aggregation), still partial-combined.  Top-k is ``TakeOrderedAndProject``
— each partition retains only k candidates; no global sort.  Content
never shuffles: only (token, doc_id) pairs leave the scan stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


MIN_TOKEN_CHARS = 1  # drops the empty token that blank text splits into


def vocab_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 100,
) -> DataFrame:
    """Top-k corpus tokens by total frequency.

    Tokens are lowercased whitespace-split words.  Output columns:
    ``token``, ``tf`` (total occurrences), ``df`` (documents containing
    the token).  Ordered by ``tf`` desc with ``token`` asc as the
    tie-break so the k-boundary is deterministic.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    toks = F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
    exploded = df.select(
        F.col(id_col), F.explode(toks).alias("token")
    ).filter(F.length("token") >= MIN_TOKEN_CHARS)
    agg = exploded.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.count_distinct(F.col(id_col)).alias("df"),
    )
    return agg.orderBy(F.col("tf").desc(), F.col("token").asc()).limit(k)
