"""BM25 keyword retrieval — corpus-statistics scoring as two scan passes.

Data curation needs keyword retrieval as much as serving does: pulling
every document matching a topical query (to audit a domain, build an
eval slice, or seed a classifier) is a top-k scoring problem over the
whole corpus.  BM25 (Robertson/Spärck Jones; the Lucene-default variant
with the +1-smoothed idf) is the standard lexical scorer.

Spark-first shape, and why it scales:

* **Pass 1 (stats)**: one partial aggregation computes N, avgdl, and
  per-term document frequencies in a single scan — term-presence flags
  are pure Catalyst expressions over the staged word array, and the agg
  reduces to ONE ROW map-side, so nothing but k scalars crosses the
  wire.  No shuffle of content, ever.
* **Pass 2 (score)**: the 1-row stats frame is broadcast back over the
  corpus (a broadcast nested-loop join with one row — effectively
  free), each document's score is a closed-form expression, and top-k
  is ``orderBy(...).limit(k)`` which Spark executes as TakeOrdered —
  per-partition heaps of size k, never a global sort.
* Query terms are a handful of literals; per-term tf is
  ``size(filter(words, w -> w = term))`` — whole-stage codegen, no UDF.

The corpus is scanned once: ``bm25_topk`` materializes the small
(id, doc length, per-term tf) table when it is called (one job, via
``partitioning.materialize``) and both passes read that.

No reference analog: part of the LLM-training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from language_identification_spark.operators.decontaminate import with_words
from language_identification_spark.partitioning import materialize

# Lucene defaults
K1 = 1.2
B = 0.75


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents by BM25 score for ``terms``.

    Returns ``(id_col, bm25_milli)`` — the score ×1000 rounded to a
    bigint so cross-engine float formatting can't perturb comparisons —
    ordered by (score desc, id asc); documents matching no term are
    excluded.  idf is the Lucene variant ``ln(1 + (N-df+0.5)/(df+0.5))``
    (never negative, so stopword-like terms dilute rather than invert).
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    if len(set(terms)) != len(terms):
        raise ValueError("terms must be distinct (duplicates double-count)")

    base = with_words(docs, text_col, "_w")
    words = F.col("_w")
    # one-arg closure per term: a two-arg lambda would make F.filter
    # pass (element, index) and bind the term slot to the index column
    def _eq(term: str):
        return lambda x: x == F.lit(term)

    tf_cols = [
        F.size(F.filter(words, _eq(t))).alias(f"_tf_{i}")
        for i, t in enumerate(terms)
    ]
    # r06 (guide §5): both the stats aggregation and the scoring pass read
    # ``base`` — without materializing it the tokenize+per-term-tf scan runs
    # twice.  The table is (id, k+1 ints) — ~100x smaller than content.
    base = materialize(
        base.select(F.col(id_col), F.size(words).alias("_dl"), *tf_cols)
    )

    # pass 1: k+2 scalars out of a full scan (map-side partial agg)
    stats = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("long")).alias(f"_df_{i}")
            for i in range(len(terms))
        ],
    )

    # pass 2: broadcast the 1-row stats over the corpus and score
    scored = base.join(F.broadcast(stats))
    n, avgdl = F.col("_n"), F.col("_avgdl")
    score = F.lit(0.0)
    any_hit = F.lit(False)
    for i in range(len(terms)):
        tf = F.col(f"_tf_{i}").cast("double")
        dfreq = F.col(f"_df_{i}").cast("double")
        idf = F.log(F.lit(1.0) + (n - dfreq + 0.5) / (dfreq + 0.5))
        norm = F.lit(K1) * (F.lit(1 - B) + F.lit(B) * F.col("_dl") / avgdl)
        score = score + idf * tf * F.lit(K1 + 1) / (tf + norm)
        any_hit = any_hit | (tf > 0)
    return (
        scored.filter(any_hit)
        .select(
            F.col(id_col),
            F.round(score * 1000).cast("long").alias("bm25_milli"),
        )
        .orderBy(F.col("bm25_milli").desc(), F.col(id_col))
        .limit(k)
    )
