"""Cross-document repeated-SPAN removal — ExactSubstr-style dedup.

Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
Better") showed that removing repeated *substrings* — not just whole
duplicate documents — measurably improves LMs: boilerplate, quoted
passages, and templated fragments recur verbatim across millions of
pages while the surrounding documents differ.  Their suffix-array
formulation is inherently single-machine; the distributed re-expression
here keys on fixed-length word n-grams instead:

* every word ``n``-gram occurring in ``min_docs`` or more DISTINCT
  documents is "duplicated";
* every token covered by at least one duplicated n-gram is deleted;
* documents are reassembled from their surviving tokens in order.

Because two overlapping duplicated n-grams merge into one longer
deleted span, any shared substring of >= n tokens is removed in full —
the same guarantee the winnowing fingerprints in ``operators/dedup.py``
give for *detection*, applied here to *rewriting*.  This completes the
dedup ladder: exact document (``dedup.exact_dedup``), exact line
(``linededup``), repeated span (here), near-duplicate (MinHash /
SimHash / winnowing pairs), semantic (``similarity.semantic_dedup``).

Spark-first shape, and why it survives 100 TB:

* The posting list shuffles ``(xxhash64(gram), doc_id, pos)`` — a
  64-bit key plus two ints per gram, never the gram text and never the
  document.  Frequency counting is ``groupBy(hash).agg(countDistinct)``
  with map-side partial aggregation, so a boilerplate gram repeated a
  billion times contributes one partial row per task, not a billion
  shuffle rows.
* The posting-to-duplicated-grams join is an equi-join on the 64-bit
  hash; its skew (the same boilerplate gram) is exactly the shape AQE's
  skew-join split handles, and only (doc_id, pos) pairs come out of it.
* Marked positions collapse to ONE array per affected document
  (``collect_set`` bounded by tokens-per-document), and the rewrite is
  a single left join of the corpus against that small table followed by
  pure-Catalyst array expressions (sort -> interval-merge -> filter) —
  document content crosses the wire once, in the final join, and never
  enters a Python UDF.
* Per-document work is O(T·I) for T tokens and I merged intervals —
  intervals, not raw marks, so a document drowning in boilerplate costs
  its interval count, not its duplicate count.

Keying on ``xxhash64`` means two DIFFERENT n-grams colliding in 64 bits
would wrongly mark a span — odds ~n²/2⁶⁵ (same documented trade as
``linededup`` and ``decontaminate``; swap in ``sha2`` if unacceptable).

No reference analog: the reference engine has no corpus-level text ops;
this module is part of the LLM-training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..partitioning import materialize


def _tokens(text_col: str) -> Column:
    # literal single-space split, matching string_split(text, ' ') in
    # ANSI SQL engines: keeps empty tokens, never returns an empty array
    return F.split(F.coalesce(F.col(text_col), F.lit("")), " ", -1)


def mark_repeated_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    staging_path: str | None = None,
) -> DataFrame:
    """Find the duplicated-gram start positions per document.

    Returns ``(id_col, starts)`` — only for documents containing at
    least one duplicated gram — where ``starts`` is the set of 1-based
    token indices at which a word ``n``-gram duplicated across
    ``min_docs``+ distinct documents begins.

    The posting list feeds both the duplicated-gram aggregation and the
    join probe; without ``staging_path`` the tokenize+hash explode runs
    twice (Catalyst replays the lineage per consumer).  Pass a
    ``staging_path`` to materialize it once as parquet — the cluster
    default (``jobs/run_curation.py`` wires it): postings are three
    fixed-width values per gram, far smaller than re-reading and
    re-exploding the corpus, and a parquet round-trip is replicated
    storage, unlike ``localCheckpoint``.
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    # hash each token ONCE, then key a gram as xxhash64 over its n token
    # hashes — n fixed-width reads per position instead of re-copying
    # ~n avg-word-length bytes through concat_ws+slice (measured ~1.7x
    # faster on the posting materialization, which runs twice unstaged)
    toks = docs.select(
        F.col(id_col),
        F.transform(_tokens(text_col), lambda t: F.xxhash64(t)).alias("_h"),
    )
    combine = ", ".join(f"element_at(_h, i + {j})" for j in range(n))
    # sequence(1, stop) DESCENDS when stop < 1 — guard short docs to an
    # explicit empty gram list instead
    gram_hashes = F.when(
        F.size("_h") >= n,
        F.expr(
            f"transform(sequence(1, size(_h) - {n - 1}),"
            f" i -> xxhash64({combine}))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<bigint>)"))
    posting = toks.select(
        F.col(id_col), F.posexplode(gram_hashes).alias("_p0", "_g")
    ).select(id_col, (F.col("_p0") + 1).alias("_i"), "_g")
    if staging_path is not None:
        posting = materialize(posting, staging_path)
    dup = (
        posting.groupBy("_g")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_g")
    )
    return (
        posting.join(dup, "_g")
        .groupBy(id_col)
        .agg(F.collect_set("_i").alias("starts"))
    )


def remove_repeated_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    staging_path: str | None = None,
) -> DataFrame:
    """Rewrite the corpus with cross-document repeated spans deleted.

    Returns ``docs`` with ``text_col`` replaced by the reassembled
    surviving tokens (single-space joined; a fully-duplicated document
    comes back as the empty string, the caller's min-length filter's
    job to drop) plus ``n_tokens_removed``.  Other columns pass through.
    """
    marked = mark_repeated_spans(
        docs, n, min_docs, text_col, id_col, staging_path
    )
    empty_starts = F.expr("CAST(array() AS array<int>)")
    empty_ivs = F.expr("CAST(array() AS array<struct<s:int,e:int>>)")
    staged = (
        docs.join(marked, id_col, "left")
        .withColumn("_t", _tokens(text_col))
        .withColumn(
            "_starts", F.array_sort(F.coalesce(F.col("starts"), empty_starts))
        )
        # sorted starts -> disjoint half-open [s, e) intervals.  Every
        # gram covers exactly [x, x+n), so with ascending starts a new
        # merged interval begins at start k iff starts[k] - starts[k-1]
        # > n — group breaks are PAIRWISE, which makes the merge linear
        # (filter + zip_with) instead of a fold that rebuilds its
        # accumulator array per start (quadratic when a boilerplate-heavy
        # document carries thousands of disjoint duplicated spans)
        .withColumn(
            "_bk",
            F.when(
                F.size("_starts") > 0,
                F.expr(
                    "filter(sequence(1, size(_starts)), k -> k = 1"
                    " OR element_at(_starts, k)"
                    f" - element_at(_starts, k - 1) > {n})"
                ),
            ).otherwise(F.expr("CAST(array() AS array<int>)")),
        )
        .withColumn(
            "_iv",
            F.when(
                F.size("_bk") > 0,
                F.expr(
                    "zip_with(_bk,"
                    " concat(slice(_bk, 2, size(_bk) - 1),"
                    "        array(size(_starts) + 1)),"
                    " (b, nb) -> named_struct("
                    "   's', element_at(_starts, b),"
                    f"  'e', element_at(_starts, nb - 1) + {n}))"
                ),
            ).otherwise(empty_ivs),
        )
        .withColumn(
            "_kept",
            F.filter(
                F.zip_with(
                    "_t",
                    F.sequence(F.lit(1), F.size("_t")),
                    lambda t, i: F.struct(t.alias("tok"), i.alias("idx")),
                ),
                lambda x: ~F.exists(
                    F.col("_iv"),
                    lambda iv: (iv["s"] <= x["idx"]) & (x["idx"] < iv["e"]),
                ),
            ),
        )
    )
    return staged.select(
        *[c for c in docs.columns if c != text_col],
        F.array_join(
            F.transform("_kept", lambda x: x["tok"]), " "
        ).alias(text_col),
        (F.size("_t") - F.size("_kept")).cast("long").alias(
            "n_tokens_removed"
        ),
    )
