"""Cross-document exact line dedup — C4/RefinedWeb-style repetition removal.

Web-scale corpora are full of repeated LINES that exact whole-document
dedup never touches: navigation boilerplate, cookie banners, license
headers, forum signatures.  C4 removed any three-sentence span occurring
more than once; RefinedWeb/FineWeb remove exact duplicate lines.  The
semantics here: across the WHOLE corpus, the first occurrence of each
line (in (doc_id, line_no) order) survives and every later occurrence is
deleted, then documents are reassembled from their surviving lines.

Spark-first shape, and why it survives 100 TB:

* Lines shuffle by a 64-bit ``xxhash64(line)`` key, never by content
  alone, and the winner-per-line table is a ``groupBy(hash).agg(min)``
  — map-side partial aggregation, so the shuffle carries one candidate
  winner per hash per task, not one row per duplicate.  A window
  function over ``partitionBy(line)`` would be semantically identical
  but has NO partial aggregation: a line duplicated a billion times
  (empty string, "Home | About") becomes one executor's problem.  The
  groupBy+join form also lets AQE split skewed join partitions.
* Lines below ``min_chars`` (after trim) are exempt — kept verbatim,
  never hashed — both because deleting every blank line destroys
  formatting and because the exempt class is exactly the degenerate-key
  class that would otherwise hot-spot the shuffle.
* Reconstruction is one ``groupBy(doc_id)`` with ``collect_list`` of
  (line_no, line) structs — bounded by document size, the same bound
  every per-document operator in this engine already assumes.
* Two content-bearing shuffles total (hash-join the keep flags, regroup
  by document); marking-only callers (``mark_duplicate_lines``) pay one.

Duplicate detection keys on ``xxhash64`` of the raw line, so two
DIFFERENT lines colliding in 64 bits would be wrongly deduplicated —
odds ~n²/2⁶⁵, about 1e-8 even at a billion distinct lines (same
documented trade as ``operators/decontaminate.py``; use sha256 via
``hash_expr`` if that is ever unacceptable).

No reference analog: the reference engine has no corpus-level text ops;
this module is part of the LLM-training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MIN_LINE_CHARS = 1  # shorter (trimmed) lines, i.e. blank ones, are never deduped


def mark_duplicate_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Explode ``docs`` into lines and flag which ones survive.

    Returns ``(id_col, line_no, line, keep)`` — one row per line, where
    ``keep`` is false iff the line is a dedupable duplicate (its trimmed
    length is ≥ ``MIN_LINE_CHARS`` and an earlier (doc_id, line_no) has the
    same content).  NULL text is treated as empty (one blank line, so
    the document survives reconstruction).
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("line_no", "line"),
    )
    dedupable = F.length(F.trim(F.col("line"))) >= MIN_LINE_CHARS
    exempt = lines.filter(~dedupable).withColumn("keep", F.lit(True))
    cand = lines.filter(dedupable).withColumn("_h", F.xxhash64(F.col("line")))
    winners = cand.groupBy("_h").agg(
        F.min(F.struct(id_col, "line_no")).alias("_first")
    )
    flagged = (
        cand.join(winners, "_h")
        .withColumn(
            "keep", F.struct(F.col(id_col), F.col("line_no")) == F.col("_first")
        )
        .drop("_h", "_first")
    )
    return flagged.unionByName(exempt)


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rebuild the corpus with cross-document duplicate lines removed.

    Returns ``(id_col, text, n_kept, n_removed)`` where ``text`` is the
    document reassembled from its surviving lines in original order (a
    document whose every line was deleted comes back as the empty
    string, not NULL — it is the caller's min-length filter's job to
    drop it).
    """
    marked = mark_duplicate_lines(docs, text_col, id_col)
    return marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("keep"), F.struct("line_no", "line")
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias(text_col),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum((~F.col("keep")).cast("long")).alias("n_removed"),
    )


def collapse_runs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """INTRA-document repetition removal: collapse every run of identical
    consecutive lines to its first line.

    The cross-document pass above removes boilerplate shared BETWEEN
    files; generated and minified code also repeats lines WITHIN one file
    (walls of ``,``-rows in fixture dumps, repeated separator/blank lines,
    unrolled stub blocks).  Collapsing runs — not global first-occurrence
    within the file, which would merge legitimately repeated code like
    ``}`` closers across different blocks — is the conservative transform
    a code corpus can survive.

    Output: ``id_col``, ``n_lines``, ``n_kept``, ``collapsed_sha256``
    (sha256 of the rewritten text; the hash travels, the text does not —
    callers that want the rewrite apply the same row-local expression).

    Scale shape (100 TB lens): entirely row-local — split, shift-by-one
    zip, filter, rejoin, hash are all higher-order functions inside
    whole-stage codegen.  Zero Exchange, zero UDF, no state: the operator
    costs one scan at any corpus size.
    """
    # previous-line shift + zip_with keep flags live in
    # _collapsed_lines_expr (shared with collapse_runs_rewrite)
    lines, kept = _collapsed_lines_expr(text_col)
    new_text = F.array_join(F.transform(kept, lambda p: p["v"]), "\n")
    return docs.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.sha2(F.encode(new_text, "UTF-8"), 256).alias("collapsed_sha256"),
    )


def _collapsed_lines_expr(text_col: str):
    """Kept-lines array for the run collapse — shared by the stats/hash
    reporter and the corpus rewrite so the two can never drift."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(t, "\n")
    prev = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(lines, 1, F.greatest(F.size(lines) - 1, F.lit(0))),
    )
    pairs = F.zip_with(
        lines,
        prev,
        lambda a, b: F.struct(
            a.alias("v"), (b.isNull() | (a != b)).alias("keep")
        ),
    )
    kept = F.filter(pairs, lambda p: p["keep"])
    return lines, kept


def collapse_runs_rewrite(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Corpus->corpus form of the run collapse: rewrite ``text_col`` in
    place (every other column passes through untouched).  Same row-local
    zero-Exchange expression as ``collapse_runs``."""
    _, kept = _collapsed_lines_expr(text_col)
    new_text = F.array_join(F.transform(kept, lambda p: p["v"]), "\n")
    return docs.withColumn(text_col, new_text)
