"""Benchmark decontamination — word-n-gram overlap against a held-out set.

Before training, every serious LLM data pipeline removes (or at least
flags) training documents that textually overlap the evaluation
benchmarks, or the eval scores measure memorization instead of
generalization.  The standard test (GPT-3 appendix C, and the PaLM /
Llama data cards after it) is *n-gram collision*: a training document
is contaminated if it shares at least one normalized word n-gram
(n≈13) with any benchmark document.

Spark-first layout — the asymmetry is the whole design:

* the BENCHMARK side is small by construction (eval sets are 10³–10⁶
  documents, i.e. at most ~10⁷ distinct grams — megabytes), so its
  distinct gram set is **broadcast**;
* the TRAINING side is the 100 TB side.  Each document's grams are
  generated by pure Catalyst expressions (no UDF), hashed to 64-bit
  with ``xxhash64``, exploded, and streamed through the broadcast hash
  join **map-side** — contaminated grams survive, everything else dies
  in the same stage it was born in.  Document *content* never
  shuffles; the only Exchanges in the whole plan run over the (tiny)
  surviving hits.

The optional ``max_df`` cap mirrors the frequent-gram exclusion in the
published protocols: a gram that matches more than ``max_df`` distinct
training documents is boilerplate (license headers, number tables),
not contamination signal, and every one of its hits is dropped.  The
cap is computed on the *join output* — never on the full corpus — so
it costs a window over the hits, not a global gram-frequency pass.

Hash note: hits are matched on ``xxhash64(gram)``, not the gram
string, so a 64-bit collision between a training gram and an unrelated
benchmark gram would count a false hit.  At 10⁷ benchmark grams the
collision odds across even 10¹² training grams are ~10⁻³ per full run
— acceptable for a *flagging* stage.

No reference analog: the reference engine (language identification
over audio transcripts) has no dedup/decontamination stage; this is
part of the LLM-training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# default from the GPT-3 decontamination appendix
DEFAULT_N = 13


def with_words(df: DataFrame, text_col: str, out_col: str) -> DataFrame:
    """Add an ``array<string>`` column of normalized words.

    Normalization (must stay bit-identical to the SQL oracles that
    mirror it): lowercase → collapse every non-alphanumeric run to one
    space → trim → split on single spaces.  NULL/blank text yields an
    empty array.  Staged as a real column because downstream
    higher-order-function lambdas re-evaluate a captured subtree once
    PER ELEMENT — a column reference is bound once per row (same
    staging discipline as ``with_winnow_fingerprints``).
    """
    norm = F.trim(
        F.regexp_replace(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"[^\p{L}\p{N}]+", " "
        )
    )
    return df.withColumn(
        out_col,
        F.when(norm == "", F.array().cast("array<string>")).otherwise(
            F.split(norm, " ")
        ),
    )


def with_word_ngrams(
    df: DataFrame, text_col: str, out_col: str, n: int
) -> DataFrame:
    """Add an ``array<string>`` column of normalized word n-grams
    (normalization per ``with_words``; fewer than ``n`` words → empty
    array)."""
    tmp = f"_{out_col}_words"
    df = with_words(df, text_col, tmp)
    words = F.col(tmp)
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(words, i.cast("int"), n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.withColumn(out_col, grams).drop(tmp)


def _gram_rel(df: DataFrame, text_col: str, id_cols: list[str], n: int) -> DataFrame:
    """(id_cols…, ``_gram_h``) relation — one row per distinct gram hash per doc."""
    df = with_word_ngrams(df, text_col, "_grams", n)
    g = F.transform(F.array_distinct(F.col("_grams")), lambda x: F.xxhash64(x))
    return df.select(*id_cols, F.explode(g).alias("_gram_h"))


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DEFAULT_N,
    max_df: int | None = None,
) -> DataFrame:
    """Flag training documents sharing any word n-gram with a benchmark.

    Returns one row per contaminated training document:
    ``(id_col, n_hit_grams)`` where ``n_hit_grams`` counts the distinct
    benchmark grams found in it.  Clean documents are absent (the
    caller anti-joins to drop, or left-joins to annotate).

    ``max_df``: drop grams matching more than this many distinct
    training documents before counting (boilerplate exclusion).
    """
    bench_grams = _gram_rel(bench, text_col, [], n).distinct()
    train_grams = _gram_rel(train, text_col, [id_col], n)
    # map-side broadcast semi-join: non-benchmark grams never leave the
    # stage that generated them
    hits = train_grams.join(F.broadcast(bench_grams), "_gram_h", "left_semi")
    if max_df is not None:
        # boilerplate cap over the (small) join output — per-gram distinct
        # doc counts need one window, not a corpus-wide gram-frequency pass.
        # Rows are distinct (id, gram) pairs by construction, so count(*)
        # per gram IS the distinct-document frequency.
        df_w = Window.partitionBy("_gram_h")
        hits = hits.withColumn("_df", F.count(F.lit(1)).over(df_w)).filter(
            F.col("_df") <= max_df
        )
    return hits.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_hit_grams")
    )
