"""Distributed BPE tokenizer training — iterative merge-pair learning.

Byte-pair encoding (Sennrich et al. 2016) learns a subword vocabulary by
repeatedly merging the most frequent adjacent symbol pair.  The classic
formulation is a driver loop, but the expensive part of every iteration —
counting adjacent pairs weighted by word frequency — is a corpus-shaped
aggregation, so the training distributes naturally:

1. ONE scan of the corpus builds the distinct-word frequency table
   (``word``, ``freq``).  Everything after iterates over that table,
   which is orders of magnitude smaller than the corpus (a 100 TB corpus
   has ~10^8 distinct words — a few GB), so the driver loop never touches
   document content again.
2. Each word is a space-joined symbol sequence seeded with its characters
   plus an end-of-word marker (``"l o w </w>"``).
3. Per merge: explode adjacent symbol pairs, ``groupBy(pair).sum(freq)``
   (partial-aggregated — map-side combine collapses each partition's
   local pair counts before the Exchange), take the arg-max with a total
   deterministic order (count desc, left asc, right asc), and rewrite the
   symbol column with a pure-Catalyst string expression.  Only the winning
   pair (3 scalars) ever reaches the driver.

The merge rewrite uses the separator-doubling trick so non-overlapping
left-to-right replacement matches scalar BPE exactly even for runs like
``a b a b``: double every boundary space, replace ``" a  b "`` with
``" ab "``, then collapse doubles.  Both Spark's and DuckDB's ``replace``
are non-overlapping left-to-right, which is what makes the DuckDB oracle
(`__spark_entry__._sql_bpe_merges`) bit-exact.

Scale shape (100 TB lens): the corpus is scanned once (word tokenization
is scan-side, the word groupBy shuffles words not documents).  Each of
the ``n_merges`` iterations is one job over the cached word table; the
Exchange carries partial pair counts (O(local pair vocab) rows per
partition).  The iteration's rewrite is whole-stage-codegen string ops —
no UDF, no Python on the hot path.  Every ``CUT_EVERY`` merges the
symbol table is materialized (``partitioning.materialize``), so lineage
stays bounded.

Reference parity: the reference engine has no tokenizer-training stage;
this operator is part of the LLM-training-data extension surface (same
tier as ``operators/vocab.py`` whose word-count shape it starts from).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..partitioning import materialize
from ..pyworker import forget_zip_importers

END_OF_WORD = "</w>"
CUT_EVERY = 16  # merges between lineage cuts of the symbol table


def word_freqs(df: DataFrame, text_col: str = "text", lowercase: bool = True) -> DataFrame:
    """Distinct-word frequency table: ``word``, ``freq`` (total occurrences).

    Words are whitespace-split tokens (lowercased by default), empty
    tokens dropped.  One partial-aggregated groupBy; content never
    shuffles — only tokens leave the scan stage.
    """
    text = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    if lowercase:
        text = F.lower(text)
    toks = F.split(text, r"\s+")
    return (
        df.select(F.explode(toks).alias("word"))
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def initial_symbols(word: Column) -> Column:
    """Seed symbol sequence: characters space-joined plus the ``</w>`` marker."""
    chars = F.filter(F.split(word, ""), lambda x: x != F.lit(""))
    return F.concat(F.array_join(chars, " "), F.lit(" " + END_OF_WORD))


def _merge_expr(sym: Column, left: str, right: str) -> Column:
    """Apply one merge (``left``,``right``) -> ``left+right`` to a
    space-joined symbol string, matching scalar BPE's non-overlapping
    left-to-right semantics via separator doubling."""
    doubled = F.concat(F.lit(" "), F.regexp_replace(sym, " ", "  "), F.lit(" "))
    pat = F.lit(f" {left}  {right} ")
    rep = F.lit(f" {left}{right} ")
    merged = F.replace(doubled, pat, rep)
    return F.trim(F.replace(merged, F.lit("  "), F.lit(" ")))


def _adjacent_pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent symbol pairs weighted by word frequency: ``a``, ``b``, ``cnt``."""
    s = words.select("freq", F.split("sym", " ").alias("s"))
    pairs = s.select(
        "freq",
        F.explode(
            F.expr(
                "transform(slice(s, 1, size(s) - 1),"
                " (x, i) -> struct(x AS a, element_at(s, i + 2) AS b))"
            )
        ).alias("p"),
    )
    return pairs.groupBy("p.a", "p.b").agg(F.sum("freq").alias("cnt"))


def _bpe_train_with_words(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    lowercase: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """``bpe_train`` plus the FINAL merged word table (word, freq, sym) —
    the loop already holds it, so downstream consumers (vocabulary
    aggregation) must not pay a second corpus scan + merge replay."""
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    spark = df.sparkSession
    cur = materialize(
        word_freqs(df, text_col=text_col, lowercase=lowercase).select(
            "word", "freq", initial_symbols(F.col("word")).alias("sym")
        )
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best = (
            _adjacent_pair_counts(cur)
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], best[0]["cnt"]
        merges.append((rank, a, b, int(cnt)))
        cur = cur.withColumn("sym", _merge_expr(F.col("sym"), a, b))
        # lineage cut: unlike PageRank's geometric plan growth, the merge
        # chain references its input ONCE per iteration, so the plan only
        # deepens linearly — but at production merge counts (10^3+) an
        # uncut chain still makes Catalyst analysis quadratic-total and
        # codegen depth unbounded.  Cutting every ``CUT_EVERY`` rounds
        # bounds plan depth at ~3*CUT_EVERY string ops while paying the
        # materialization cost 1/CUT_EVERY as often as an every-round cut.
        if rank % CUT_EVERY == 0:
            cur = materialize(cur)
    mdf = spark.createDataFrame(
        merges, "merge_rank int, left string, right string, pair_count long"
    )
    return mdf, cur


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    lowercase: bool = True,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges; return the merge table.

    Output columns: ``merge_rank`` (1-based), ``left``, ``right``,
    ``pair_count`` — deterministic for a given corpus regardless of
    partitioning or parallelism (the arg-max order is total).

    Stops early if the corpus runs out of mergeable pairs.
    """
    merges, _ = _bpe_train_with_words(
        df, text_col=text_col, n_merges=n_merges, lowercase=lowercase
    )
    return merges


def apply_merges(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply an ordered merge list to a word table's ``sym`` column."""
    out = words
    for left, right in merges:
        out = out.withColumn("sym", _merge_expr(F.col("sym"), left, right))
    return out


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    out_col: str = "bpe",
) -> DataFrame:
    """Encode documents with a learned merge list — ROW-LOCAL, zero shuffle.

    The whole document becomes one symbol string (each word char-split
    with its ``</w>`` marker) and the ordered merge list is applied as a
    chain of non-overlapping left-to-right string replaces with the
    separator-doubling trick (module docstring).  This is sound because
    merges are learned within words: no learned pair has a left symbol
    ending in ``</w>`` (word-terminal symbols never have a right neighbor
    during training), so a replace can never fire across a word boundary.

    r06 (guide §4.2): the replace chain runs inside ONE ``mapInPandas``
    stage instead of chained Catalyst string expressions.  The JVM chain
    re-materialized the full symbol string 3× per merge through
    codegen'd-but-allocation-heavy UTF8String ops (measured 34 s at
    sf1.0); CPython's ``str.replace`` implements the IDENTICAL
    non-overlapping left-to-right semantics in C over the same strings
    (~2 s).  Byte-for-byte equal output: split/trim/join/replace all
    mirror the JVM ops one-to-one (Java regex ``\\s`` without
    UNICODE_CHARACTER_CLASS == Python ``re.ASCII`` ``\\s``; Spark
    ``trim`` strips 0x20 only == ``str.strip(' ')``; ``str.lower()`` ==
    ``F.lower`` on ASCII only).  Still row-local:
    one scan, no Exchange, only (id, text) cross the Python boundary.

    Output: ``id_col``, ``n_subwords``, ``out_col`` (space-joined subword
    symbols).
    """
    import re
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("n_subwords", IntegerType()),
            StructField(out_col, StringType()),
        ]
    )
    ws_re = re.compile(r"\s+", re.ASCII)
    mlist = [(str(left), str(right)) for left, right in merges]

    def _encode_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        forget_zip_importers()
        for pdf in it:
            ids = pdf[id_col].tolist()
            texts = pdf[text_col].tolist()
            out_n: list[int] = []
            out_s: list[str] = []
            for t in texts:
                t = "" if t is None else str(t)
                t = t.strip(" ")
                if lowercase:
                    # == training's F.lower on ASCII only: CPython's and the
                    # JVM's Unicode case tables may disagree beyond ASCII
                    t = t.lower()
                words = [w for w in ws_re.split(t) if w != ""] if t else []
                sym = " ".join(" ".join(w) + " </w>" for w in words)
                for left, right in mlist:
                    doubled = " " + sym.replace(" ", "  ") + " "
                    merged = doubled.replace(
                        f" {left}  {right} ", f" {left}{right} "
                    )
                    sym = merged.replace("  ", " ").strip(" ")
                out_n.append(len([x for x in sym.split(" ") if x != ""]))
                out_s.append(sym)
            yield pd.DataFrame({id_col: ids, "n_subwords": out_n, out_col: out_s})

    return df.select(id_col, text_col).mapInPandas(_encode_batch, schema)


def bpe_vocab(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    k: int = 200,
) -> DataFrame:
    """Train ``n_merges`` merges on the lowercased corpus, then report the
    resulting top-``k`` subword symbol vocabulary: ``symbol``, ``freq``
    (total weighted occurrences across the corpus), ordered freq desc /
    symbol asc.

    One extra job after training: the final word table explodes its
    symbol sequences into a partial-aggregated groupBy — the same
    shuffle shape as ``vocab_topk``, over symbols instead of words.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    _, final = _bpe_train_with_words(df, text_col=text_col, n_merges=n_merges)
    exploded = final.select("freq", F.explode(F.split("sym", " ")).alias("symbol"))
    agg = exploded.groupBy("symbol").agg(F.sum("freq").alias("freq"))
    return agg.orderBy(F.col("freq").desc(), F.col("symbol").asc()).limit(k)
