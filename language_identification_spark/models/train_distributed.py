"""Distributed (Spark) training for the langid and perplexity models.

``models/langid.py`` and ``models/perplexity.py`` train driver-side from
the in-memory seed corpus — fine for shipped weights, impossible for the
actual 100 TB use case: re-fitting the hashed n-gram statistics on a
corpus that does not fit on one machine.  This module re-expresses both
trainers as Spark jobs with the count aggregation distributed and ONLY
the model itself (``n_buckets x n_langs``) ever reaching the driver —
the same contract as the IVF Lloyd trainer in ``operators/similarity.py``.

Shape, and why it survives 100 TB:

* One ``mapInPandas`` crossing computes per-partition PARTIAL bucket
  histograms with the existing vectorized batch hashers
  (``hashing.char_trigram_hashes_batch`` / ``word_bigram_hashes_batch``
  — zero per-row Python): the Arrow output is bounded by
  ``n_buckets x langs-per-partition`` rows regardless of how many
  documents or n-grams the partition held.
* The shuffle key is ``(lang, bucket)`` — model-sized, never data-sized;
  ``groupBy().sum()`` gets map-side partial aggregation on top of the
  UDF's own pre-aggregation.
* ``collect`` happens on the final count table: at most
  ``n_buckets x n_langs`` rows (2 MB-scale), independent of corpus size.

Exactness: partial int64 histograms summed in any order equal the
driver trainer's single ``np.bincount`` (integer arithmetic), and the
count -> frequency -> smoothed-log math is copied operation-for-operation
from ``train()``, so the distributed model is BIT-IDENTICAL to the
driver-trained one on the same corpus (pinned by
``tests/test_train_distributed.py``).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..hashing import char_trigram_hashes_batch, word_bigram_hashes_batch
from ..pyworker import forget_zip_importers
from . import langid as _langid
from . import perplexity as _perplexity
from .langid import LangIdModel
from .perplexity import BigramLM
from .seed_corpora import SUPPORTED_LANGS

_COUNT_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("bucket", IntegerType()),
        StructField("cnt", LongType()),
    ]
)


def _bucket_counts(
    docs: DataFrame,
    hash_batch: Callable[[list[bytes], int], tuple[np.ndarray, np.ndarray]],
    n_buckets: int,
    lang_col: str,
    text_col: str,
) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        forget_zip_importers()
        acc: dict = {}
        for pdf in batches:
            for lang, grp in pdf.groupby("lang", dropna=False):
                texts = [
                    t.lower().encode("utf-8")
                    for t in grp["text"]
                    if isinstance(t, str)
                ]
                if not texts:
                    continue  # NULL-only group: no bytes, no grams
                buckets, _ = hash_batch(texts, n_buckets)
                if not len(buckets):
                    continue
                vec = acc.setdefault(lang, np.zeros(n_buckets, np.int64))
                vec += np.bincount(buckets, minlength=n_buckets)
        for lang, vec in acc.items():
            nz = np.flatnonzero(vec)
            yield pd.DataFrame(
                {
                    "lang": np.full(len(nz), lang, dtype=object),
                    "bucket": nz.astype(np.int32),
                    "cnt": vec[nz],
                }
            )

    partial = docs.select(
        F.col(lang_col).alias("lang"), F.col(text_col).alias("text")
    ).mapInPandas(gen, _COUNT_SCHEMA)
    return partial.groupBy("lang", "bucket").agg(F.sum("cnt").alias("cnt"))


def trigram_bucket_counts(
    docs: DataFrame, lang_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Per-(lang, bucket) byte-trigram counts — the langid sufficient
    statistic.  Returns ``(lang, bucket, cnt)``, only nonzero buckets."""
    return _bucket_counts(
        docs, char_trigram_hashes_batch, _langid.N_BUCKETS, lang_col, text_col
    )


def bigram_bucket_counts(
    docs: DataFrame, lang_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Per-(lang, bucket) word-bigram counts — the perplexity-LM
    sufficient statistic.  Returns ``(lang, bucket, cnt)``."""
    return _bucket_counts(
        docs,
        word_bigram_hashes_batch,
        _perplexity.N_BUCKETS,
        lang_col,
        text_col,
    )


def _logp_from_counts(
    counts: pd.DataFrame, n_buckets: int, alpha: float, present: set
) -> tuple[tuple[str, ...], np.ndarray]:
    # `present` comes from the corpus, not the count rows: a language
    # whose documents produce zero grams (all single-word docs, say)
    # still gets its smoothed-uniform column, exactly like train()
    langs = tuple(l for l in SUPPORTED_LANGS if l in present)
    logp = np.zeros((n_buckets, len(langs)), dtype=np.float32)
    for j, lang in enumerate(langs):
        sub = counts[counts["lang"] == lang]
        # integer-exact scatter == the driver trainer's np.bincount
        c = np.zeros(n_buckets, dtype=np.float64)
        c[sub["bucket"].to_numpy()] = sub["cnt"].to_numpy()
        total = c.sum()
        freq = c / total if total > 0 else c
        p = (freq + alpha) / (1.0 + alpha * n_buckets)
        logp[:, j] = np.log(p).astype(np.float32)
    return langs, logp


def _present_langs(docs: DataFrame, lang_col: str) -> set:
    # k-row distinct on the lang column — metadata-sized collect
    return {
        r[0]
        for r in docs.select(lang_col).distinct().collect()
        if r[0] is not None
    }


def train_langid_distributed(
    docs: DataFrame, lang_col: str = "lang", text_col: str = "text"
) -> LangIdModel:
    """Fit a :class:`LangIdModel` on a distributed corpus.

    Bit-identical to ``langid.train`` on the same documents; languages
    not in ``SUPPORTED_LANGS`` (and NULL lang) are ignored, matching the
    driver trainer's corpus-dict contract.
    """
    counts = trigram_bucket_counts(docs, lang_col, text_col).toPandas()
    langs, logp = _logp_from_counts(
        counts, _langid.N_BUCKETS, _langid.ALPHA, _present_langs(docs, lang_col)
    )
    return LangIdModel(langs=langs, logp=logp)


def train_perplexity_distributed(
    docs: DataFrame, lang_col: str = "lang", text_col: str = "text"
) -> BigramLM:
    """Fit a :class:`BigramLM` on a distributed corpus (see above)."""
    counts = bigram_bucket_counts(docs, lang_col, text_col).toPandas()
    langs, logp = _logp_from_counts(
        counts,
        _perplexity.N_BUCKETS,
        _perplexity.ALPHA,
        _present_langs(docs, lang_col),
    )
    return BigramLM(langs=langs, logp=logp)
