from __future__ import annotations

import pytest

from language_identification_spark.operators.profile import corpus_profile


def _py_percentile(vals, p):
    """quantile_cont semantics: linear interpolation at rank p*(n-1)."""
    s = sorted(vals)
    pos = p * (len(s) - 1)
    lo = int(pos)
    frac = pos - lo
    if frac == 0:
        return float(s[lo])
    return s[lo] + (s[lo + 1] - s[lo]) * frac


CORPUS = [
    ("en", "one two three four"),          # 4 tokens
    ("en", "one"),                          # 1
    ("en", "a b c d e f g"),                # 7
    ("en", "  "),                           # 0 (blank)
    ("de", "nur drei kurze"),               # 3
    ("de", "zwei hier"),                    # 2
]
TOKENS = {"en": [4, 1, 7, 0], "de": [3, 2]}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "lang string, text string").cache()


def test_exact_matches_independent_interpolation(docs):
    rows = {
        r["lang"]: r
        for r in corpus_profile(
            docs, percentiles=(0.5, 0.95), exact=True
        ).collect()
    }
    for lang, toks in TOKENS.items():
        r = rows[lang]
        assert r["n_docs"] == len(toks)
        assert r["total_tokens"] == sum(toks)
        assert r["avg_tokens_milli"] == round(sum(toks) / len(toks) * 1000)
        assert r["p50_tokens_milli"] == round(_py_percentile(toks, 0.5) * 1000)
        assert r["p95_tokens_milli"] == round(_py_percentile(toks, 0.95) * 1000)


def test_approx_tracks_exact_at_high_accuracy(spark):
    df = spark.range(10001).selectExpr(
        "'x' AS lang", "repeat('w ', CAST(id % 97 AS INT)) AS text"
    )
    exact = corpus_profile(df, exact=True).collect()[0]
    approx = corpus_profile(df, exact=False).collect()[0]
    # sketch returns a group member; with 97 distinct values the rank
    # error at accuracy=10000 is under one distinct step
    assert abs(approx["p50_tokens_milli"] - exact["p50_tokens_milli"]) <= 1000
    assert abs(approx["p95_tokens_milli"] - exact["p95_tokens_milli"]) <= 1000
    assert approx["n_docs"] == exact["n_docs"] == 10001


def test_approx_plan_has_partial_aggregation(docs):
    plan = (
        corpus_profile(docs, exact=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan
    # the sketch merges map-side: a partial objhash/sort aggregate stage
    # must exist below the exchange
    assert "partial_percentile_approx" in plan


def test_bad_percentiles_raise(docs):
    with pytest.raises(ValueError):
        corpus_profile(docs, percentiles=())
    with pytest.raises(ValueError):
        corpus_profile(docs, percentiles=(1.5,))
