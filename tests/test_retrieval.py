from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from language_identification_spark.operators.retrieval import bm25_topk

DOCS = [
    (0, "Spark shuffles data between stages when a join needs it"),
    (1, "a broadcast join ships the small table to every executor"),
    (2, "spark spark spark: repetition should saturate, not dominate"),
    (3, "hash join or sort merge join, the planner decides"),
    (4, "completely unrelated prose about gardening and tea"),
    (5, ""),
    (6, None),
    (7, "join join join join join join join join join join"),
]


def _tokens(text):
    t = re.sub(r"[^0-9a-zA-Z]+", " ", (text or "").lower()).strip()
    return t.split(" ") if t else []


def _py_bm25(docs, terms, k1=1.2, b=0.75):
    """Independent BM25 (Lucene idf) in pure Python, same float order."""
    toks = {i: _tokens(t) for i, t in docs}
    n = len(docs)
    avgdl = sum(len(w) for w in toks.values()) / n
    out = {}
    for i, words in toks.items():
        score, hit = 0.0, False
        for term in terms:
            tf = float(words.count(term))
            df = float(sum(1 for w in toks.values() if term in w))
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            norm = k1 * ((1 - b) + b * len(words) / avgdl)
            score = score + idf * tf * (k1 + 1) / (tf + norm)
            hit = hit or tf > 0
        if hit:
            out[i] = int(round(score * 1000))
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_matches_independent_python_bm25(docs):
    got = {
        r["doc_id"]: r["bm25_milli"]
        for r in bm25_topk(docs, ["join", "spark"], k=100).collect()
    }
    assert got == _py_bm25(DOCS, ["join", "spark"])


def test_topk_order_and_cutoff(docs):
    rows = bm25_topk(docs, ["join", "spark"], k=3).collect()
    expected = _py_bm25(DOCS, ["join", "spark"])
    # sort by (score desc, id asc), take 3
    want = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [(r["doc_id"], r["bm25_milli"]) for r in rows] == want


def test_non_matching_docs_excluded(docs):
    ids = {r["doc_id"] for r in bm25_topk(docs, ["gardening"], k=100).collect()}
    assert ids == {4}


def test_tf_saturation_beats_raw_count(docs):
    # doc 7 has tf=10 of 'join'; docs 1/3 have tf 1-2 but shorter norm —
    # saturation must keep doc 7 finite and scored, and repetition must
    # not scale linearly: score(tf=10) < 10 * score(tf=1) for same dl
    got = {
        r["doc_id"]: r["bm25_milli"]
        for r in bm25_topk(docs, ["join"], k=100).collect()
    }
    assert got[7] > got[3] > 0
    assert got[7] < 10 * got[3]


def test_bad_terms_raise(docs):
    with pytest.raises(ValueError):
        bm25_topk(docs, [])
    with pytest.raises(ValueError):
        bm25_topk(docs, ["a", "a"])


def test_plan_has_no_python_and_broadcasts_stats(docs):
    plan = bm25_topk(docs, ["join"], k=5)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # pure Catalyst scoring
    assert "Broadcast" in plan  # 1-row stats frame broadcast back
    assert "TakeOrdered" in plan  # top-k via per-partition heaps, no global sort
