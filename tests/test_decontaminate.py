from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from language_identification_spark.operators.decontaminate import (
    decontaminate,
    with_word_ngrams,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_ngrams_normalization(spark):
    df = _df(spark, [(1, "  The QUICK—brown... fox! "), (2, None), (3, "a b")])
    got = {
        r["doc_id"]: r["g"]
        for r in with_word_ngrams(df, "text", "g", 3).collect()
    }
    assert got[1] == ["the quick brown", "quick brown fox"]
    assert got[2] == [] and got[3] == []  # NULL and too-short → empty


def test_planted_contamination_found(spark):
    secret = "zebra quantum waffle theorem applies here"
    bench = _df(spark, [(100, f"benchmark question: {secret} end")])
    train = _df(
        spark,
        [
            (1, f"totally innocent padding {secret} more padding"),
            (2, "nothing shared with any benchmark at all"),
            (3, "zebra quantum waffle somewhere"),  # only a 3-gram, n=4 below
        ],
    )
    got = {
        r["doc_id"]: r["n_hit_grams"]
        for r in decontaminate(train, bench, n=4).collect()
    }
    # doc 1 contains the full 6-word secret → 3 shared 4-grams; doc 3's
    # 3-word fragment is below n and must NOT flag
    assert got == {1: 3}


def test_hash_and_string_paths_agree(spark):
    bench = _df(spark, [(9, "alpha beta gamma delta epsilon")])
    train = _df(
        spark,
        [(i, f"x{i} alpha beta gamma delta filler") for i in range(20)]
        + [(99, "no overlap whatsoever in this one")],
    )
    # grams are matched on their xxhash64: the hits must equal an exact
    # string-gram intersection computed here
    def grams(text):
        w = text.split()
        return {" ".join(w[i:i + 4]) for i in range(len(w) - 3)}

    bench_grams = grams("alpha beta gamma delta epsilon")
    want = sorted(
        (r["doc_id"], len(grams(r["text"]) & bench_grams))
        for r in train.collect()
        if grams(r["text"]) & bench_grams
    )
    got = sorted(
        (r["doc_id"], r["n_hit_grams"])
        for r in decontaminate(train, bench, n=4).collect()
    )
    assert got == want and len(got) == 20


def test_max_df_drops_boilerplate(spark):
    header = "standard license header text here"
    bench = _df(spark, [(50, f"{header} plus unique benchmark content words")])
    train = _df(
        spark,
        [(i, f"{header} body {i}") for i in range(10)]
        + [(77, "plus unique benchmark content words indeed")],
    )
    # header 4-grams hit 10 docs; the unique 4-grams hit only doc 77
    capped = {
        r["doc_id"]: r["n_hit_grams"]
        for r in decontaminate(train, bench, n=4, max_df=5).collect()
    }
    assert set(capped) == {77}
    uncapped = {
        r["doc_id"] for r in decontaminate(train, bench, n=4).collect()
    }
    assert uncapped == set(range(10)) | {77}


def test_empty_bench_and_null_text_safe(spark):
    bench = _df(spark, [(1, None)])
    train = _df(spark, [(2, "some words repeated some words repeated"), (3, None)])
    assert decontaminate(train, bench, n=3).count() == 0


def test_plan_broadcasts_bench_and_keeps_content_local(spark):
    bench = _df(spark, [(1, "alpha beta gamma delta")])
    train = _df(spark, [(i, f"doc {i} alpha beta gamma delta") for i in range(50)])
    import contextlib
    import io
    import re

    out = decontaminate(train, bench, n=4, max_df=10)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "EvalPython" not in plan  # gram generation is pure Catalyst
    # only (gram_key[, doc_id]) relations may shuffle — document text must
    # never be an Exchange input
    for m in re.finditer(r"\(\d+\) (?:Broadcast)?Exchange\n(Input.*)", plan):
        assert "text#" not in m.group(1)
