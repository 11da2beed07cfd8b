"""``scrub_audit`` and ``scrub_comments_scoped`` give what ``scrub_series``
gives, next to non-ASCII letters too (where a Java 17 ``\\b`` would count
``é``/``ñ`` as word characters): every Spark-side scrub runs the one scrub
chain."""

from __future__ import annotations

import hashlib
import time

import pandas as pd

from language_identification_spark.operators.audit import scrub_audit
from language_identification_spark.operators.commentscope import (
    scrub_comments_scoped,
)
from language_identification_spark.scrub.scrubber import scrub_series

from tests.test_pipeline_f1 import NON_ASCII_BOUNDARY

EDGE_ROWS = [
    "é.bob@example.com",
    "mail bob@example.comé now",
    "a.b@c.deé",
    "fe80:0:0:0:0:0:0:1é",
    "éfe80:0:0:0:0:0:0:1",
    "_10.0.0.1",
    "x 10.0.0.1ñ",
    "ñsecret = hunter2hunter2",
    "pass ÿpassword: 'abcdefgh'",
    "\U0001d49cAKIAABCDEFGHIJKLMNOP",
    "plain ascii bob@example.com and 10.0.0.1",
]
ROWS = NON_ASCII_BOUNDARY + EDGE_ROWS


def _expected(texts: list[str]) -> tuple[list[str], list[int]]:
    scrubbed, n_sub = scrub_series(pd.Series(texts))
    return list(scrubbed), [int(n) for n in n_sub]


def test_scrub_audit_counts_match_scrub_series(spark):
    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(ROWS)], "source string, text string"
    )
    got = {r.source: r.n_redactions for r in scrub_audit(df).collect()}
    _, n_exp = _expected(ROWS)
    assert [got[str(i)] for i in range(len(ROWS))] == n_exp


def test_scoped_comment_scrub_matches_scrub_series(spark):
    lines = ["// " + t for t in ROWS]
    df = spark.createDataFrame(
        list(enumerate(lines)), "doc_id long, text string"
    )
    got = {r.doc_id: r for r in scrub_comments_scoped(df).collect()}
    text_exp, n_exp = _expected(lines)
    assert [got[i].n_redactions for i in range(len(ROWS))] == n_exp
    assert [got[i].scrubbed_sha256 for i in range(len(ROWS))] == [
        hashlib.sha256(t.encode()).hexdigest() for t in text_exp
    ]


def test_scrub_audit_begin_without_end_is_linear(spark):
    from language_identification_spark.config import DEFAULT_CONFIG
    from language_identification_spark.functions.heuristics import (
        cheap_drop_reason,
        with_heuristics,
    )
    from tests.test_scrub import ADVERSARIAL_PEM_ROW

    df = spark.createDataFrame(
        [("r", ADVERSARIAL_PEM_ROW)], "source string, text string"
    )
    # the flagship would scrub this row: no cheap rule drops it
    cheap = with_heuristics(df.withColumnRenamed("text", "content")).select(
        cheap_drop_reason(DEFAULT_CONFIG).alias("r")
    )
    assert cheap.collect()[0].r is None
    warm = spark.createDataFrame([("r", "x")], "source string, text string")
    scrub_audit(warm).collect()  # a Python worker started outside the budget
    t0 = time.perf_counter()
    row = scrub_audit(df).collect()[0]
    assert time.perf_counter() - t0 < 2.0
    assert row.n_redactions == 0 and row.n_docs == 1
