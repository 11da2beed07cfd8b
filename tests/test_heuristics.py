"""Heuristic feature columns: the whitespace strip matches the labeler's
``str.strip`` spec exactly and costs linear time per row."""

from __future__ import annotations

import time

from language_identification_spark.datagen.labeler import ASCII_WS
from language_identification_spark.functions.heuristics import with_heuristics

STRIP_CASES = [
    None,
    "",
    "\x0b",
    "\x0bcode\x0b",
    " \t\n\r\f\x0bcode  body\x0b\f\r\n\t ",
    "\u00a0code\u00a0",  # NBSP is not in the Java \s set: kept
    "\u2003code\n",  # nor is the em space
    "code",
    "  \n  ",
]


def test_strip_matches_labeler_spec(spark):
    rows = list(enumerate(STRIP_CASES))
    df = spark.createDataFrame(rows, "id int, content string")
    got = {r.id: r.n_chars_stripped for r in with_heuristics(df).collect()}
    want = {i: None if s is None else len(s.strip(ASCII_WS)) for i, s in rows}
    assert got == want


def test_interior_whitespace_run_is_linear(spark):
    # 200 KB of interior whitespace: the old ^\s+|\s+$ regex took minutes
    content = "x" + " \t" * 100_000 + "y"
    df = spark.createDataFrame([(content,)], "content string")
    with_heuristics(df.limit(0)).collect()  # job set-up outside the timing
    t0 = time.perf_counter()
    row = with_heuristics(df).first()
    assert time.perf_counter() - t0 < 2.0
    assert row.n_chars_stripped == len(content)
