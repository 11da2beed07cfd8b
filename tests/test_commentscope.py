"""Comment-scoped PII scrub: scoping decisions, clamped block depth,
pass-through guarantee for code lines, and idempotence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from language_identification_spark.operators.commentscope import (
    comment_scope_flags,
    scrub_comments_scoped,
    scrub_scoped_lines,
)


def _rewrite(spark, text: str) -> str:
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    t = F.coalesce(F.col("text"), F.lit(""))
    lines = F.split(t, "\n")
    out = scrub_scoped_lines(lines, comment_scope_flags(lines))["text"]
    return df.select(out.alias("t")).collect()[0].t


def _flags(spark, text: str) -> list[bool]:
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    col = comment_scope_flags(F.split(F.coalesce(F.col("text"), F.lit("")), "\n"))
    return df.select(col.alias("f")).collect()[0].f


def test_line_comment_scrubbed_code_untouched(spark):
    out = _rewrite(
        spark, "# mail admin@example.com\nsend('admin@example.com')"
    )
    assert out == "# mail [REDACTED_EMAIL]\nsend('admin@example.com')"


def test_block_comment_multiline_scope(spark):
    out = _rewrite(
        spark,
        "/* token = hunter2secret\n   ip 10.0.0.1 */\nconnect('10.0.0.2')",
    )
    assert "[REDACTED]" in out.splitlines()[0]
    assert "[REDACTED_IP]" in out.splitlines()[1]
    assert out.splitlines()[2] == "connect('10.0.0.2')"


def test_unterminated_block_scopes_to_eof(spark):
    assert _flags(spark, "open /* x\na@b.cc\n1.2.3.4") == [True, True, True]


def test_stray_close_does_not_go_negative(spark):
    # '*/' with no opener must not make a LATER real block unscoped
    flags = _flags(spark, "x = '*/'\ncode\n/* real block\nstill in */")
    assert flags == [False, False, True, True]


def test_double_slash_comment_scoped(spark):
    assert _flags(spark, "// c\ncode") == [True, False]


def test_indented_hash_comment_scoped(spark):
    assert _flags(spark, "  # c\n  x = '# not a comment line'") == [
        True,
        False,
    ]


def test_empty_and_null_text(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r
        for r in scrub_comments_scoped(df).collect()
    }
    for i in (1, 2):
        assert rows[i].n_lines == 1
        assert rows[i].n_scoped_lines == 0
        assert rows[i].n_redactions == 0
        assert rows[i].scrubbed_chars == 0


def test_idempotent(spark):
    text = "# admin@example.com\n/* 10.0.0.1 */\ncode bob@x.yy"
    once = _rewrite(spark, text)
    assert _rewrite(spark, once) == once


def test_census_counts(spark):
    text = "# a@b.cc and 1.2.3.4\ncode c@d.ee"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = scrub_comments_scoped(df).collect()[0]
    assert row.n_lines == 2
    assert row.n_scoped_lines == 1
    assert row.n_redactions == 2  # email + ip on the comment line only


def test_plan_is_one_rowlocal_projection(spark):
    df = spark.createDataFrame([(1, "# x")], "doc_id long, text string")
    plan = (
        scrub_comments_scoped(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1


# --- property test (hypothesis) ---------------------------------------------

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from language_identification_spark.scrub.patterns import COMPILED


def _scalar_rewrite(text: str) -> tuple[str, list[bool]]:
    """Independent Python reference: same scope spec, stdlib re only."""
    comment = re.compile(r"^[ \t]*(#|//)")
    out, flags, depth = [], [], 0
    for line in text.split("\n"):
        opens = line.count("/*")
        closes = line.count("*/")
        scoped = depth > 0 or bool(comment.search(line)) or opens > 0
        depth = max(0, depth + opens - closes)
        flags.append(scoped)
        if scoped:
            for _name, rx, repl in COMPILED:
                line = rx.sub(repl, line)
        out.append(line)
    return "\n".join(out), flags


_LINE_PIECES = st.lists(
    st.sampled_from(
        [
            "code()",
            "# c a@b.cc",
            "// ip 1.2.3.4",
            "/*",
            "*/",
            "/* x */",
            "x = '*/'",
            "g = '**/*.py'",
            "token = hunter2secret",
            "mail bob@example.com",
            "  # indented",
            "",
        ]
    ),
    min_size=0,
    max_size=12,
)


@settings(max_examples=25, deadline=None)
@given(_LINE_PIECES)
def test_property_matches_scalar_reference(spark, pieces):
    text = "\n".join(pieces)
    expect_text, expect_flags = _scalar_rewrite(text)
    assert _rewrite(spark, text) == expect_text
    assert _flags(spark, text) == expect_flags


def test_line_count_overlap_semantics():
    # str.count counts non-overlapping occurrences left-to-right — the
    # same semantics as the split-based Spark/DuckDB counters; pin the
    # overlapping '/*/' edge so all three agree by construction
    assert "/*/".count("/*") == 1 and "/*/".count("*/") == 1


@pytest.mark.parametrize(
    "glob_line", ["path = 'src/**/*.py'", "m('**/x/*.js')"]
)
def test_glob_false_positive_is_scope_only(spark, glob_line):
    # a glob contains '/*': the line (and, with net-positive depth, lines
    # after it) lands in scope — the documented regex-level approximation.
    # The failure mode is ONLY extra PII redaction inside scope; non-PII
    # content is never altered, so the rewrite is the identity here.
    text = glob_line + "\nplain code line"
    assert _rewrite(spark, text) == text
