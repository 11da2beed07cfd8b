"""Symbol mining and code metrics vs scalar reference computations."""

from __future__ import annotations

import re

import pytest

from language_identification_spark.operators.codestats import (
    BRANCH_RE,
    COMMENT_RE,
    PPM,
    code_metrics,
    mine_symbols,
)

PY = (
    "def top(x):\n"
    "    # comment\n"
    "    if x:\n"
    "        return x\n"
    "\n"
    "class Widget:\n"
    "    def method(self):\n"
    "        pass\n"
)
JS = "function handler(evt) {\n  // cb\n  for (;;) { }\n}\n"
GO = "func Main(x int) int {\n\tif x > 0 {\n\t\treturn x\n\t}\n\treturn 0\n}\n"
DUP = "def twice():\n    pass\n\ndef twice():\n    pass\n"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(0, PY), (1, JS), (2, GO), (3, DUP), (4, None), (5, "")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_mine_symbols(docs):
    got = sorted(
        (r["doc_id"], r["kind"], r["name"]) for r in mine_symbols(docs).collect()
    )
    assert got == [
        (0, "py_class", "Widget"),
        (0, "py_function", "method"),
        (0, "py_function", "top"),
        (1, "js_function", "handler"),
        (2, "go_func", "Main"),
        (3, "py_function", "twice"),  # within-doc duplicates collapse
    ]


def scalar_metrics(text: str | None):
    t = text or ""
    ls = t.split("\n")
    n_lines = len(ls)
    max_len = max((len(x) for x in ls), default=0)
    max_indent = max((len(x) - len(x.lstrip(" ")) for x in ls), default=0)
    n_branches = len(re.findall(BRANCH_RE, t))
    n_comment = sum(1 for x in ls if re.match(COMMENT_RE, x))
    n_blank = sum(1 for x in ls if x.strip(" ") == "")
    return (
        n_lines,
        max_len,
        max_indent,
        n_branches,
        n_comment,
        n_blank,
        PPM * n_comment // n_lines,
        PPM * n_blank // n_lines,
    )


def test_code_metrics_matches_scalar(docs):
    got = {
        r["doc_id"]: (
            r["n_lines"],
            r["max_line_len"],
            r["max_indent"],
            r["n_branches"],
            r["n_comment_lines"],
            r["n_blank_lines"],
            r["comment_ppm"],
            r["blank_ppm"],
        )
        for r in code_metrics(docs).collect()
    }
    for doc_id, text in [(0, PY), (1, JS), (2, GO), (3, DUP), (4, None), (5, "")]:
        assert got[doc_id] == scalar_metrics(text), f"doc {doc_id}"


def test_tab_indent_is_not_space_indent(docs):
    # go's tab indentation must NOT count toward max_indent (space-only,
    # matching DuckDB's ltrim default) — pins cross-engine parity
    row = {r["doc_id"]: r for r in code_metrics(docs).collect()}[2]
    assert row["max_indent"] == 0
    # tab-indented lines are not blank; only the trailing "" after the
    # final newline counts
    assert row["n_blank_lines"] == 1


def test_metrics_plan_row_local(docs):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code_metrics(docs).explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_symbols_plan_no_python(docs):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mine_symbols(docs).explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ppm_no_int32_overflow(spark):
    """PPM * count must multiply in LONG: 2500 comment lines would wrap a
    32-bit product (2.5e9 > 2^31) into garbage ppm."""
    text = "\n".join(["# c"] * 2500 + ["x = 1"] * 2500)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = code_metrics(df).collect()[0]
    assert row["n_comment_lines"] == 2500 and row["n_lines"] == 5000
    assert row["comment_ppm"] == PPM * 2500 // 5000  # exactly 500000


def test_mine_symbols_single_scan(docs):
    """The symbol miner must read its source once — one scan node, not one
    per pattern."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mine_symbols(docs).explain("formatted")
    plan = buf.getvalue()
    # formatted output lists each node twice (tree + detail); count the
    # numbered detail headers to count actual scan NODES
    assert len(re.findall(r"\(\d+\) Scan", plan)) == 1
    assert "Union" not in plan


# --- strip_comments ---------------------------------------------------------

def scalar_strip(text: str | None):
    import hashlib

    t = text or ""
    no_block = re.sub(r"/\*.*?\*/", "", t, flags=re.S)
    all_lines = no_block.split("\n")
    kept = [x for x in all_lines if not re.match(r"^[ \t]*(#|//)", x)]
    stripped = "\n".join(kept)
    return {
        "n_lines_in": len(t.split("\n")),
        "n_block_chars_removed": len(t) - len(no_block),
        "n_comment_lines_removed": len(all_lines) - len(kept),
        "stripped_chars": len(stripped),
        "stripped_sha256": hashlib.sha256(stripped.encode()).hexdigest(),
    }


STRIP_CASES = [
    "code()\n# full line\n  // indented\nmore()",
    "a /* inline */ b\n/* multi\n   line */\ntail",
    "/* unterminated\nstays put\n# but this goes",
    's = "# not a comment but stripped anyway (documented)"',
    "x = 1  # trailing comments stay",
    "",
    None,
]


def test_strip_comments_matches_scalar(spark):
    from language_identification_spark.operators.codestats import strip_comments

    rows = [(i, t) for i, t in enumerate(STRIP_CASES)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in strip_comments(df).collect()}
    for i, t in enumerate(STRIP_CASES):
        want = scalar_strip(t)
        for k, v in want.items():
            assert got[i][k] == v, (i, k, got[i][k], v)
    # the unterminated block is untouched (lazy match needs a closer)
    assert got[2]["n_block_chars_removed"] == 0
    # trailing comments survive: only FULL-line comments drop
    assert got[4]["n_comment_lines_removed"] == 0


def test_strip_comments_plan_row_local(spark):
    import contextlib
    import io

    from language_identification_spark.operators.codestats import strip_comments

    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        strip_comments(df).explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
