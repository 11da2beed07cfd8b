from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from language_identification_spark.operators.linededup import (
    dedup_lines,
    mark_duplicate_lines,
)

CORPUS = [
    (0, "intro\nshared boilerplate\nbody zero\n\nshared boilerplate"),
    (1, "shared boilerplate\nbody one\nintro"),
    (2, "body two\n\n\nbody two\nx"),
    (3, None),
    (4, "shared boilerplate"),
]


def _py_dedup(docs, min_chars=1):
    seen, out = set(), {}
    for doc_id, text in sorted(docs):
        kept, removed = [], 0
        for line in (text or "").split("\n"):
            if len(line.strip()) >= min_chars:
                if line in seen:
                    removed += 1
                    continue
                seen.add(line)
            kept.append(line)
        out[doc_id] = ("\n".join(kept), len(kept), removed)
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string").cache()


def test_matches_independent_python(docs):
    got = {
        r["doc_id"]: (r["text"], r["n_kept"], r["n_removed"])
        for r in dedup_lines(docs).collect()
    }
    assert got == _py_dedup(CORPUS)


def test_first_occurrence_wins_globally(docs):
    got = {r["doc_id"]: r["text"] for r in dedup_lines(docs).collect()}
    # doc 0 owns the first "shared boilerplate"; docs 1 and 4 lose theirs,
    # and doc 0's own second copy is removed too (within-doc repetition)
    assert "shared boilerplate" in got[0].split("\n")
    assert got[0].split("\n").count("shared boilerplate") == 1
    assert "shared boilerplate" not in got[1].split("\n")
    assert got[4] == ""


def test_blank_lines_exempt_and_order_preserved(docs):
    got = {r["doc_id"]: r["text"] for r in dedup_lines(docs).collect()}
    # doc 2's blank lines both survive; within-doc dup of "body two" removed
    assert got[2] == "body two\n\n\nx"
    # doc 0's blank survives between kept lines, original order intact
    assert got[0] == "intro\nshared boilerplate\nbody zero\n"


def test_null_text_survives_as_empty(docs):
    row = {r["doc_id"]: r for r in dedup_lines(docs).collect()}[3]
    assert row["text"] == "" and row["n_kept"] == 1 and row["n_removed"] == 0


def test_min_chars_exempts_short_lines(spark):
    # trimmed length below MIN_LINE_CHARS (1): space-only lines
    df = spark.createDataFrame(
        [(0, "   \nlong enough line"), (1, "   \nlong enough line")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text"] for r in dedup_lines(df).collect()}
    assert got[0] == "   \nlong enough line"
    assert got[1] == "   "  # short line exempt everywhere, long one deduped


def test_mark_counts_align(docs):
    marked = mark_duplicate_lines(docs)
    n_total = marked.count()
    n_kept = marked.filter("keep").count()
    agg = dedup_lines(docs).agg(
        F.sum("n_kept").alias("k"), F.sum("n_removed").alias("r")
    ).collect()[0]
    assert agg["k"] == n_kept and agg["k"] + agg["r"] == n_total


def test_plan_is_pure_catalyst(docs):
    plan = dedup_lines(docs)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    # winner table aggregates map-side before its shuffle (partial_min)
    assert "partial_min" in plan


def _py_collapse(text):
    lines = (text or "").split("\n")
    kept = [l for i, l in enumerate(lines) if i == 0 or l != lines[i - 1]]
    return len(lines), len(kept), "\n".join(kept)


def test_collapse_runs_matches_independent_python(spark):
    import hashlib

    from language_identification_spark.operators.linededup import collapse_runs

    rows = [
        (0, "a\na\na\nb\na\na"),          # runs collapse, non-adjacent 'a' survives
        (1, "x\n\n\n\ny\ny"),             # blank-line runs collapse too
        (2, ""),                            # empty text -> single empty line kept
        (3, None),                          # NULL text behaves as empty
        (4, "only"),                       # single line untouched
        (5, "s\ns"),                       # two-line run -> one
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in collapse_runs(docs).collect()}
    for doc_id, text in rows:
        n_lines, n_kept, new_text = _py_collapse(text)
        r = got[doc_id]
        assert r["n_lines"] == n_lines, doc_id
        assert r["n_kept"] == n_kept, doc_id
        assert r["collapsed_sha256"] == hashlib.sha256(new_text.encode()).hexdigest(), doc_id


def test_collapse_runs_zero_exchange(spark):
    from language_identification_spark.operators.linededup import collapse_runs

    docs = spark.createDataFrame([(0, "a\na")], "doc_id long, text string")
    plan = collapse_runs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan


# --- property test (hypothesis) ----------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_line = st.text(alphabet=st.sampled_from("ab \t#"), max_size=4)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.lists(_line, max_size=8), min_size=1, max_size=6))
def test_collapse_runs_property(spark, docs_lines):
    """Random multiline texts (repetition-prone tiny alphabet): Spark's
    row-local collapse matches the stdlib reference on counts AND on the
    exact rewritten bytes (via sha256)."""
    import hashlib

    from language_identification_spark.operators.linededup import collapse_runs

    rows = [(i, "\n".join(ls)) for i, ls in enumerate(docs_lines)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in collapse_runs(df).collect()}
    for doc_id, text in rows:
        n_lines, n_kept, new_text = _py_collapse(text)
        r = got[doc_id]
        assert (r["n_lines"], r["n_kept"]) == (n_lines, n_kept)
        assert r["collapsed_sha256"] == hashlib.sha256(new_text.encode()).hexdigest()
