from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from language_identification_spark.operators.fim import (
    FIM_MIDDLE,
    FIM_PREFIX,
    FIM_SUFFIX,
    N_BUCKETS,
    fim_transform,
)
from language_identification_spark.operators.repolevel import repo_rollup


def _py_u32(salt: str, tag: str, key) -> int:
    h = hashlib.sha256(f"{salt}|{tag}|{key}".encode()).hexdigest()
    return int(h[:8], 16)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"the quick brown fox {i} jumps over the lazy dog number {i}")
        for i in range(300)
    ] + [(1000, "tiny"), (1001, ""), (1002, None)]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_fim_reconstruction_and_gate(docs):
    """Every transformed row reassembles to the original text; the gate and
    cut points match an independent stdlib-sha256 reimplementation."""
    out = {r["doc_id"]: r for r in fim_transform(docs, salt="t1").collect()}
    orig = {r["doc_id"]: (r["text"] or "") for r in docs.collect()}
    n_fim = 0
    for doc_id, text in orig.items():
        row = out[doc_id]
        expect_gate = (_py_u32("t1", "g", doc_id) % N_BUCKETS) < N_BUCKETS // 2
        expect_fim = expect_gate and len(text) >= 8
        assert row["fim"] == expect_fim
        if not expect_fim:
            assert row["fim_text"] == text
            continue
        n_fim += 1
        a = _py_u32("t1", "a", doc_id) % (len(text) + 1)
        b = _py_u32("t1", "b", doc_id) % (len(text) + 1)
        lo, hi = min(a, b), max(a, b)
        expected = (
            FIM_PREFIX + text[:lo] + FIM_SUFFIX + text[hi:] + FIM_MIDDLE + text[lo:hi]
        )
        assert row["fim_text"] == expected
        # PSM reassembles to the original
        p = row["fim_text"]
        prefix = p[len(FIM_PREFIX) : p.index(FIM_SUFFIX)]
        suffix = p[p.index(FIM_SUFFIX) + len(FIM_SUFFIX) : p.index(FIM_MIDDLE)]
        middle = p[p.index(FIM_MIDDLE) + len(FIM_MIDDLE) :]
        assert prefix + middle + suffix == text
    # the 50% gate actually selects a non-trivial fraction of 300 docs
    assert 100 < n_fim < 200


def test_fim_rate_bounds(docs):
    with pytest.raises(ValueError):
        fim_transform(docs, rate=1.5)
    assert fim_transform(docs, rate=0.0).filter("fim").count() == 0
    # rate=1.0: everything long enough is transformed
    n_long = docs.filter(F.length(F.coalesce("text", F.lit(""))) >= 8).count()
    assert fim_transform(docs, rate=1.0).filter("fim").count() == n_long


def test_fim_plan_no_shuffle_no_udf(docs):
    plan = fim_transform(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan  # no UDF — pure codegen


@pytest.fixture(scope="module")
def repo_docs(spark):
    rows = []
    for i in range(40):
        # repo "good": prose that scores well; repo "bad": punctuation soup
        rows.append((i, "the quick brown fox and the lazy dog of it is in to", "good"))
        rows.append((1000 + i, "@#$%^&*!!! ~~~ ;;; @#$%^&*!!!", "bad"))
    rows.append((2000, "the one lonely doc of the empty repo", "solo"))
    return spark.createDataFrame(rows, "doc_id long, text string, source string").cache()


def test_repo_rollup_verdicts(repo_docs):
    got = {r["source"]: r for r in repo_rollup(repo_docs, tau_milli=400).collect()}
    assert got["good"]["repo_keep"] is True
    assert got["bad"]["repo_keep"] is False
    assert got["good"]["n_docs"] == 40
    assert got["solo"]["n_docs"] == 1
    # exact integer verdict: quality_sum >= tau * n_docs
    for r in got.values():
        assert r["repo_keep"] == (
            r["quality_sum"] >= 400 * r["n_docs"] and r["n_docs"] >= 1
        )


def test_repo_rollup_min_docs(repo_docs):
    got = {
        r["source"]: r["repo_keep"]
        for r in repo_rollup(repo_docs, tau_milli=400, min_docs=2).collect()
    }
    assert got["solo"] is False  # fails the min-docs floor, not the score
    assert got["good"] is True


def test_repo_rollup_partial_aggregation(repo_docs):
    """The groupBy must partial-aggregate (map-side combine) so the shuffle
    carries O(#repos) rows — the 100 TB-safety property the module claims."""
    plan = repo_rollup(repo_docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "text" not in plan.split("Exchange")[1].split("HashAggregate")[0]


def test_quota_cap_counts_and_determinism(repo_docs):
    from language_identification_spark.operators.repolevel import quota_cap

    capped = quota_cap(repo_docs, quota=7, salt="t")
    counts = {
        r["source"]: r["n"]
        for r in capped.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts == {"good": 7, "bad": 7, "solo": 1}
    # survivors are exactly the quota smallest sha256("t|<doc_id>") digests
    # per repo — reimplemented with stdlib hashlib
    rows = repo_docs.select("doc_id", "source").collect()
    by_repo: dict[str, list[int]] = {}
    for r in rows:
        by_repo.setdefault(r["source"], []).append(r["doc_id"])
    expect = set()
    for repo, ids in by_repo.items():
        ranked = sorted(ids, key=lambda i: (hashlib.sha256(f"t|{i}".encode()).hexdigest(), i))
        expect |= {(repo, i) for i in ranked[:7]}
    got = {(r["source"], r["doc_id"]) for r in capped.select("source", "doc_id").collect()}
    assert got == expect
    # deterministic: a second run selects the identical row set
    again = {
        (r["source"], r["doc_id"])
        for r in quota_cap(repo_docs, quota=7, salt="t").select("source", "doc_id").collect()
    }
    assert again == got


def test_quota_cap_full_rows_and_validation(repo_docs):
    from language_identification_spark.operators.repolevel import quota_cap

    # the full row (text included) survives the semi-join untouched
    capped = quota_cap(repo_docs, quota=1000, salt="t")
    assert capped.count() == repo_docs.count()
    assert set(capped.columns) == set(repo_docs.columns)
    with pytest.raises(ValueError):
        quota_cap(repo_docs, quota=0)


def test_collapse_forks_representatives(spark):
    from language_identification_spark.operators.repolevel import collapse_forks

    rows = []
    # upstream with 10 distinct files; fork carries 6 of them -> jaccard 0.6
    for i in range(10):
        rows.append((f"file body {i}", "up"))
    for i in range(6):
        rows.append((f"file body {i}", "fork"))
    # chained second fork sharing 5 files with "fork" (and with "up"):
    # transitive closure must put all three in one family
    for i in range(5):
        rows.append((f"file body {i}", "fork2"))
    # unrelated repo
    rows.append(("totally different", "solo"))
    df = spark.createDataFrame(rows, "text string, source string")
    got = {r["repo"]: r for r in collapse_forks(df, min_jaccard_milli=400).collect()}
    assert got["up"]["is_rep"] is True
    assert got["fork"]["rep_repo"] == "up"
    assert got["fork2"]["rep_repo"] == "up"
    assert got["solo"]["is_rep"] is True and got["solo"]["rep_repo"] == "solo"
    assert got["up"]["n_files"] == 10 and got["fork"]["n_files"] == 6
    # ties break by name: two equal-size mutual forks -> lexicographic min wins
    tie = spark.createDataFrame(
        [(f"t {i}", r) for i in range(4) for r in ("b_repo", "a_repo")],
        "text string, source string",
    )
    tg = {r["repo"]: r for r in collapse_forks(tie, min_jaccard_milli=900).collect()}
    assert tg["a_repo"]["is_rep"] is True and tg["b_repo"]["rep_repo"] == "a_repo"


def test_new_operators_empty_corpus(spark):
    """Empty inputs flow through without errors and with stable schemas."""
    from language_identification_spark.operators.graph import repo_context_concat
    from language_identification_spark.operators.linededup import (
        collapse_runs,
        collapse_runs_rewrite,
    )
    from language_identification_spark.operators.repolevel import (
        collapse_forks,
        quota_cap,
    )

    empty = spark.createDataFrame([], "doc_id long, text string, source string")
    assert quota_cap(empty, quota=5).count() == 0
    assert collapse_forks(empty).count() == 0
    assert collapse_runs(empty).count() == 0
    assert collapse_runs_rewrite(empty).count() == 0
    layers = spark.createDataFrame([], "node long, layer long")
    out = repo_context_concat(empty, layers)
    assert out.count() == 0
    assert set(out.columns) == {"source", "n_files", "n_chars", "context_sha256"}
