"""Data-quality gate: column profiling + expectation validation."""

from __future__ import annotations

from pyspark.sql import functions as F

from language_identification_spark.operators.validation import (
    column_profile,
    validate_expectations,
)


def _df(spark):
    rows = [
        (1, "alpha", 10),
        (2, None, 9),
        (3, "beta", None),
        (3, "alpha", -5),
    ]
    return spark.createDataFrame(rows, "id long, name string, size long")


def test_column_profile_counts_and_native_minmax(spark):
    got = {r.column: r for r in column_profile(_df(spark)).collect()}
    assert set(got) == {"id", "name", "size"}
    assert all(r.n_rows == 4 for r in got.values())
    assert got["name"].n_nulls == 1 and got["size"].n_nulls == 1
    assert got["id"].n_distinct == 3  # 3 appears twice
    assert got["name"].n_distinct == 2  # NULL not a distinct value
    # min/max computed on the NATIVE type: size -5 < 9 numerically even
    # though "-5" > "10" lexically
    assert got["size"].min_str == "-5" and got["size"].max_str == "10"
    assert got["name"].min_str == "alpha" and got["name"].max_str == "beta"


def test_column_profile_empty_and_null_only(spark):
    df = spark.createDataFrame([], "id long, name string")
    got = {r.column: r for r in column_profile(df).collect()}
    assert got["id"].n_rows == 0 and got["id"].n_nulls == 0
    assert got["id"].n_distinct == 0 and got["id"].min_str == ""
    nul = spark.createDataFrame([(None,), (None,)], "name string")
    got = column_profile(nul).collect()[0]
    assert got.n_nulls == 2 and got.n_distinct == 0 and got.max_str == ""


def test_validate_expectations_null_verdict_is_violation(spark):
    got = {
        r.rule: r
        for r in validate_expectations(
            _df(spark),
            {
                "id_positive": F.col("id") > 0,
                "size_big": F.col("size") >= 9,  # NULL size -> violation
                "name_not_null": F.col("name").isNotNull(),
            },
        ).collect()
    }
    assert all(r.n_rows == 4 for r in got.values())
    assert got["id_positive"].n_violations == 0
    assert got["size_big"].n_violations == 2  # the NULL and the -5
    assert got["name_not_null"].n_violations == 1


def test_validate_expectations_empty_corpus(spark):
    df = spark.createDataFrame([], "id long")
    got = validate_expectations(df, {"r": F.col("id") > 0}).collect()
    assert got[0].n_rows == 0 and got[0].n_violations == 0


def test_validate_plan_counters_only(spark):
    # expectations are ONE partial-aggregated pass: the only Exchange is
    # the SinglePartition counter exchange — row data never shuffles
    out = validate_expectations(_df(spark), {"r": F.col("id") > 0})
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "SinglePartition" in line, line
    assert "Python" not in plan, plan


def test_column_profile_plan_dedups_before_exchange(spark):
    # exact multi-distinct legitimately shuffles DISTINCT VALUES (Expand +
    # hash Exchange), but a partial HashAggregate must dedup map-side
    # BEFORE the Exchange
    exact = column_profile(_df(spark), cols=["id", "name"])
    plan = exact._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan, plan
    lines = plan.splitlines()
    ex = next(i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l)
    # the exchange's child (printed below it) must be a map-side partial
    # aggregate: values dedup per-partition before they travel
    assert any("partial_" in l for l in lines[ex + 1 :]), plan
    assert "Python" not in plan, plan


def test_empty_args_raise_clearly(spark):
    # ADVICE r05: F.array() over zero per-column structs yields array<null>
    # and the star-expand fails with an opaque AnalysisException — both
    # operators must fail fast with a ValueError naming the problem
    import pytest

    with pytest.raises(ValueError, match="no columns"):
        column_profile(_df(spark), cols=[])
    with pytest.raises(ValueError, match="no rules"):
        validate_expectations(_df(spark), rules={})
