"""Salted skew-safe equi-join: parity with the plain join + plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from language_identification_spark.operators.joins import salted_join


@pytest.fixture(scope="module")
def skewed(spark):
    # one mega-key (80% of facts), two cold keys, one orphan key
    facts = spark.createDataFrame(
        [(i, "hot" if i % 10 < 8 else ("cold_a" if i % 2 else "cold_b"))
         for i in range(200)] + [(999, "orphan")],
        "fact_id long, key string",
    )
    dim = spark.createDataFrame(
        [("hot", 1), ("cold_a", 2), ("cold_b", 3)], "key string, dim_val long"
    )
    return facts, dim


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_salted_inner_matches_plain_join(skewed):
    facts, dim = skewed
    got = _rows(
        salted_join(facts, dim, "key", salt_from="fact_id", salt_factor=7)
    )
    want = _rows(facts.join(dim, "key", "inner"))
    assert got == want and len(got) == 200  # orphan dropped


def test_salt_factor_one_degenerates_to_plain(skewed):
    facts, dim = skewed
    got = _rows(salted_join(facts, dim, "key", "fact_id", salt_factor=1))
    assert got == _rows(facts.join(dim, "key", "inner"))


def test_invalid_args(skewed):
    facts, dim = skewed
    with pytest.raises(ValueError, match="salt_factor"):
        salted_join(facts, dim, "key", "fact_id", salt_factor=0)


def test_plan_shuffles_on_key_and_salt(skewed):
    # the point of the exercise: a sort-merge join's exchanges partition on
    # (key, _salt), so a hot key spreads over salt_factor reducers; the
    # salt never leaks into the output schema
    facts, dim = skewed
    out = salted_join(
        facts, dim.hint("merge"), "key", salt_from="fact_id", salt_factor=7
    )
    assert "_salt" not in out.columns
    plan = out._jdf.queryExecution().executedPlan().toString()
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(ex) >= 2, plan
    for l in ex:
        assert "key#" in l and "_salt#" in l, l


def test_preexisting_salt_column_rejected(skewed):
    # ADVICE r05: silently overwriting (then dropping) a caller's '_salt'
    # column would corrupt output — must raise instead
    facts, dim = skewed
    with pytest.raises(ValueError, match="_salt"):
        salted_join(
            facts.withColumn("_salt", F.lit(1)), dim, "key",
            salt_from="fact_id",
        )
