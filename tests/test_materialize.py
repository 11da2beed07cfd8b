"""``partitioning.materialize``: one lifetime rule for the intermediates a
returned DataFrame reads.  A later call must never change what an earlier
returned DataFrame computes — no Python UDF re-run, no rescan of its input."""

from __future__ import annotations

import shutil

import numpy as np
import pytest
from pyspark.sql import DataFrame

from language_identification_spark.partitioning import materialize


def _plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_checkpoint_dir_selects_reliable_checkpoint(spark, monkeypatch):
    calls = []
    monkeypatch.setattr(
        spark.sparkContext, "getCheckpointDir", lambda: "/some/checkpoint/dir"
    )
    df = spark.range(3)
    monkeypatch.setattr(
        type(df), "checkpoint", lambda self, eager=True: calls.append(eager) or self
    )
    assert materialize(df) is df
    assert calls == [True]


def _texts(seed: int) -> list[tuple[int, str]]:
    rng = np.random.default_rng(seed)
    words = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(12):
        body = " ".join(rng.choice(words, 30))
        rows.append((seed * 100 + 2 * i, body))
        rows.append((seed * 100 + 2 * i + 1, body + " tail"))  # near-dup
    return rows


def _vectors(seed: int) -> list[tuple[int, list[float]]]:
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(8):
        v = rng.standard_normal(64)
        near = v + rng.standard_normal(64) * 0.02
        rows.append((seed * 100 + 2 * i, [float(x) for x in v]))
        rows.append((seed * 100 + 2 * i + 1, [float(x) for x in near]))
    return rows


def _jaccard(df):
    from language_identification_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(df, "text", "doc_id", 0.5)


def _simhash(df):
    from language_identification_spark.operators.dedup import simhash_dup_pairs

    return simhash_dup_pairs(df, "text", "doc_id")


def _cosine(df):
    from language_identification_spark.operators.similarity import cosine_dup_pairs

    return cosine_dup_pairs(df, 0.9)


def _bm25(df):
    from language_identification_spark.operators.retrieval import bm25_topk

    return bm25_topk(df, ["w1", "w7"], k=100)


_TEXT_SCHEMA = "doc_id long, text string"
_VEC_SCHEMA = "vec_id long, embedding array<float>"


@pytest.mark.parametrize(
    "op, make_rows, schema",
    [
        (_jaccard, _texts, _TEXT_SCHEMA),
        (_simhash, _texts, _TEXT_SCHEMA),
        (_cosine, _vectors, _VEC_SCHEMA),
        (_bm25, _texts, _TEXT_SCHEMA),
    ],
    ids=["jaccard_pairs", "simhash_dup_pairs", "cosine_dup_pairs", "bm25_topk"],
)
def test_later_call_leaves_earlier_result_materialized(
    spark, tmp_path, op, make_rows, schema
):
    def parquet_input(seed: int) -> str:
        path = str(tmp_path / f"in{seed}")
        spark.createDataFrame(make_rows(seed), schema).write.parquet(path)
        return path

    first_input = parquet_input(1)
    first = op(spark.read.parquet(first_input))
    rows = sorted(map(tuple, first.collect()))
    assert rows  # the inputs are built to contain matches
    op(spark.read.parquet(parquet_input(2))).collect()
    # using the earlier result again builds a fresh plan over it (as a
    # count() or a write would; re-collecting ``first`` itself would just
    # reuse its finished shuffle stages)
    again = first.select("*")
    for plan in (_plan(first), _plan(again)):
        # it still reads its own materialized intermediate: no Python UDF
        # re-evaluation and no rescan of its parquet input
        assert "ArrowEvalPython" not in plan, plan
        assert "FileScan parquet" not in plan, plan
    shutil.rmtree(first_input)  # a rescan would now fail
    assert sorted(map(tuple, again.collect())) == rows
