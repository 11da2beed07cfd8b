from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from language_identification_spark.models.train_lr import (
    DEFAULT_ITERS,
    DEFAULT_LR,
    lr_feature_cols,
    score_quality_lr,
    train_quality_lr,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        # long, clean, stopword-rich -> label 1
        *[
            (i, ("the cat is on the mat and it is a fine day " * 12).strip())
            for i in range(20)
        ],
        # short -> label 0
        *[(100 + i, "tiny doc") for i in range(20)],
        # long but punctuation-heavy -> label 0
        *[
            (200 + i, ("@@@ ### !!! %%% ^^^ &&& *** " * 30).strip())
            for i in range(20)
        ],
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_features_exact(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat!!"),  # 9 chars, 2 punct, 2 tokens, 1 stopword
            (2, ""),
            (3, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in lr_feature_cols(df).collect()}
    assert got[1]["len_milli"] == 18
    assert got[1]["punct_permilli"] == math.floor(2 * 1000 / 9)
    assert got[1]["stop_permilli"] == 500
    assert got[1]["label"] == 0
    for i in (2, 3):
        assert got[i]["len_milli"] == 0
        assert got[i]["punct_permilli"] == 0
        assert got[i]["stop_permilli"] == 0
        assert got[i]["label"] == 0


def test_training_separates_classes(corpus):
    w = train_quality_lr(corpus)
    got = lr_feature_cols(corpus).select("doc_id", "label").join(
        score_quality_lr(corpus, w), "doc_id"
    )
    acc = (
        got.filter(F.col("pred").cast("int") == F.col("label")).count()
        / got.count()
    )
    assert acc >= 0.95


def test_training_matches_numpy_bit_identical(corpus):
    """The engine-independence claim: distributed GD and a local numpy
    re-derivation produce the SAME weights (9-decimal quantization absorbs
    summation-order and exp ulps)."""
    import numpy as np

    from __spark_entry__ import _numpy_train_quality_lr

    feats = lr_feature_cols(corpus).orderBy("doc_id").collect()
    w_spark = train_quality_lr(corpus)
    w_np = _numpy_train_quality_lr(
        np.array([r["len_milli"] for r in feats]),
        np.array([r["punct_permilli"] for r in feats]),
        np.array([r["stop_permilli"] for r in feats]),
        np.array([r["label"] for r in feats]),
        DEFAULT_ITERS,
        DEFAULT_LR,
    )
    assert w_spark == w_np


def test_score_plan_row_local(corpus):
    w = [0.1, 0.2, -0.3, 0.4]
    plan = (
        score_quality_lr(corpus, w)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_empty_table_raises(spark):
    df = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(ValueError):
        train_quality_lr(df)
