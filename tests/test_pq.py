"""Product quantization: training/encode/probe contracts and parity with
an independent numpy reference."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from language_identification_spark.operators import pq
from language_identification_spark.operators.pq import (
    adc_lut,
    encode_pq,
    pq_topk,
    train_pq_codebooks,
)


@pytest.fixture(autouse=True)
def four_by_four(monkeypatch):
    """4 subspaces x 4 centroids: one centroid per cluster of ``clustered``
    (the codebook shape is read on the driver, so the patch reaches it)."""
    monkeypatch.setattr(pq, "PQ_M", 4)
    monkeypatch.setattr(pq, "PQ_K", 4)


def _emb_df(spark, mat):
    rows = [(i, [float(x) for x in mat[i]]) for i in range(len(mat))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def clustered():
    """4 well-separated clusters in dim 16 — PQ must preserve them."""
    rng = np.random.default_rng(99)
    centers = rng.standard_normal((4, 16)) * 10
    mat = np.vstack(
        [c + rng.standard_normal((15, 16)) * 0.1 for c in centers]
    ).astype(np.float32)
    return mat


def test_codebook_shape_and_determinism(spark, clustered):
    df = _emb_df(spark, clustered)
    b1 = train_pq_codebooks(df, iters=2)
    b2 = train_pq_codebooks(df, iters=2)
    assert b1.shape == (4, 4, 4)
    assert np.array_equal(b1, b2)  # bit-identical retrain


def test_dim_not_divisible_raises(spark, clustered):
    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks(_emb_df(spark, clustered[:, :15]), iters=1)


def test_encode_matches_numpy_reference(spark, clustered):
    df = _emb_df(spark, clustered)
    books = train_pq_codebooks(df, iters=2)
    got = {
        r.vec_id: list(r.codes) for r in encode_pq(df, books).collect()
    }
    mat64 = clustered.astype(np.float64)
    for i in range(len(clustered)):
        for mi in range(4):
            sub = mat64[i, mi * 4 : (mi + 1) * 4]
            # same left-fold accumulation order as the operator
            acc = np.zeros(4)
            for j in range(4):
                d = sub[j] - books[mi, :, j]
                acc = acc + d * d
            assert got[i][mi] == int(acc.argmin()), (i, mi)


def test_same_cluster_same_code(spark, clustered):
    df = _emb_df(spark, clustered)
    books = train_pq_codebooks(df, iters=2)
    codes = {r.vec_id: tuple(r.codes) for r in encode_pq(df, books).collect()}
    # within a well-separated cluster every member quantizes identically
    for c in range(4):
        cluster_codes = {codes[i] for i in range(c * 15, (c + 1) * 15)}
        assert len(cluster_codes) == 1, c
    # and the 4 clusters get 4 distinct codes
    assert len({codes[c * 15] for c in range(4)}) == 4


def test_probe_finds_query_cluster(spark, clustered):
    df = _emb_df(spark, clustered)
    books = train_pq_codebooks(df, iters=2)
    codes = encode_pq(df, books)
    # query = a member of cluster 2; its 15 members dominate by inner product
    q = [float(x) for x in clustered[2 * 15 + 3]]
    top = pq_topk(codes, q, books, k=15).collect()
    ids = {r.vec_id for r in top}
    assert ids == set(range(2 * 15, 3 * 15))


def test_adc_scores_match_numpy(spark, clustered):
    df = _emb_df(spark, clustered)
    books = train_pq_codebooks(df, iters=2)
    codes_df = encode_pq(df, books)
    q = [float(x) for x in clustered[0]]
    lut = adc_lut(q, books)
    got = {
        r.vec_id: r.score
        for r in pq_topk(codes_df, q, books, k=60).collect()
    }
    codes = {r.vec_id: list(r.codes) for r in codes_df.collect()}
    for i, cs in codes.items():
        expect = 0.0
        for mi, c in enumerate(cs):
            expect = expect + lut[mi, c]
        assert got[i] == expect, i


def test_encode_plan_rowlocal_no_udf(spark, clustered):
    df = _emb_df(spark, clustered)
    books = train_pq_codebooks(df, iters=1)
    plan = (
        encode_pq(df, books)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan
