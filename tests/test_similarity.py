"""Similarity search: brute-force exactness vs numpy, IVF/LSH sanity."""

from __future__ import annotations

import numpy as np
import pytest

from language_identification_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    lsh_topk,
)

DIM = 64


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(99)
    mat = rng.standard_normal((200, DIM)).astype(np.float32)
    rows = [(int(i), [float(x) for x in mat[i]]) for i in range(len(mat))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, mat


def _numpy_topk(mat, q, k):
    cos = (mat.astype(np.float64) @ q) / (
        np.linalg.norm(mat.astype(np.float64), axis=1) * np.linalg.norm(q)
    )
    order = np.lexsort((np.arange(len(mat)), -cos))
    return [int(i) for i in order[:k]]


def test_bruteforce_matches_numpy(emb):
    df, mat = emb
    q = list(np.random.default_rng(5).standard_normal(DIM))
    got = [r.vec_id for r in cosine_topk(df, q, k=10).collect()]
    assert got == _numpy_topk(mat, np.asarray(q), 10)


def test_ivf_recall_reasonable(emb):
    df, mat = emb
    q = list(np.random.default_rng(5).standard_normal(DIM))
    exact = set(_numpy_topk(mat, np.asarray(q), 10))
    approx = {r.vec_id for r in ivf_topk(df, q, k=10).collect()}
    assert len(exact & approx) >= 4  # isotropic data: modest but real recall


def test_cosine_dup_pairs(spark):
    from language_identification_spark.operators.similarity import cosine_dup_pairs

    rng = np.random.default_rng(11)
    base = rng.standard_normal((5, DIM)).astype(np.float32)
    rows = []
    for i in range(5):
        rows.append((i * 2, [float(x) for x in base[i]]))
        near = base[i] + rng.standard_normal(DIM).astype(np.float32) * 0.02
        rows.append((i * 2 + 1, [float(x) for x in near]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.id_a, r.id_b): r.cosine for r in cosine_dup_pairs(df, 0.9).collect()}
    # every constructed near-dup pair found, nothing else
    assert set(got) == {(i * 2, i * 2 + 1) for i in range(5)}
    assert all(c >= 0.99 for c in got.values())


def test_lsh_returns_subset_ranked(emb):
    df, mat = emb
    q = list(np.random.default_rng(5).standard_normal(DIM))
    rows = lsh_topk(df, q, k=10).collect()
    cosines = [r.cosine for r in rows]
    assert cosines == sorted(cosines, reverse=True)


def test_indexed_probes_match_scan_paths(spark, emb, tmp_path):
    # write-side index: identical results to the index-free paths, and the
    # probe plans prune partitions at the source (VERDICT r01 #3 / top-next 5)
    from language_identification_spark.operators.similarity import (
        build_ann_index,
        ivf_topk_indexed,
        lsh_topk_indexed,
    )

    df, mat = emb
    rng = np.random.default_rng(7)
    q = [float(x) for x in rng.standard_normal(DIM)]
    idx_dir = str(tmp_path / "ann_index")
    build_ann_index(df, idx_dir)

    scan_ivf = [(r.vec_id, r.cosine) for r in ivf_topk(df, q, k=10).collect()]
    idx_ivf_df = ivf_topk_indexed(spark, idx_dir, q, k=10)
    idx_ivf = [(r.vec_id, r.cosine) for r in idx_ivf_df.collect()]
    assert idx_ivf == scan_ivf

    scan_lsh = [(r.vec_id, r.cosine) for r in lsh_topk(df, q, k=10).collect()]
    idx_lsh_df = lsh_topk_indexed(spark, idx_dir, q, k=10)
    idx_lsh = [(r.vec_id, r.cosine) for r in idx_lsh_df.collect()]
    assert idx_lsh == scan_lsh

    # plan pins: partition pruning on the probe columns, zero Python stages
    ivf_plan = idx_ivf_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in ivf_plan and "ivf_cell" in ivf_plan.split(
        "PartitionFilters", 1
    )[1][:200], ivf_plan
    assert "ArrowEvalPython" not in ivf_plan
    # lsh probe filters push down to the parquet scan, where the per-cell
    # sort on (lsh_prefix, lsh_bucket) turns them into row-group skips
    lsh_plan = idx_lsh_df._jdf.queryExecution().executedPlan().toString()
    assert "lsh_prefix" in lsh_plan.split("PushedFilters", 1)[1][:300], lsh_plan
    assert "lsh_bucket" in lsh_plan.split("PushedFilters", 1)[1][:300], lsh_plan
    assert "ArrowEvalPython" not in lsh_plan


def test_trained_ivf_centroids_improve_recall_on_clustered_data(
    spark, tmp_path, monkeypatch
):
    """Spherical k-means quantizer: on clustered data (the realistic
    embedding regime) trained cells give better recall@10 than the
    data-independent random centroids, probing the same number of cells."""
    from language_identification_spark.operators import similarity
    from language_identification_spark.operators.similarity import (
        build_ann_index,
        ivf_topk_indexed,
        train_ivf_centroids,
    )

    # 2 of the 8 trained cells (the probe list is built on the driver)
    monkeypatch.setattr(similarity, "IVF_NPROBE", 2)

    rng = np.random.default_rng(123)
    centers = rng.standard_normal((8, DIM)) * 4.0
    mat = np.vstack(
        [c + rng.standard_normal((50, DIM)) for c in centers]
    ).astype(np.float32)
    rows = [(int(i), [float(x) for x in mat[i]]) for i in range(len(mat))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cent = train_ivf_centroids(df, k=8, iters=4)
    assert cent.shape == (8, DIM)
    assert np.allclose(np.linalg.norm(cent, axis=1), 1.0)

    idx_default = str(tmp_path / "idx_default")
    idx_trained = str(tmp_path / "idx_trained")
    build_ann_index(df, idx_default)
    build_ann_index(df, idx_trained, centroids=cent)

    queries = [mat[i * 50] + 0.1 for i in range(8)]
    rec_default = rec_trained = 0
    for q in queries:
        q = [float(x) for x in q]
        truth = set(_numpy_topk(mat, np.asarray(q, dtype=np.float64), 10))
        got_d = {
            r.vec_id
            for r in ivf_topk_indexed(spark, idx_default, q, k=10).collect()
        }
        got_t = {
            r.vec_id
            for r in ivf_topk_indexed(spark, idx_trained, q, k=10).collect()
        }
        rec_default += len(got_d & truth)
        rec_trained += len(got_t & truth)
    # trained cells align with the true clusters: near-perfect recall at
    # nprobe=2/8; random centroids shred clusters across cells
    assert rec_trained >= rec_default
    assert rec_trained >= 70  # >= 87% of 80

def test_indexed_probe_requires_centroid_sidecar(spark, emb, tmp_path):
    # ADVICE r03: probing a trained index with the default quantizer (because
    # the sidecar is unreadable) would silently return degraded results —
    # absence must raise, never fall back.
    import os

    from language_identification_spark.operators.similarity import (
        _CENTROID_FILE,
        build_ann_index,
        ivf_topk_indexed,
    )

    df, _ = emb
    idx_dir = str(tmp_path / "ann_index_nosidecar")
    build_ann_index(df, idx_dir)
    os.remove(os.path.join(idx_dir, _CENTROID_FILE))
    q = [0.1] * DIM
    with pytest.raises(FileNotFoundError, match="centroid sidecar"):
        ivf_topk_indexed(spark, idx_dir, q, k=5)


def test_semantic_dedup_keeps_one_per_clique_plus_singletons(spark):
    from language_identification_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(31)
    rows = []
    # 5 cliques of 4 near-identical vectors (tiny jitter, cosine ~1) with
    # ids interleaved so the representative is not trivially contiguous,
    # plus 20 well-separated singletons (isotropic randoms are ~orthogonal
    # at dim 64, far below the 0.95 threshold)
    expected_kept = set()
    vid = 0
    clique_ids = []
    for c in range(5):
        base = rng.standard_normal(DIM)
        ids = []
        for _ in range(4):
            v = base + rng.standard_normal(DIM) * 1e-3
            rows.append((vid, [float(x) for x in v]))
            ids.append(vid)
            vid += 3  # non-contiguous ids
        clique_ids.append(ids)
        expected_kept.add(min(ids))
    for _ in range(20):
        v = rng.standard_normal(DIM)
        rows.append((vid, [float(x) for x in v]))
        expected_kept.add(vid)
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = {r["vec_id"] for r in semantic_dedup(df, threshold=0.95).collect()}
    assert kept == expected_kept
    # all original columns survive
    assert semantic_dedup(df, threshold=0.95).columns == ["vec_id", "embedding"]
