"""Product quantization (PQ) — memory-bounded ANN for 10^12 embeddings.

IVF (``similarity.py``) prunes WHICH vectors a probe scans; PQ bounds the
BYTES each vector costs.  A dim-64 float32 embedding is 256 bytes; its PQ
code under M=8 subspaces × K=16 centroids is 8 small ints (one byte each
packed — here kept as an int array for engine portability).  At 10^12
vectors the full-precision table is ~256 TB while the code table is ~8 TB
— the difference between "needs its own cluster" and "fits next to the
corpus".  This is the Jégou et al. (TPAMI'11) asymmetric-distance scheme:

- **Train** (``train_pq_codebooks``): independent k-means per subspace.
  Per Lloyd iteration: one *pure-Catalyst* assignment pass (squared-L2 to
  each of the K centroid literals, explicit left-fold summation order) and
  ONE groupBy whose result is M×K×(dim/M) scalars — row data never reaches
  the driver, identical contract to ``train_ivf_centroids``.  Per-iteration
  9-decimal centroid rounding makes the training trajectory engine- and
  partitioning-independent (same rationale as the IVF quantizer).
- **Encode** (``encode_pq``): per subspace, argmin of the K distances with
  lowest-index tie-break — whole-stage codegen, zero UDF, zero Exchange.
  Distances are explicit ``((d1+d2)+d3)...`` left folds so the DuckDB
  oracle reproduces them bit-for-bit (IEEE doubles, same order).
- **Probe** (``pq_topk``): asymmetric distance computation.  The query
  builds an M×K lookup table of subvector dot products (driver-side, 128
  floats, 9-decimal rounded), and each row's score is M ``element_at``
  lookups summed in fixed order — a row-local projection over the CODE
  table; the original vectors are never read at probe time.  Top-k by
  (score desc, id) for deterministic ties.

Scale shape: training shuffles M×K×subdim scalars per iteration; encode is
one projection writing ints; probes scan only codes (combine with the IVF
partitioning of ``build_ann_index`` to prune cells AND pay code-sized
bytes per survivor).  Recall is the standard PQ trade-off — the
brute-force ``cosine_topk`` remains the exact baseline.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType

from ..pyworker import forget_zip_importers

PQ_M = 8  # subspaces
PQ_K = 16  # centroids per subspace
PQ_ITERS = 3

_prng = np.random.default_rng(778)
# fixed-seed init, frozen at import: (M, K, subdim) for the default dim-64
_PQ_INIT = _prng.standard_normal((PQ_M, PQ_K, 64 // PQ_M))


def _dists_col(sub: Column, cents_m: np.ndarray) -> Column:
    """Array of K squared-L2 distances from a subvector to subspace
    centroids, in centroid order.

    ONE ``transform`` over the K×subdim centroid-matrix literal, each
    element an ``aggregate(zip_with(sub, cv, (x,c) -> (x-c)*(x-c)), 0.0,
    +)`` left fold in array order starting at 0.0 — bit-identical to the
    oracle's explicit ``((t0+t1)+t2)…`` chain (``0.0 + t0 == t0`` exactly;
    squared terms are never -0.0/NaN).  Expressed as higher-order
    functions rather than M×K×subdim explicit terms on purpose: the
    explicit expansion cost ~8 s of whole-stage-codegen COMPILATION per
    stage at M=8/K=16 (janino on a ~4k-node tree), and even K separate
    HOF folds cost seconds of Catalyst analysis; one shared lambda per
    subspace plans instantly and evaluates interpreted — microseconds per
    row at 1024 multiplies per vector."""
    mat = F.array(
        *[
            F.array(*[F.lit(float(v)) for v in row])
            for row in cents_m
        ]
    )
    return F.transform(
        mat,
        lambda cv: F.aggregate(
            F.zip_with(
                sub,
                cv,
                lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
            ),
            F.lit(0.0),
            lambda a, t: a + t,
        ),
    )


def _code_col(vec: Column, books: np.ndarray, m: int) -> Column:
    """0-based argmin centroid index for subspace ``m``, lowest index on
    ties: ``array_position(dists, array_min(dists)) - 1`` — linear-sized
    expression (a when-chain fold would duplicate subtrees exponentially)
    and the exact shape the DuckDB oracle uses (``list_position`` /
    ``list_min`` are likewise first-occurrence)."""
    subdim = books.shape[2]
    sub = F.slice(vec, m * subdim + 1, subdim)
    dists = _dists_col(sub, books[m])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def encode_pq(
    df: DataFrame,
    books: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``(id_col, codes array<int>)`` — pure codegen, zero UDF/Exchange."""
    vec = F.col(vec_col)
    codes = F.array(
        *[_code_col(vec, books, m) for m in range(books.shape[0])]
    )
    return df.select(F.col(id_col), codes.alias("codes"))


def _pq_assign_udf(books: np.ndarray):
    """Training-time assignment: vectorized Arrow batches (the
    ``train_ivf_centroids`` contract — codebooks closure-shipped,
    M×K×subdim floats).  The squared-L2 accumulates PER DIMENSION in the
    same left-fold order as the Catalyst ``_sq_dist`` and the oracle's
    numpy retrainer, so all three assign bit-identically; first-min
    ``argmin`` matches ``array_position(…, array_min(…))``.

    Why not the Catalyst encode during training: the M×K explicit-term
    expression costs whole-stage-codegen COMPILATION seconds per stage,
    paid twice per Lloyd iteration — measured 24 s of a 26 s training
    wall at bench scale.  The Arrow path plans instantly and runs the
    identical arithmetic."""
    B = np.ascontiguousarray(books, dtype=np.float64)

    def _assign(vecs: pd.Series) -> pd.Series:
        forget_zip_importers()
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        m, k, subdim = B.shape
        out = np.empty((len(mat), m), dtype=np.int32)
        for i in range(m):
            acc = np.zeros((len(mat), k))
            for j in range(subdim):
                d = mat[:, i * subdim + j, None] - B[i, None, :, j]
                acc = acc + d * d
            out[:, i] = acc.argmin(axis=1)
        return pd.Series(list(out), index=vecs.index)

    return pandas_udf(_assign, ArrayType(IntegerType()))


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    iters: int = PQ_ITERS,
) -> np.ndarray:
    """Per-subspace Lloyd k-means over DataFrame ops; returns
    ``(PQ_M, PQ_K, d / PQ_M)``.

    Deterministic: fixed-seed init (module constant), Arrow-vectorized
    assignment bit-matching the Catalyst encode (see ``_pq_assign_udf``),
    per-cell ``F.avg`` update rounded to 9 decimals per iteration, empty
    cells keep their previous centroid.  Per iteration the shuffle carries
    M×K×subdim aggregated scalars — row data never reaches the driver.
    """
    dim = len(df.select(vec_col).first()[0])
    subdim = dim // PQ_M
    if PQ_M * subdim != dim:
        raise ValueError(f"dim {dim} not divisible by PQ_M={PQ_M}")
    books = np.round(_PQ_INIT[:PQ_M, :PQ_K, :subdim].copy(), 9)
    for _ in range(iters):
        assign = _pq_assign_udf(books)
        enc = df.select(
            assign(F.col(vec_col)).alias("codes"),
            F.col(vec_col).alias("__v"),
        )
        stats = (
            enc.select(
                F.posexplode(F.col("__v")).alias("pos", "val"),
                F.col("codes"),
            )
            .select(
                (F.col("pos") / subdim).cast("int").alias("m"),
                F.pmod(F.col("pos"), F.lit(subdim)).alias("j"),
                F.col("val").cast("double").alias("val"),
                F.col("codes"),
            )
            .withColumn("c", F.element_at(F.col("codes"), F.col("m") + 1))
            .groupBy("m", "c", "j")
            .agg(F.avg("val").alias("mean"))
            .collect()
        )
        new = books.copy()
        for r in stats:
            new[r["m"], r["c"], r["j"]] = r["mean"]
        books = np.round(new, 9)
    return books


def adc_lut(query: list[float], books: np.ndarray) -> np.ndarray:
    """M×K inner-product lookup table, 9-decimal rounded (engine-exact)."""
    q = np.asarray(query, dtype=np.float64)
    m, k, subdim = books.shape
    lut = np.empty((m, k))
    for i in range(m):
        lut[i] = books[i] @ q[i * subdim : (i + 1) * subdim]
    return np.round(lut, 9)


def pq_topk(
    codes_df: DataFrame,
    query: list[float],
    books: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over the CODE table only.

    ``score = sum_m LUT[m][code_m]`` (approximate inner product), summed
    in fixed subspace order; ties broken by id.  One row-local projection
    plus a TakeOrderedAndProject — no shuffle of vectors, which are never
    read.
    """
    lut = adc_lut(query, books)
    terms = [
        F.element_at(
            F.array(*[F.lit(float(x)) for x in lut[m]]),
            F.element_at(F.col("codes"), m + 1) + 1,
        )
        for m in range(lut.shape[0])
    ]
    score = terms[0]
    for t in terms[1:]:
        score = score + t
    return (
        codes_df.select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )
