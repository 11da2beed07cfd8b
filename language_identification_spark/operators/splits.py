"""Leakage-safe train/val/test splits — near-dup clusters never straddle.

A plain hash split assigns each document independently, so two near-copies
of the same file routinely land one in train and one in test — the classic
train/test-leakage bug that inflates every downstream eval.  The fix used
by serious corpus pipelines is to split by *duplicate cluster*, not by
document: every member of a near-dup component hashes through its
component id, so the whole cluster lands in one split; singletons hash
their own id as usual.

Determinism contract (same as ``sampling.stratified_sample``): buckets are
sha256-derived, so membership is exactly reproducible across runs, across
cluster sizes, and off-cluster by any engine that can compute sha256 — the
DuckDB oracle (``leakage_safe_split``) recomputes both the component map
(recursive-CTE transitive closure over the minhash pair SQL) and the
bucket arithmetic bit-for-bit.

Scale shape (100 TB lens): the component map holds one row per document
that appears in ANY near-dup pair — typically a few percent of the corpus
— and carries two longs, no content, so it is broadcast and the document
text stays put (assignment is a projection over ``doc_id`` — callers join
the split column back, or select ids per split, without ever shuffling
content).  Bucket edges are integers over ``N_BUCKETS``, so fractions are
quantized exactly the same way on every engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import N_BUCKETS, sample_bucket_col


SPLIT_SALT = "split"  # the bucket hash's salt: "split|<split_key>"


def split_edges(fracs: dict[str, float]) -> list[tuple[str, int]]:
    """``[(name, exclusive_upper_bucket)...]`` in dict order.

    Fractions are quantized to ``round(cum * N_BUCKETS)`` and must sum to
    exactly 1.0 after quantization — a silent remainder bucket would be a
    split nobody asked for.
    """
    if not fracs:
        raise ValueError("fracs must name at least one split")
    edges: list[tuple[str, int]] = []
    cum = 0.0
    for name, frac in fracs.items():
        if frac <= 0:
            raise ValueError(f"split {name!r} has non-positive fraction {frac}")
        cum += frac
        edges.append((name, int(round(cum * N_BUCKETS))))
    if edges[-1][1] != N_BUCKETS:
        raise ValueError(
            f"fractions sum to {cum}, not 1.0 (quantized upper edge "
            f"{edges[-1][1]} != {N_BUCKETS})"
        )
    return edges


def leakage_safe_split(
    docs: DataFrame,
    components: DataFrame,
    fracs: dict[str, float],
    id_col: str = "doc_id",
    comp_node_col: str = "node",
    comp_col: str = "comp",
) -> DataFrame:
    """Assign every doc a split; near-dup components are co-assigned.

    ``components`` is the ``connected_components_star`` output (one row
    per doc that appears in any dup pair, mapping it to its component's min
    id); it is broadcast.  Docs absent from it are singletons and hash
    their own id.  Returns ``(id_col, split_key, bucket, split)`` —
    ``split_key`` published so an auditor can re-derive the assignment
    off-cluster.
    """
    edges = split_edges(fracs)
    comp = F.broadcast(
        components.select(
            F.col(comp_node_col).alias("__node"),
            F.col(comp_col).alias("__comp"),
        )
    )
    keyed = docs.select(F.col(id_col)).join(
        comp, F.col(id_col) == F.col("__node"), "left"
    )
    split_key = F.coalesce(F.col("__comp"), F.col(id_col)).cast("long")
    bucket = sample_bucket_col(split_key, SPLIT_SALT)
    assign = F.lit(edges[-1][0])
    for name, upper in reversed(edges[:-1]):
        assign = F.when(F.col("bucket") < upper, F.lit(name)).otherwise(assign)
    return (
        keyed.select(
            F.col(id_col),
            split_key.alias("split_key"),
            bucket.alias("bucket"),
        )
        .withColumn("split", assign)
    )
