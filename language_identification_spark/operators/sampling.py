"""Deterministic stratified sampling — pure Catalyst, zero shuffle.

Training-data pipelines rebalance corpora by down-sampling head strata
(e.g. keep 35% of English but 100% of German).  Doing this with
``df.sample`` is non-reproducible across retries and cannot be mirrored
by an external checker; doing it with a hash-bucket filter is exactly
reproducible, embarrassingly parallel, and SQL-expressible, so the same
row set is selected on every run, on any cluster size, and by any
engine that can compute sha256.

Reference parity: the reference engine has no sampling stage (it
processes every input file); this operator is part of the
LLM-training-data extension surface, same tier as the dedup family.

Scale shape (100 TB lens): the sample is a single ``Filter`` over the
scan — no Exchange, no UDF, no driver participation.  Catalyst pushes
the stratum CASE and the hash comparison into the scan stage, so the
operator costs one pass over the data and prunes rows before anything
downstream shuffles.  The bucket hash uses sha256 rather than a
cheaper engine-local hash on purpose: Spark's ``xxhash64``/``hash``
are not portable to other engines, and sample *membership* must be
auditable off-cluster (the DuckDB oracle recomputes it bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# buckets per unit of sampling rate: rates are quantized to 1/N_BUCKETS
N_BUCKETS = 10_000


def sample_bucket_col(key: Column, salt: str, n_buckets: int = N_BUCKETS) -> Column:
    """Deterministic bucket in ``[0, n_buckets)`` from a row key.

    sha256 over ``"<salt>|<key>"``, first 8 hex chars as an integer,
    mod ``n_buckets`` — engine-portable (DuckDB: ``CAST(('0x' ||
    substr(sha256(s),1,8)) AS BIGINT) % n``) and uniform enough that a
    rate-r filter keeps r·n ± O(√n) of any stratum.  The salt decouples
    independent samples drawn from the same table: changing it redraws
    membership wholesale instead of nesting one sample inside another.
    """
    h = F.sha2(F.encode(F.concat_ws("|", F.lit(salt), key.cast("string")), "UTF-8"), 256)
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_buckets).alias(
        "sample_bucket"
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "stratified",
) -> DataFrame:
    """Keep each row iff its deterministic bucket falls under its
    stratum's rate.

    ``rates`` maps stratum value → keep rate in [0, 1]; strata not
    listed use ``default_rate``.  Rates are quantized to
    ``1/N_BUCKETS`` (0.01%).  NULL strata take the default
    rate.  The rate lookup is folded into a CASE expression (strata
    maps are small — languages, sources, quality tiers — never
    data-sized), so the whole operator stays inside whole-stage
    codegen with no broadcast and no shuffle.
    """
    for stratum, rate in rates.items():
        if not 0.0 <= rate <= 1.0:
            raise ValueError(f"rate for stratum {stratum!r} must be in [0,1], got {rate}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0,1], got {default_rate}")

    threshold = F.lit(int(round(default_rate * N_BUCKETS)))
    # sorted for a deterministic expression tree (stable plans diff cleanly)
    for stratum, rate in sorted(rates.items()):
        threshold = F.when(
            F.col(strata_col) == stratum, F.lit(int(round(rate * N_BUCKETS)))
        ).otherwise(threshold)
    bucket = sample_bucket_col(F.col(key_col), salt)
    return df.filter(bucket < threshold)
