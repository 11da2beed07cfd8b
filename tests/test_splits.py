"""Leakage-safe splits: cluster co-assignment, determinism, edge math."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from language_identification_spark.operators.splits import (
    leakage_safe_split,
    split_edges,
)

FRACS = {"train": 0.9, "val": 0.05, "test": 0.05}


def _docs(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("lang"), (F.col("id") % 3).cast("string")).alias("lang"),
    )


def _comps(spark, rows):
    return spark.createDataFrame(rows, "node long, comp long")


def test_component_members_co_assigned(spark):
    docs = _docs(spark)
    # three clusters, members deliberately far apart in id space
    comps = _comps(spark, [(1, 1), (17, 1), (33, 1), (2, 2), (29, 2), (5, 5), (6, 5)])
    out = leakage_safe_split(docs, comps, FRACS).collect()
    by_id = {r.doc_id: r for r in out}
    assert len(out) == 40
    for members in ([1, 17, 33], [2, 29], [5, 6]):
        splits = {by_id[m].split for m in members}
        keys = {by_id[m].split_key for m in members}
        assert len(splits) == 1, members
        assert keys == {min(members) if min(members) != 5 else 5}


def test_singletons_hash_own_id(spark):
    docs = _docs(spark)
    empty = _comps(spark, [])
    out = {r.doc_id: r for r in leakage_safe_split(docs, empty, FRACS).collect()}
    assert all(r.split_key == d for d, r in out.items())


def test_deterministic_across_partitionings(spark):
    docs = _docs(spark)
    comps = _comps(spark, [(1, 1), (17, 1)])
    a = sorted(map(tuple, leakage_safe_split(docs, comps, FRACS).collect()))
    b = sorted(
        map(
            tuple,
            leakage_safe_split(
                docs.repartition(5), comps.repartition(3), FRACS
            ).collect(),
        )
    )
    assert a == b


def test_all_named_splits_and_edges():
    edges = split_edges(FRACS)
    assert edges == [("train", 9000), ("val", 9500), ("test", 10000)]


def test_fracs_must_sum_to_one():
    with pytest.raises(ValueError, match="sum"):
        split_edges({"train": 0.9, "val": 0.05})
    with pytest.raises(ValueError, match="non-positive"):
        split_edges({"train": 1.0, "val": 0.0})
    with pytest.raises(ValueError, match="at least one"):
        split_edges({})


def test_bucket_matches_duckdb_arithmetic(spark):
    import duckdb

    docs = _docs(spark, 25)
    out = leakage_safe_split(docs, _comps(spark, []), FRACS).collect()
    for r in out:
        (b,) = duckdb.sql(
            "SELECT CAST(('0x' || substr(sha256('split|' || "
            f"CAST({r.split_key} AS VARCHAR)), 1, 8)) AS BIGINT) % 10000"
        ).fetchone()
        assert b == r.bucket
