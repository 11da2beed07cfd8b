"""``spread_scan``: both gates, byte gate first."""

from __future__ import annotations

import pytest

from language_identification_spark import partitioning
from language_identification_spark.partitioning import spread_scan


@pytest.fixture(scope="module")
def one_file_scan(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("spread") / "src.parquet")
    spark.range(1000).coalesce(1).write.parquet(d)
    return spark.read.parquet(d)


def test_small_scan_left_alone_without_rdd_hop(one_file_scan, monkeypatch):
    def no_rdd(self):
        raise AssertionError("byte gate must decide before df.rdd")

    monkeypatch.setattr(type(one_file_scan), "rdd", property(no_rdd))
    out, did = spread_scan(one_file_scan)
    assert (out, did) == (one_file_scan, False)


def test_spread_branch(spark, one_file_scan, monkeypatch):
    monkeypatch.setattr(partitioning, "SPREAD_MULT", 2)
    monkeypatch.setattr(partitioning, "SPREAD_MIN_BYTES", 0)
    assert one_file_scan.rdd.getNumPartitions() == 1
    out, did = spread_scan(one_file_scan)
    assert did
    assert out.rdd.getNumPartitions() == 2 * spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in out.collect()) == list(range(1000))


def test_wide_scan_left_alone(spark, one_file_scan, monkeypatch):
    monkeypatch.setattr(partitioning, "SPREAD_MIN_BYTES", 0)
    wide = one_file_scan.repartition(spark.sparkContext.defaultParallelism)
    out, did = spread_scan(wide)
    assert (out, did) == (wide, False)
