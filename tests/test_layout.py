from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from language_identification_spark.sources.layout import (
    file_column_ranges,
    write_range_sorted,
)

N_ROWS = 4000


@pytest.fixture(scope="module")
def df(spark):
    # input arrives in random order — clustering must come from the
    # rewrite, not from accidental input order
    return (
        spark.range(N_ROWS)
        .select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 7).alias("v"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        .orderBy(F.rand(seed=7))
        .cache()
    )


def test_ranges_disjoint_and_lossless(spark, df, tmp_path):
    out = str(tmp_path / "ranged")
    write_range_sorted(df, out, ["doc_id"], n_ranges=8)
    ranges = file_column_ranges(out, "doc_id")
    assert len(ranges) == 8
    # pairwise disjoint, contiguous coverage of the full domain
    spans = sorted((lo, hi) for _, lo, hi in ranges)
    assert spans[0][0] == 0 and spans[-1][1] == N_ROWS - 1
    for (_, hi_prev), (lo, _) in zip(spans, spans[1:]):
        assert hi_prev < lo
    # lossless round trip
    back = spark.read.parquet(out)
    assert back.count() == N_ROWS
    assert back.select("doc_id").distinct().count() == N_ROWS
    assert back.filter(F.sha2(F.col("doc_id").cast("string"), 256) != F.col("payload")).count() == 0


def test_predicate_overlaps_one_file_and_pushes_down(spark, df, tmp_path):
    out = str(tmp_path / "ranged")
    write_range_sorted(df, out, ["doc_id"], n_ranges=8)
    ranges = file_column_ranges(out, "doc_id")
    # probe strictly inside the third range: exactly one file overlaps,
    # so a stats-pruning reader touches 1/8 of the table
    _, lo, hi = sorted(ranges, key=lambda r: r[1])[2]
    probe_lo, probe_hi = lo + 1, min(lo + 10, hi)
    overlapping = [
        f for f, flo, fhi in ranges if flo <= probe_hi and fhi >= probe_lo
    ]
    assert len(overlapping) == 1
    scan = spark.read.parquet(out).filter(
        (F.col("doc_id") >= probe_lo) & (F.col("doc_id") <= probe_hi)
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(doc_id" in plan and "LessThanOrEqual(doc_id" in plan
    assert "PushedFilters: [" in plan
    assert scan.count() == probe_hi - probe_lo + 1


def test_random_layout_control_has_full_span_files(spark, df, tmp_path):
    # negative control: without range clustering every file spans ~the
    # whole domain, so zone maps prune nothing
    out = str(tmp_path / "random")
    df.repartition(8).write.parquet(out)
    ranges = file_column_ranges(out, "doc_id")
    assert len(ranges) == 8
    assert all(hi - lo > N_ROWS // 2 for _, lo, hi in ranges)


def test_errors(spark, df, tmp_path):
    with pytest.raises(ValueError):
        write_range_sorted(df, str(tmp_path / "x"), [], n_ranges=4)
    with pytest.raises(ValueError):
        write_range_sorted(df, str(tmp_path / "x"), ["doc_id"], n_ranges=0)
