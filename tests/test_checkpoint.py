"""Checkpoint/resume fixture (FIXTURES.md F5): kill after k buckets, resume,
require byte-identical output to an uninterrupted run; lineage row per
bucket; salting breaks the mega-repo skew."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from language_identification_spark.checkpoint import (
    bucket_col,
    read_metrics,
    run_checkpointed,
)
from language_identification_spark.datagen.corpus import generate_source_files
from language_identification_spark.plans.pipeline import quality_filter
from language_identification_spark.sources.tableio import ParquetTableIO

N_BUCKETS = 4
# jobs of a pass that belong to no bucket: re-reading the staged table and
# the results union (parquet schema inference), measured on Spark 4.1
JOBS_OUTSIDE_BUCKETS = 2


@pytest.fixture(scope="module")
def src(spark):
    pdf, _ = generate_source_files(400, seed=42)
    return spark.createDataFrame(pdf)


def _sorted_rows(df):
    cols = sorted(df.columns)
    return [tuple(str(x) for x in r) for r in df.select(*cols).orderBy("commit").collect()]


@pytest.fixture(scope="module")
def full_rows(spark, src, tmp_path_factory):
    """Rows of one uninterrupted run, the reference every resume must equal."""
    root = str(tmp_path_factory.mktemp("full"))
    return _sorted_rows(run_checkpointed(spark, src, root, quality_filter, N_BUCKETS))


def test_resume_equals_single_run(spark, src, tmp_path, full_rows):
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(
            spark, src, str(tmp_path / "resumed"), quality_filter, N_BUCKETS,
            fail_after=2,
        )
    # resume: same out_root, no injection
    resumed = run_checkpointed(
        spark, src, str(tmp_path / "resumed"), quality_filter, N_BUCKETS
    )
    assert _sorted_rows(resumed) == full_rows


def test_resume_skips_completed_buckets(spark, src, tmp_path):
    root = str(tmp_path / "skip")
    with pytest.raises(RuntimeError):
        run_checkpointed(
            spark, src, root, quality_filter, N_BUCKETS, fail_after=3
        )
    m1 = read_metrics(spark, root)
    assert m1.count() == 3
    run_checkpointed(spark, src, root, quality_filter, N_BUCKETS)
    m2 = read_metrics(spark, root)
    assert m2.count() == N_BUCKETS  # only the missing bucket was added
    assert m2.select("bucket").distinct().count() == N_BUCKETS


def test_lineage_metrics_content(spark, src, tmp_path):
    root = str(tmp_path / "metrics")
    out = run_checkpointed(spark, src, root, quality_filter, N_BUCKETS)
    # one commit per bucket: the metrics row rides in the results manifest
    assert not os.path.exists(os.path.join(root, "metrics"))
    m_df = read_metrics(spark, root)
    assert m_df.schema.simpleString() == (
        "struct<rows_in:bigint,rows_kept:bigint,rows_dropped:bigint,"
        "n_redactions:bigint,bucket:int,wall_ms:int,"
        "dropped_by_reason:map<string,bigint>>"
    )
    m = m_df.collect()
    assert [r.bucket for r in m] == list(range(N_BUCKETS))
    assert sum(r.rows_in for r in m) == src.count()
    for r in m:
        assert r.rows_in == r.rows_kept + r.rows_dropped
        assert r.wall_ms > 0
        total_in_map = sum(r.dropped_by_reason.values())
        assert total_in_map == r.rows_in
    assert out.count() == src.count()
    # each row equals the counts recomputed from the committed output
    b_out = out.withColumn("b", bucket_col(N_BUCKETS)).withColumn(
        "reason", F.coalesce("drop_reason", F.lit("keep"))
    )
    want = {
        r.b: (r.rows_in, r.rows_kept, r.n_redactions)
        for r in b_out.groupBy("b").agg(
            F.count(F.lit(1)).alias("rows_in"),
            F.sum(F.col("keep").cast("long")).alias("rows_kept"),
            F.sum("n_redactions").alias("n_redactions"),
        ).collect()
    }
    by_reason = {}
    for r in b_out.groupBy("b", "reason").count().collect():
        by_reason.setdefault(r.b, {})[r.reason] = r["count"]
    for r in m:
        assert (r.rows_in, r.rows_kept, r.n_redactions) == want[r.bucket]
        assert r.dropped_by_reason == by_reason[r.bucket]


def test_crash_inside_commit_window_reprocesses_bucket(spark, src, tmp_path):
    # ADVICE r01: a crash after a bucket's data files land but before its
    # manifest swap must not lose the bucket's metrics.  The data dir stays
    # an invisible orphan, the bucket is not done, and the resume redoes it.
    root = str(tmp_path / "window")
    with pytest.raises(RuntimeError, match="inside commit window"):
        run_checkpointed(
            spark, src, root, quality_filter, N_BUCKETS, fail_between=2
        )
    res = ParquetTableIO(f"{root}/results")
    assert len(res.snapshots()) == 1  # only the first commit
    landed = [d for d in os.listdir(res.table_path) if d.startswith("snap-")]
    assert len(landed) >= 2  # the crashed bucket's data files did land
    out = run_checkpointed(spark, src, root, quality_filter, N_BUCKETS)
    # every bucket is committed exactly once, each with its metrics row
    metas = res.committed_meta()
    assert sorted(m["bucket"] for m in metas) == list(range(N_BUCKETS))
    assert all("metrics" in m for m in metas)
    assert out.count() == src.count()


def test_old_two_table_root_resumes_to_same_rows(spark, src, tmp_path, full_rows):
    # roots written when a bucket committed twice (results, then a row in a
    # separate metrics table) carry no metrics in the results manifest; the
    # resume prunes those snapshots, redoes their buckets and ends with the
    # same rows as an uninterrupted run
    root = str(tmp_path / "old")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(
            spark, src, root, quality_filter, N_BUCKETS, fail_after=2
        )
    res = ParquetTableIO(f"{root}/results")
    old_metrics = ParquetTableIO(f"{root}/metrics")
    for m in read_metrics(spark, root).collect():
        old_metrics.append(spark.createDataFrame([m]), {"bucket": m.bucket})
    manifest = os.path.join(res.table_path, "_manifest.json")
    with open(manifest) as f:
        snaps = json.load(f)["snapshots"]
    with open(manifest, "w") as f:
        json.dump({"snapshots": [
            {**s, "meta": {"bucket": s["meta"]["bucket"]}} for s in snaps
        ]}, f)
    resumed = run_checkpointed(spark, src, root, quality_filter, N_BUCKETS)
    assert _sorted_rows(resumed) == full_rows
    assert sorted(m["bucket"] for m in res.committed_meta()) == list(
        range(N_BUCKETS)
    )
    assert read_metrics(spark, root).count() == N_BUCKETS


def test_bucket_pass_submits_one_job_per_bucket(spark, src, tmp_path):
    # the per-bucket cost this runner pays: one Spark job (the results
    # write, metrics observed in it), no metrics append, no re-read count.
    # Bucket threads inherit the caller's job group, so all jobs count here.
    from language_identification_spark.checkpoint import stage_source

    root = str(tmp_path / "jobs")
    stage_source(spark, src, f"{root}/staging", N_BUCKETS)
    sc = spark.sparkContext
    sc.setJobGroup("ckpt-job-pin", "job-count pin")
    try:
        run_checkpointed(spark, src, root, quality_filter, N_BUCKETS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("ckpt-job-pin"))
    assert n_jobs <= N_BUCKETS + JOBS_OUTSIDE_BUCKETS, n_jobs


def test_bucket_reads_prune_at_source(spark, src, tmp_path):
    # VERDICT r01 "what's wrong" #2: per-bucket reads must carry a partition
    # filter on the staged table, not re-scan + re-hash the raw source.
    from language_identification_spark.checkpoint import stage_source

    staged = stage_source(spark, src, str(tmp_path / "staging"), N_BUCKETS)
    part = staged.filter(F.col("_bucket") == 2).drop("_bucket")
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(_bucket" in plan, plan
    assert "(_bucket" in plan.split("PartitionFilters", 1)[1][:120]
    # pruning is real: only 1/N of the files are read
    n_rows = part.count()
    assert 0 < n_rows < src.count()


def test_bucket_timeout_watchdog(spark, src, tmp_path):
    # W6: a stuck bucket is cancelled and surfaced as BucketTimeout
    import time as _time

    from language_identification_spark.checkpoint import BucketTimeout

    def slow_stage(df):
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("string")
        def sleepy(s):
            _time.sleep(20)
            return s

        return df.select(sleepy(F.col("repo")).alias("repo"))

    with pytest.raises(BucketTimeout, match="exceeded"):
        run_checkpointed(
            spark, src, str(tmp_path / "wd"), slow_stage, 2,
            bucket_timeout_sec=3.0,
        )


def test_salting_breaks_mega_repo_skew(spark, src):
    # mega-repo holds ~30% of rows; salted buckets must stay balanced
    sizes = (
        src.withColumn("b", bucket_col(16))
        .groupBy("b")
        .count()
        .collect()
    )
    counts = sorted(r["count"] for r in sizes)
    median = counts[len(counts) // 2]
    assert max(counts) / median < 2.0, counts
    # contrast: keying by repo alone would put 30% in one bucket
    by_repo = (
        src.groupBy("repo").count().orderBy(F.desc("count")).first()["count"]
    )
    assert by_repo > src.count() * 0.25


def test_stage_source_rejects_bucket_count_change(spark, src, tmp_path):
    """Resuming a staging table with a different n_buckets would silently
    drop rows staged into partitions >= n_buckets (ADVICE r02) — it must
    raise instead; same n_buckets resumes fine; a changed SOURCE raises too."""
    import pytest as _pytest

    from language_identification_spark.checkpoint import stage_source

    root = str(tmp_path / "staging")
    stage_source(spark, src, root, n_buckets=4)
    # same source + same buckets: idempotent resume
    assert stage_source(spark, src, root, n_buckets=4).count() == src.count()
    with _pytest.raises(ValueError, match="staging table"):
        stage_source(spark, src, root, n_buckets=2)
    with _pytest.raises(ValueError, match="staging table"):
        stage_source(spark, src.limit(3), root, n_buckets=4)


def test_stage_source_restages_when_meta_missing(spark, src, tmp_path):
    # ADVICE r03: a pre-metadata staging table (or a crash between the
    # parquet _SUCCESS and the meta write) must re-stage with a warning,
    # not fail the resume.
    import os

    from language_identification_spark.checkpoint import stage_source

    root = str(tmp_path / "premeta")
    stage_source(spark, src, root, N_BUCKETS)
    os.remove(os.path.join(root, "_staging_meta.json"))
    staged = stage_source(spark, src, root, N_BUCKETS)
    assert staged.count() == src.count()
    assert os.path.exists(os.path.join(root, "_staging_meta.json"))


def test_stage_source_refuses_unverifiable_restage_with_committed_work(
    spark, src, tmp_path
):
    # ADVICE r04: if buckets were already committed from this staging dir
    # and its provenance becomes unverifiable (meta lost / older scheme),
    # re-staging could mix results from two different sources — the resume
    # must raise, not warn.  Without committed work the warn+re-stage path
    # above still applies.
    import os

    import pytest as _pytest

    from language_identification_spark.checkpoint import stage_source

    root = str(tmp_path / "committed")
    stage_source(spark, src, root, N_BUCKETS)
    os.remove(os.path.join(root, "_staging_meta.json"))
    with _pytest.raises(ValueError, match="committed bucket results"):
        stage_source(spark, src, root, N_BUCKETS, has_committed_work=True)


def test_resume_after_meta_loss_with_committed_buckets_raises(spark, src, tmp_path):
    # end-to-end: run_checkpointed with an injected crash leaves committed
    # buckets; losing the staging meta then makes the resume refuse instead
    # of silently mixing old- and new-staging buckets (ADVICE r04)
    import os

    import pytest as _pytest

    from language_identification_spark.checkpoint import run_checkpointed

    out_root = str(tmp_path / "run")
    with _pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(
            spark, src, out_root, lambda df: df,
            n_buckets=N_BUCKETS, fail_after=2,
        )
    os.remove(os.path.join(out_root, "staging", "_staging_meta.json"))
    with _pytest.raises(ValueError, match="committed bucket results"):
        run_checkpointed(
            spark, src, out_root, lambda df: df, n_buckets=N_BUCKETS
        )


def test_resume_after_staging_loss_with_committed_buckets_raises(
    spark, src, tmp_path
):
    # round-5 review: the unverifiable-restage guard must also fire when
    # the staging TABLE itself is gone (deleted to reclaim space), not only
    # when the meta file is — otherwise the exact silent-mix hazard it
    # targets survives on that path.
    import shutil

    import pytest as _pytest

    from language_identification_spark.checkpoint import run_checkpointed

    out_root = str(tmp_path / "run_noslot")
    with _pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(
            spark, src, out_root, lambda df: df,
            n_buckets=N_BUCKETS, fail_after=2,
        )
    shutil.rmtree(f"{out_root}/staging")
    with _pytest.raises(ValueError, match="no complete staging table"):
        run_checkpointed(
            spark, src, out_root, lambda df: df, n_buckets=N_BUCKETS
        )


def test_stage_source_detects_regenerated_source_files(spark, tmp_path):
    # ADVICE r03: a source parquet dir regenerated under the SAME path has
    # the same schema + plan text; the fingerprint must still change (file
    # names/sizes/mtimes) so resume doesn't silently reuse stale staged data.
    import pytest as _pytest

    from language_identification_spark.checkpoint import stage_source
    from language_identification_spark.datagen.corpus import (
        generate_source_files,
    )

    src_dir = str(tmp_path / "srcpq")
    pdf, _ = generate_source_files(50, seed=1)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src_dir)
    root = str(tmp_path / "regen")
    stage_source(spark, spark.read.parquet(src_dir), root, N_BUCKETS)
    # same source, unchanged: reuses without complaint
    assert (
        stage_source(spark, spark.read.parquet(src_dir), root, N_BUCKETS)
        .count() == 50
    )
    pdf2, _ = generate_source_files(50, seed=2)
    spark.createDataFrame(pdf2).write.mode("overwrite").parquet(src_dir)
    with _pytest.raises(ValueError, match="staging table"):
        stage_source(spark, spark.read.parquet(src_dir), root, N_BUCKETS)


def test_stage_source_restages_on_older_fingerprint_scheme(spark, src, tmp_path):
    # round-4 review: a table staged under an older fingerprint scheme must
    # re-stage with a warning, not raise a spurious source-changed error.
    import json as _json
    import os

    from language_identification_spark.checkpoint import stage_source

    root = str(tmp_path / "oldscheme")
    stage_source(spark, src, root, N_BUCKETS)
    meta_path = os.path.join(root, "_staging_meta.json")
    with open(meta_path) as f:
        meta = _json.load(f)
    old = {k: v for k, v in meta.items() if k != "v"}  # v1-era meta
    with open(meta_path, "w") as f:
        _json.dump(old, f)
    staged = stage_source(spark, src, root, N_BUCKETS)  # warns + re-stages
    assert staged.count() == src.count()
    with open(meta_path) as f:
        assert _json.load(f)["v"] == meta["v"]


def test_bucket_pass_skips_staged_schema_inference(spark, src, tmp_path):
    # the staged table is read with the schema the runner already has, so
    # the one job a pass pays outside its buckets is the results union read
    from language_identification_spark.checkpoint import stage_source

    root = str(tmp_path / "jobs1")
    stage_source(spark, src, f"{root}/staging", N_BUCKETS)
    sc = spark.sparkContext
    sc.setJobGroup("ckpt-job-pin-1", "job-count pin")
    try:
        run_checkpointed(spark, src, root, quality_filter, N_BUCKETS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("ckpt-job-pin-1"))
    assert n_jobs <= N_BUCKETS + 1, n_jobs


@pytest.mark.parametrize("n_buckets", [2, 8])
def test_stage_fn_is_called_once_per_run(spark, src, tmp_path, n_buckets):
    calls = []

    def identity(df):
        calls.append(1)
        return df

    out = run_checkpointed(spark, src, str(tmp_path / "once"), identity, n_buckets)
    assert len(calls) == 1
    assert out.count() == src.count()


def test_bucket_plan_binds_late_and_prunes_at_scan(spark, src, tmp_path, monkeypatch):
    # every bucket writes the one plan built over the staged table, with the
    # bucket's predicate pruning partitions at the scan: no Filter above it,
    # one Python stage, no Exchange
    import contextlib
    import io
    import re

    handed = []
    append = ParquetTableIO.append

    def capture(self, df, meta=None):
        handed.append(df)
        return append(self, df, meta)

    monkeypatch.setattr(ParquetTableIO, "append", capture)
    run_checkpointed(spark, src, str(tmp_path / "plan"), quality_filter, N_BUCKETS)
    assert len(handed) == N_BUCKETS
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        handed[0].explain("formatted")
    plan = re.sub(r"#\d+", "", buf.getvalue())
    tree = plan.split("\n\n", 1)[0]
    b = int(re.search(r"\(_bucket = (\d+)\)", plan).group(1))
    assert f"PartitionFilters: [isnotnull(_bucket), (_bucket = {b})]" in plan, plan
    assert tree.count("ArrowEvalPython") == 1, tree
    assert "Filter" not in tree, tree
    assert "Exchange" not in tree, tree


def test_staging_writes_one_file_per_bucket(spark, src, tmp_path):
    # 8 staging tasks used to write 8 files into every bucket dir; the
    # rebalance on _bucket sizes the files to the data instead
    import glob

    from language_identification_spark.checkpoint import stage_source

    root = str(tmp_path / "files")
    staged = stage_source(spark, src.repartition(8), root, N_BUCKETS)
    dirs = sorted(glob.glob(os.path.join(root, "_bucket=*")))
    assert len(dirs) == N_BUCKETS
    for d in dirs:
        assert len(glob.glob(os.path.join(d, "part-*"))) == 1, d
    assert staged.filter(F.col("_bucket") == 0).rdd.getNumPartitions() == 1


def test_old_layout_staging_resumes_to_same_rows(spark, src, tmp_path, full_rows, caplog):
    # a staging dir written before the rebalance (one file per staging task
    # in every bucket) is reused as is: the runner derives fewer buckets in
    # flight from its wider bucket scans and ends with the same rows
    import glob
    import logging

    from language_identification_spark.checkpoint import _source_fingerprint

    root = str(tmp_path / "oldlayout")
    staging = f"{root}/staging"
    (
        src.repartition(4).withColumn("_bucket", bucket_col(N_BUCKETS))
        .write.partitionBy("_bucket").parquet(staging)
    )
    with open(os.path.join(staging, "_staging_meta.json"), "w") as f:
        json.dump({"v": 2, "n_buckets": N_BUCKETS, "source": _source_fingerprint(src)}, f)
    for d in glob.glob(os.path.join(staging, "_bucket=*")):
        assert len(glob.glob(os.path.join(d, "part-*"))) == 4, d
    caplog.set_level(logging.INFO, logger="language_identification_spark.checkpoint")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(
            spark, src, root, quality_filter, N_BUCKETS, fail_after=2
        )
    assert "tasks_per_bucket=4 in_flight=2" in caplog.text, caplog.text
    resumed = run_checkpointed(spark, src, root, quality_filter, N_BUCKETS)
    assert _sorted_rows(resumed) == full_rows
    for d in glob.glob(os.path.join(staging, "_bucket=*")):
        assert len(glob.glob(os.path.join(d, "part-*"))) == 4, d  # not re-staged


@pytest.mark.parametrize(
    "stage_fn",
    [
        lambda df: df.groupBy("repo").count(),
        lambda df: df.join(df.select("repo").distinct(), "repo"),
        lambda df: df.limit(5),
        lambda df: df.withColumn("r", F.rand(0)),
    ],
    ids=["aggregate", "join", "limit", "rand"],
)
def test_stage_fn_that_cannot_bind_late_fails_fast(
    spark, src, tmp_path, stage_fn, capfd
):
    # the bucket predicate must reach the staged scan; a stage_fn that keeps
    # it above (or cannot carry _bucket at all) is refused before any bucket
    # runs, instead of failing opaquely, returning too few rows or scanning
    # every bucket's files per bucket
    root = str(tmp_path / "bad")
    with pytest.raises(ValueError, match="row-local and deterministic"):
        run_checkpointed(spark, src, root, stage_fn, N_BUCKETS)
    assert ParquetTableIO(f"{root}/results").snapshots() == []
    # refused from the analyzed plan: no failed analysis logs Spark's
    # UNRESOLVED_COLUMN error and its JVM trace ahead of the ValueError
    assert "UNRESOLVED_COLUMN" not in "".join(capfd.readouterr())


def test_empty_source_runs_to_no_rows(spark, src, tmp_path):
    # staging an empty source writes no partition dirs; the staged read
    # takes the known schema, so the run commits empty buckets instead of
    # failing to infer a schema from no files
    out = run_checkpointed(
        spark, src.limit(0), str(tmp_path / "empty"), quality_filter, N_BUCKETS
    )
    assert out.count() == 0
    assert read_metrics(spark, str(tmp_path / "empty")).count() == N_BUCKETS
