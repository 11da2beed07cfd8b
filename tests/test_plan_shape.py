"""Physical-plan pins: the scale properties SURVEY §4 promises must hold in
the actual Catalyst plan — predicate pushdown to the parquet scan, column
pruning, exactly one Arrow UDF stage, zero shuffles in quality_filter."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from language_identification_spark.datagen.corpus import generate_source_files
from language_identification_spark.plans.pipeline import quality_filter


@pytest.fixture(scope="module")
def parquet_src(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plansrc") / "src.parquet")
    pdf, _ = generate_source_files(200, seed=42)
    spark.createDataFrame(pdf).write.parquet(d)
    return d


def _formatted_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_and_column_pruning(spark, parquet_src):
    df = spark.read.parquet(parquet_src)
    out = quality_filter(df.filter(F.col("repo") == "org0/mega")).select(
        "commit", "keep", "drop_reason"
    )
    plan = _formatted_plan(out)
    assert "PushedFilters: [IsNotNull(repo), EqualTo(repo,org0/mega)]" in plan
    # 'path' is not needed by the projection → pruned from the scan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "path" not in read_schema
    assert "content" in read_schema


def test_one_arrow_stage_zero_shuffles(spark, parquet_src):
    # langid, perplexity and scrub share one Python crossing per row
    out = quality_filter(spark.read.parquet(parquet_src))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan


def test_no_jvm_scrub_gate(spark, parquet_src):
    # every row the models see is scrubbed in their Python pass: no JVM
    # trigger over the pattern union, and no non-ASCII mask in front of one
    from language_identification_spark.scrub.patterns import TRIGGER_REGEX

    plan = _formatted_plan(quality_filter(spark.read.parquet(parquet_src)))
    assert TRIGGER_REGEX not in plan
    assert "[^\\x00-\\x7F]" not in plan


def test_jaccard_pairs_single_udf_evaluation(spark, parquet_src):
    # VERDICT r01 "what's wrong" #1: the self-join + two set joins must read
    # ONE materialized feature table, not re-evaluate UDF lineage per side.
    # The features UDF runs once, when jaccard_pairs materializes the table;
    # the returned plan reads only that table — no Python stage and no scan
    # of the content.
    from language_identification_spark.operators.dedup import jaccard_pairs

    df = spark.read.parquet(parquet_src).selectExpr(
        "cast(hash(repo, path) as long) as doc_id", "content as text"
    )
    plan = _formatted_plan(jaccard_pairs(df, "text", "doc_id", 0.5))
    header = plan.split("\n\n")[0]
    assert "ArrowEvalPython" not in plan, plan
    assert "Scan parquet" not in plan, plan
    assert header.count("Scan ExistingRDD") >= 4, header


def test_analyze_input_clipped_jvm_side(spark, parquet_src):
    # a 5 MB minified row must not cross the JVM→Python boundary whole:
    # the plan substrings content to SAMPLE_BYTES before the first UDF
    out = quality_filter(spark.read.parquet(parquet_src))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "substring" in plan and "4096" in plan


def test_winnow_dup_pairs_plan_shape(spark):
    # VERDICT r04 #2: the winnowing pair miner's physical plan must be the
    # 100 TB shape — fingerprints computed pure-Catalyst (zero Python
    # nodes), every Exchange on a short key (the 64-bit fp or the id pair),
    # and document content absent from everything past the fingerprint
    # materialization (content never shuffles)
    from language_identification_spark.operators.dedup import winnow_dup_pairs

    rows = [
        (i, f"def handler_{i}(req): return process(req, mode={i % 3})")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plan = _formatted_plan(winnow_dup_pairs(df, "text", "doc_id"))
    phys = plan.split("== Physical Plan ==", 1)[1]

    assert "EvalPython" not in phys  # no Python in the mining path
    # exactly 3 shuffles: posting explode side A on fp, side B on fp,
    # and the (id_a, id_b) pair aggregation
    exchanges = [
        l for l in phys.splitlines() if "hashpartitioning" in l
    ]
    assert phys.count("Exchange (") == 3, phys
    for l in exchanges:
        assert "fp#" in l or "doc_id#" in l, l
    # content is dropped before the lineage cut: no text column anywhere
    # in the executed plan (the checkpointed table is (id, fp-array) only)
    assert "text#" not in phys, phys


def test_simhash_dup_pairs_plan_shape(spark):
    # the SimHash pair miner's 100 TB shape: the fingerprint UDF runs ONCE
    # (the materialized (id, simhash) table feeds both self-join sides, not
    # a second ArrowEvalPython), every Exchange is on a short key (chunk
    # bucket / id pair), and content never shuffles
    from language_identification_spark.operators.dedup import simhash_dup_pairs

    rows = [
        (i, f"def handler_{i}(req): return process(req, mode={i % 3})")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plan = _formatted_plan(simhash_dup_pairs(df, "text", "doc_id"))
    phys = plan.split("== Physical Plan ==", 1)[1]
    tree = phys.split("\n\n", 1)[0]

    # both self-join sides read the materialized (id, simhash) table; the
    # fingerprint UDF ran once, when simhash_dup_pairs materialized it, and
    # is not in the returned plan at all.
    # r06 (ADVICE r05): assert the INVARIANTS with >= bounds rather than
    # exact physical-plan node counts, which flapped across Spark/AQE
    # config changes with unchanged semantics.
    assert "ArrowEvalPython" not in plan, plan
    assert tree.count("Scan ExistingRDD") >= 2, tree
    exchanges = [l for l in phys.splitlines() if "hashpartitioning" in l]
    assert exchanges, phys
    for l in exchanges:
        assert "text#" not in l, l  # content never shuffles


def test_quota_cap_window_branch_ids_only(spark, tmp_path_factory):
    """quota_cap's rank must run on an ids-only scan: the parquet source
    appears twice in the plan (window branch + output side) and the window
    branch's ReadSchema must NOT include the content column — content never
    enters the rank Exchange (100 TB: the shuffle carries ids + digests)."""
    from language_identification_spark.operators.repolevel import quota_cap

    d = str(tmp_path_factory.mktemp("quota") / "docs.parquet")
    spark.createDataFrame(
        [(i, f"body {i}", f"r{i % 3}") for i in range(30)],
        "doc_id long, text string, source string",
    ).write.parquet(d)
    df = spark.read.parquet(d)
    plan = _formatted_plan(quota_cap(df, quota=2))
    schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert len(schemas) == 2, plan
    ids_only = [l for l in schemas if "text" not in l]
    assert len(ids_only) == 1, schemas
    assert "doc_id" in ids_only[0] and "source" in ids_only[0]
