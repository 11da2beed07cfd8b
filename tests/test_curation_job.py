"""Integration: jobs/run_curation.py end-to-end on a tiny corpus.

Drives the spark-submit entry through main() (monkeypatched argv, reusing
the session fixture via a getOrCreate that finds the active session) and
checks every stage's parquet output against independently computed
expectations."""

from __future__ import annotations

import json
import os
import sys

import pytest


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("curation")
    rows = []
    vid = 0
    # 3 languages; docs 0/1 are exact duplicates; doc 2 shares a 5-gram
    # with the benchmark
    texts = {
        "en": ["alpha beta gamma delta epsilon zeta", "one two three four five six"],
        "de": ["eins zwei drei vier funf sechs", "sieben acht neun zehn elf zwolf"],
        "es": ["uno dos tres cuatro cinco seis", "siete ocho nueve diez once doce"],
    }
    for lang, ts in texts.items():
        for t in ts:
            for _ in range(1 + (vid == 0)):  # duplicate the first doc
                rows.append((vid, t, lang))
                vid += 1
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    src = str(d / "docs.parquet")
    df.write.parquet(src)
    bench = str(d / "bench.parquet")
    spark.createDataFrame(
        [(900, "xxx one two three four five six yyy")], "doc_id long, text string"
    ).write.parquet(bench)
    return str(d), src, bench


def test_curation_job_end_to_end(spark, corpus_dir, monkeypatch, capsys):
    d, src, bench = corpus_dir
    out = os.path.join(d, "out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "jobs"))
    import run_curation

    monkeypatch.setattr(
        sys,
        "argv",
        [
            "run_curation.py",
            "--source", src,
            "--out", out,
            "--benchmark", bench,
            "--ngram", "5",
            "--mixture-budget", "500",
            "--max-epochs", "2",
            "--pack-budget", "8",
            "--pack-shards", "2",
            "--materialize",
        ],
    )
    run_curation.main()
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    dedup = spark.read.parquet(report["exact_dedup"])
    assert dedup.count() == 6  # 7 rows, one exact duplicate collapsed
    assert dedup.filter("doc_id = 1").count() == 0  # min-id representative kept

    decon = spark.read.parquet(report["decontaminated"])
    assert decon.count() == 5  # the benchmark-overlapping doc dropped
    assert decon.filter("text like 'one two%'").count() == 0

    prof = spark.read.parquet(report["profile"])
    assert {r["lang"] for r in prof.collect()} == {"en", "de", "es"}

    plan = spark.read.parquet(report["mixture_plan"])
    assert plan.count() == 3
    copies = spark.read.parquet(report["copies"])
    assert copies.count() >= 5  # every surviving doc appears >= once
    assert "text" in copies.columns and "lang" in copies.columns

    packing = spark.read.parquet(report["packing"])
    assert packing.count() == copies.count()
    seqs = spark.read.parquet(report["sequences"])
    # token conservation through the whole chain: 6 tokens per copy
    assert (
        sum(r["n_tokens"] for r in seqs.collect())
        == copies.count() * 6
    )

    # resume: rerunning reuses completed outputs (no overwrite errors)
    run_curation.main()
    assert spark.read.parquet(report["exact_dedup"]).count() == 6


def test_curation_job_span_dedup_stage(spark, tmp_path, monkeypatch, capsys):
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [
            (1, "pad1 s1 s2 s3 s4 s5", "en"),
            (2, "pad2 s1 s2 s3 s4 s5", "en"),
            (3, "solo a b c d e", "en"),
        ],
        "doc_id long, text string, lang string",
    ).write.parquet(src)
    out = str(tmp_path / "out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "jobs"))
    import run_curation

    monkeypatch.setattr(
        sys,
        "argv",
        ["run_curation.py", "--source", src, "--out", out, "--span-dedup", "5"],
    )
    run_curation.main()
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    span = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(report["span_dedup"]).collect()
    }
    # the shared 5-gram vanished from both docs; the unique doc is intact
    assert span == {1: "pad1", 2: "pad2", 3: "solo a b c d e"}
    assert "n_tokens_removed" not in spark.read.parquet(
        report["span_dedup"]
    ).columns
    assert {"doc_id", "text", "lang"} <= set(
        spark.read.parquet(report["span_dedup"]).columns
    )


def test_curation_job_license_and_shuffle_stages(
    spark, tmp_path, monkeypatch, capsys
):
    import hashlib

    mit = "Permission is hereby granted, free of charge, to anyone"
    gpl = "under the terms of the GNU General Public License"
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [
            (1, mit + " alpha beta", "repoA"),
            (2, "no header here", "repoA"),
            (3, gpl + " gamma delta", "repoB"),
            (4, "// SPDX-License-Identifier: Apache-2.0\ncode", "repoB"),
            (5, "headerless only", "repoC"),
        ],
        "doc_id long, text string, source string",
    ).write.parquet(src)
    out = str(tmp_path / "out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "jobs"))
    import run_curation

    monkeypatch.setattr(
        sys,
        "argv",
        [
            "run_curation.py",
            "--source", src,
            "--out", out,
            "--group-col", "source",
            "--license-filter",
            "--shuffle-seed", "epoch0",
            "--shuffle-shards", "2",
        ],
    )
    run_curation.main()
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    lic = spark.read.parquet(report["license_filter"])
    # repoA survives (MIT + unlicensed sibling); repoB poisoned by GPL
    # despite the Apache file; repoC has no permissive evidence
    assert sorted(r["doc_id"] for r in lic.collect()) == [1, 2]
    assert "license_spdx" in lic.columns
    assert {
        r["doc_id"]: r["license_spdx"] for r in lic.collect()
    } == {1: "MIT", 2: None}

    shuf = spark.read.parquet(report["shuffled"])
    rows = shuf.collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2]
    for r in rows:
        key = int(
            hashlib.sha256(f"epoch0|{r['doc_id']}".encode()).hexdigest()[:15], 16
        )
        assert r["shuffle_key"] == key and r["shard"] == key % 2
    # shard-partitioned layout on disk
    assert any(
        name.startswith("shard=") for name in os.listdir(report["shuffled"])
    )


def test_curation_job_rank_weighting_stage(spark, tmp_path, monkeypatch, capsys):
    """--rank-weighting: mine imports from the corpus, pagerank the repo
    graph, annotate every doc with integer weights; unranked repos get 1.0."""
    src = str(tmp_path / "docs.parquet")
    # repoA imports libB (owned by repoB) => edge A->B; repoB imports
    # nothing owned; repoC imports libB too => C->B. B is the hub.
    spark.createDataFrame(
        [
            (1, "import libB\nalpha beta", "repoA"),
            (2, "from libB import thing\ncode", "repoC"),
            (3, "no imports here", "repoB"),
            (4, "import os\nstdlib only", "repoA"),
        ],
        "doc_id long, text string, source string",
    ).write.parquet(src)
    owners = str(tmp_path / "owners.parquet")
    spark.createDataFrame(
        [("libB", "repoB")], "module string, repo string"
    ).write.parquet(owners)
    out = str(tmp_path / "out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "jobs"))
    import run_curation

    monkeypatch.setattr(
        sys,
        "argv",
        [
            "run_curation.py",
            "--source", src,
            "--out", out,
            "--group-col", "source",
            "--rank-weighting",
            "--module-owners", owners,
            "--pagerank-iters", "5",
        ],
    )
    run_curation.main()
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    rw = spark.read.parquet(report["rank_weighting"])
    got = {r["source"]: (r["rank_ppb"], r["weight_ppm"]) for r in rw.collect()}
    # scalar integer pagerank over nodes {A,B,C}, edges A->B, C->B
    from tests.test_graph import scalar_pagerank

    exp = scalar_pagerank(["repoA", "repoB", "repoC"],
                          [("repoA", "repoB"), ("repoC", "repoB")], n_iters=5)
    for repo_name in ("repoA", "repoB", "repoC"):
        assert got[repo_name] == (exp[repo_name], exp[repo_name] * 3 // 1000)
    # the hub outranks the leaves, and every doc kept its metadata
    assert got["repoB"][0] > got["repoA"][0]
    assert rw.count() == 4 and "text" in rw.columns


def test_rank_weighting_requires_owners(monkeypatch):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "jobs"))
    import run_curation

    monkeypatch.setattr(
        sys,
        "argv",
        ["run_curation.py", "--source", "s", "--out", "o", "--rank-weighting"],
    )
    with pytest.raises(SystemExit):
        run_curation.main()


def test_rank_weighting_ignores_out_of_corpus_owner_repos(
    spark, tmp_path, monkeypatch, capsys
):
    """An ownership row pointing at a repo with no documents must not leak
    rank mass or deflate out-degrees: the edge is dropped before pagerank."""
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [
            (1, "import libB\nimport ghostlib\nalpha", "repoA"),
            (2, "from libB import x\ncode", "repoC"),
            (3, "plain", "repoB"),
        ],
        "doc_id long, text string, source string",
    ).write.parquet(src)
    owners = str(tmp_path / "owners.parquet")
    spark.createDataFrame(
        [("libB", "repoB"), ("ghostlib", "repoGHOST")],  # no repoGHOST docs
        "module string, repo string",
    ).write.parquet(owners)
    out = str(tmp_path / "out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "jobs"))
    import run_curation

    monkeypatch.setattr(
        sys, "argv",
        ["run_curation.py", "--source", src, "--out", out,
         "--group-col", "source", "--rank-weighting",
         "--module-owners", owners, "--pagerank-iters", "4"],
    )
    run_curation.main()
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    rw = spark.read.parquet(report["rank_weighting"])
    got = {r["source"]: r["rank_ppb"] for r in rw.collect()}
    from tests.test_graph import scalar_pagerank

    # the ghost edge is DROPPED: repoA's out-degree is 1 (only ->B), so its
    # full contribution flows to repoB — identical to a graph that never
    # contained the ghost edge
    exp = scalar_pagerank(["repoA", "repoB", "repoC"],
                          [("repoA", "repoB"), ("repoC", "repoB")], n_iters=4)
    assert {k: got[k] for k in exp} == exp


def test_curation_job_fork_quota_collapse_stages(
    spark, tmp_path, monkeypatch, capsys
):
    src = str(tmp_path / "docs.parquet")
    rows = []
    # repo "up" has 6 files; repo "fork_up" carries 4 of them (jaccard 4/6)
    for i in range(6):
        rows.append((i, f"file {i}\nfile {i}\nuniq {i}", "en", "up"))
    for i in range(4):
        rows.append((10 + i, f"file {i}\nfile {i}\nuniq {i}", "en", "fork_up"))
    # big solo repo with 5 files, all with a duplicate-run body
    for i in range(5):
        rows.append((20 + i, f"x\nx\nx\nbody {i}", "en", "solo"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(src)
    out = str(tmp_path / "out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "jobs"))
    import run_curation

    monkeypatch.setattr(
        sys,
        "argv",
        [
            "run_curation.py", "--source", src, "--out", out,
            "--fork-collapse", "500", "--repo-quota", "3", "--collapse-runs",
        ],
    )
    run_curation.main()
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # fork stage dropped the smaller fork repo wholesale
    fc = spark.read.parquet(report["fork_collapse"])
    assert set(r["source"] for r in fc.select("source").distinct().collect()) == {
        "up", "solo"
    }
    # quota stage capped both surviving repos at 3 files
    q = {
        r["source"]: r["n"]
        for r in spark.read.parquet(report["repo_quota"])
        .groupBy("source").count().withColumnRenamed("count", "n").collect()
    }
    assert q == {"up": 3, "solo": 3}
    # run collapse rewrote the duplicate-run bodies, kept metadata columns
    final = spark.read.parquet(report["collapse_runs"])
    assert {"doc_id", "text", "lang", "source"} <= set(final.columns)
    for r in final.filter(final.source == "solo").collect():
        assert r["text"].startswith("x\nbody")
    for r in final.filter(final.source == "up").collect():
        i = r["doc_id"]
        assert r["text"] == f"file {i}\nuniq {i}"


def test_curation_job_split_stage(spark, tmp_path, monkeypatch, capsys):
    src = str(tmp_path / "docs.parquet")
    base = " ".join(f"token{i} shared body word{i}" for i in range(30))
    rows = [
        (1, base + " ending alpha", "en", "r1"),
        (2, base + " ending bravo", "en", "r2"),  # near-dup of 1
    ]
    # singletons with disjoint vocabularies
    for i in range(3, 13):
        rows.append(
            (i, " ".join(f"solo{i}w{j} unrelated{i}{j}" for j in range(25)),
             "en", f"r{i}")
        )
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(src)
    out = str(tmp_path / "out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "jobs"))
    import run_curation

    monkeypatch.setattr(
        sys,
        "argv",
        [
            "run_curation.py", "--source", src, "--out", out,
            "--split", '{"train":0.8,"val":0.1,"test":0.1}',
        ],
    )
    run_curation.main()
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    final = spark.read.parquet(report["split"])
    rows_out = final.collect()
    assert {"doc_id", "text", "lang", "source", "split"} <= set(final.columns)
    assert len(rows_out) == 12  # nothing dropped, everything assigned
    by_id = {r.doc_id: r.split for r in rows_out}
    assert set(by_id.values()) <= {"train", "val", "test"}
    # the near-dup pair never straddles splits
    assert by_id[1] == by_id[2]
    # deterministic: resume from the completed stage reproduces bit-identically
    run_curation.main()
    again = {r.doc_id: r.split for r in spark.read.parquet(report["split"]).collect()}
    assert again == by_id


def _mtimes(root):
    return {
        os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
        for d, _dirs, files in os.walk(root)
        for f in files
    }


def test_curation_job_resume_refuses_changed_source_or_args(
    spark, tmp_path, monkeypatch, capsys
):
    src = str(tmp_path / "docs.parquet")
    rows = [(i, f"doc {i} body", "en") for i in range(6)]
    schema = "doc_id long, text string, lang string"
    spark.createDataFrame(rows, schema).write.parquet(src)
    out = str(tmp_path / "out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "jobs"))
    import run_curation

    argv = ["run_curation.py", "--source", src, "--out", out, "--line-dedup"]
    monkeypatch.setattr(sys, "argv", argv)
    run_curation.main()
    written = _mtimes(out)
    # an identical re-submit reuses every stage: nothing is rewritten
    run_curation.main()
    assert _mtimes(out) == written

    monkeypatch.setattr(sys, "argv", argv + ["--default-rate", "0.5"])
    with pytest.raises(ValueError, match="default_rate"):
        run_curation.main()
    # the source regenerated under the same path
    spark.createDataFrame(rows[:3], schema).write.mode("overwrite").parquet(src)
    monkeypatch.setattr(sys, "argv", argv)
    with pytest.raises(ValueError, match="source_fingerprint"):
        run_curation.main()
    assert _mtimes(out) == written  # refused before any stage ran
