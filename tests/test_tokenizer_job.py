"""Integration: jobs/run_tokenizer.py end-to-end on a tiny corpus."""

from __future__ import annotations

import json
import os
import sys

import pytest

from tests.test_bpe import CORPUS, scalar_bpe


@pytest.fixture()
def src(spark, tmp_path):
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    ).write.parquet(p)
    return p


def _run(monkeypatch, argv):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "jobs"))
    import run_tokenizer

    monkeypatch.setattr(sys, "argv", ["run_tokenizer.py"] + argv)
    run_tokenizer.main()


def scalar_freqs():
    freqs: dict[str, int] = {}
    for t in CORPUS:
        for w in t.lower().split():
            freqs[w] = freqs.get(w, 0) + 1
    return freqs


def test_tokenizer_job_end_to_end(spark, src, tmp_path, monkeypatch, capsys):
    out = str(tmp_path / "tok")
    _run(monkeypatch, ["--source", src, "--out", out, "--merges", "10",
                       "--encode"])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    exp_merges, exp_words = scalar_bpe(scalar_freqs(), 10)
    got_merges = [
        (r["merge_rank"], r["left"], r["right"], r["pair_count"])
        for r in spark.read.parquet(report["merges_table"])
        .orderBy("merge_rank").collect()
    ]
    assert got_merges == exp_merges
    assert report["merges_learned"] == 10

    # vocab == scalar symbol frequencies
    freqs = scalar_freqs()
    exp_vocab: dict[str, int] = {}
    for w, syms in exp_words.items():
        for s in syms:
            exp_vocab[s] = exp_vocab.get(s, 0) + freqs[w]
    got_vocab = {
        r["symbol"]: r["freq"]
        for r in spark.read.parquet(report["vocab"]).collect()
    }
    assert got_vocab == exp_vocab

    # encoded corpus matches scalar segmentation doc-by-doc
    enc = {
        r["doc_id"]: (r["n_subwords"], r["bpe"])
        for r in spark.read.parquet(report["encoded"]).collect()
    }
    for i, t in enumerate(CORPUS):
        syms = [s for w in t.lower().split() for s in exp_words[w]]
        assert enc[i] == (len(syms), " ".join(syms))


def test_tokenizer_job_resume_reuses_merges(spark, src, tmp_path, monkeypatch,
                                            capsys):
    out = str(tmp_path / "tok")
    _run(monkeypatch, ["--source", src, "--out", out, "--merges", "6"])
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    m_path = first["merges_table"]
    mtimes = {
        f: os.path.getmtime(os.path.join(m_path, f))
        for f in os.listdir(m_path)
    }
    # re-submit with --encode: merges/vocab stages must be reused untouched
    _run(monkeypatch, ["--source", src, "--out", out, "--merges", "6",
                       "--encode"])
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {
        f: os.path.getmtime(os.path.join(m_path, f))
        for f in os.listdir(m_path)
    } == mtimes
    assert spark.read.parquet(second["encoded"]).count() == len(CORPUS)


def test_tokenizer_job_resume_refuses_changed_source(spark, src, tmp_path, monkeypatch,
                                                     capsys):
    out = str(tmp_path / "tok")
    argv = ["--source", src, "--out", out, "--merges", "4"]
    _run(monkeypatch, argv)

    def mtimes():
        return {
            os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
            for d, _dirs, files in os.walk(out)
            for f in files
        }

    written = mtimes()
    _run(monkeypatch, argv)  # identical re-submit: every stage reused
    assert mtimes() == written
    with pytest.raises(ValueError, match="merges"):
        _run(monkeypatch, ["--source", src, "--out", out, "--merges", "5"])
    spark.createDataFrame([(0, "another corpus")], "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(src)
    with pytest.raises(ValueError, match="source_fingerprint"):
        _run(monkeypatch, argv)
    assert mtimes() == written
