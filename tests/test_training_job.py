"""Integration: jobs/run_training.py — on-cluster model fit, asset-format
export, and resume semantics."""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

from language_identification_spark.models import langid as langid_mod
from language_identification_spark.models import perplexity as ppl_mod
from language_identification_spark.models.seed_corpora import (
    SUPPORTED_LANGS,
    train_split,
)


def test_training_job_end_to_end(spark, tmp_path, monkeypatch, capsys):
    corpus = {l: train_split(l)[:25] for l in SUPPORTED_LANGS[:2]}
    rows = [(l, t) for l, ts in corpus.items() for t in ts]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "lang string, text string").write.parquet(src)
    out = str(tmp_path / "model")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "jobs"))
    import run_training

    monkeypatch.setattr(
        sys, "argv", ["run_training.py", "--source", src, "--out", out]
    )
    run_training.main()
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    # exported weights == driver-trained weights, in the assets layout
    for name, mod, train in (
        ("langid", langid_mod, langid_mod.train),
        ("ppl", ppl_mod, ppl_mod.train),
    ):
        ref = train(corpus)
        tbl = pq.read_table(report[f"{name}_logp"])
        assert tbl.column_names == ["bucket", "lang_idx", "lang", "logp"]
        assert tbl.num_rows == mod.N_BUCKETS * len(ref.langs)
        got = (
            tbl.to_pandas()
            .pivot(index="bucket", columns="lang_idx", values="logp")
            .to_numpy()
        )
        assert np.array_equal(
            got.astype(np.float32), ref.logp
        ), f"{name} weights diverge from driver training"
        langs = tbl.to_pandas().sort_values("lang_idx")["lang"].unique()
        assert tuple(langs) == ref.langs

    # resume: outputs detected, no overwrite error, same result
    before = os.path.getmtime(report["langid_logp"])
    run_training.main()
    assert os.path.getmtime(report["langid_logp"]) == before


def test_training_job_resume_refuses_changed_source(spark, tmp_path, monkeypatch, capsys):
    rows = [(l, t) for l in SUPPORTED_LANGS[:2] for t in train_split(l)[:5]]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "lang string, text string").write.parquet(src)
    out = str(tmp_path / "model")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "jobs"))
    import run_training

    monkeypatch.setattr(sys, "argv", ["run_training.py", "--source", src, "--out", out])
    run_training.main()

    def mtimes():
        return {
            os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
            for d, _dirs, files in os.walk(out)
            for f in files
        }

    written = mtimes()
    run_training.main()  # identical re-submit: every stage reused
    assert mtimes() == written

    spark.createDataFrame(rows[:3], "lang string, text string").write.mode(
        "overwrite"
    ).parquet(src)
    with pytest.raises(ValueError, match="source_fingerprint"):
        run_training.main()
    assert mtimes() == written
