"""``models.registry`` trains the models in-process and reads no disk cache:
a stale or planted weight file can never be served."""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq

from tools.export_weights import ASSET_PATH, PPL_ASSET_PATH

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _asset_matrix(path: str) -> np.ndarray:
    t = pq.read_table(path)
    buckets, lang_idx = t["bucket"].to_numpy(), t["lang_idx"].to_numpy()
    m = np.empty((buckets.max() + 1, lang_idx.max() + 1), dtype=np.float64)
    m[buckets, lang_idx] = t["logp"].to_numpy()
    return m


def test_planted_weight_file_is_not_served(tmp_path):
    lid_ref = _asset_matrix(ASSET_PATH)
    ppl_ref = _asset_matrix(PPL_ASSET_PATH)
    # a well-formed but wrong file where the old disk cache lived
    np.savez(
        tmp_path / "lid_spark_models_v3.npz",
        langs=np.array(["xx"] * lid_ref.shape[1]),
        lid_logp=np.zeros(lid_ref.shape, dtype=np.float32),
        ppl_logp=np.zeros(ppl_ref.shape, dtype=np.float32),
    )
    out = tmp_path / "weights.npz"
    code = (
        "import sys, numpy as np\n"
        "from language_identification_spark.models.registry import get_models\n"
        "lid, lm = get_models()\n"
        "np.savez(sys.argv[1], lid=lid.logp, ppl=lm.logp)\n"
    )
    subprocess.run(
        [sys.executable, "-c", code, str(out)],
        cwd=ROOT,
        env=dict(os.environ, TMPDIR=str(tmp_path)),
        check=True,
        timeout=300,
    )
    got = np.load(out)
    assert np.array_equal(got["lid"].astype(np.float64), lid_ref)
    assert np.array_equal(got["ppl"].astype(np.float64), ppl_ref)
