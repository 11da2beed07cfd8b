"""Seeded, cached workload inputs.

Every input is a pure function of ``(workload, seed, size)``.  It is
generated once, written as parquet with a fixed number of rows per file,
and cached under ``.perfbench/cache`` in the checkout together with the
expectations the correctness gate compares against.  Generation is never
timed; the program under test only ever reads the written parquet.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

# qf_large_ckpt: rows, rows per parquet file, rows the labeler checks
LARGE_ROWS = 800
LARGE_ROWS_PER_FILE = 100
LARGE_CHECK_ROWS = 160
# target size of one large file, in units of LARGE_UNIT_CHARS:
# 1 + 24 * Lomax(1.5) quantile, capped
LARGE_UNIT_CHARS = 800
LARGE_UNIT_SCALE = 24
LARGE_UNIT_CAP = 300

# curation_dedup: originals, then ~20% near-dup and ~5% exact copies on top
CUR_DOCS = 1000
CUR_ROWS_PER_FILE = 125
CUR_NEAR_SHARE = 0.20
CUR_EXACT_SHARE = 0.05
# space-separated pools only: the zh pool has no word breaks, so its
# "words" are whole shared sentences and unrelated zh docs look alike
CUR_LANGS = ("en", "es")

_BOILERPLATE = [
    "Copyright (c) the project authors. All rights reserved.",
    "This file is part of the shared tooling bundle.",
    "Licensed under the terms found in the LICENSE file.",
    "Auto-formatted; edit the source template instead.",
    "SPDX-FileCopyrightText: the contributors",
    "Do not remove this notice from redistributed copies.",
]


def _write_parquet(df: pd.DataFrame, out_dir: str, rows_per_file: int) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    n_files = 0
    for start in range(0, len(df), rows_per_file):
        part = df.iloc[start : start + rows_per_file]
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(out_dir, f"part-{n_files:05d}.parquet"),
        )
        n_files += 1
    return n_files


def _cached(cache_root: str, key: str, build) -> str:
    """Directory holding the input for ``key``; ``build(tmp_dir)`` fills it
    once and the directory is published with an atomic rename."""
    final = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(final, "meta.json")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


def read_meta(input_dir: str) -> dict:
    with open(os.path.join(input_dir, "meta.json")) as f:
        return json.load(f)


# --------------------------------------------------------------- generators


def large_files(n_rows: int, seed: int) -> pd.DataFrame:
    """Files of tens of KB with a heavy tail, joined from generator files.

    Row ``i`` keeps generator row ``i``'s identity (so the mega-repo holding
    30% of rows stays) and its content class; more pieces of the same class
    and content language are appended.  A PII file is extended with clean
    pieces only, so PII stays at the generator's rate.  Too-short files
    stay single pieces.  Pieces are appended until the file reaches its
    target size; the targets are the evenly spaced quantiles of the tail
    distribution in a seeded order, so every seed yields about the same
    number of bytes and only which rows are large changes.
    """
    from language_identification_spark.datagen.corpus import generate_source_files

    base, truth = generate_source_files(4 * n_rows, seed=seed)
    rng = np.random.default_rng(seed + 1_000_003)
    group = truth["true_class"].where(truth["true_class"] != "pii", "clean")
    key = group + "|" + truth["content_lang"]
    members = {k: np.flatnonzero(key.to_numpy() == k) for k in key.unique()}
    contents = base["content"].to_numpy(dtype=object)
    # Lomax(1.5) quantiles: (1 - u) ** (-1 / 1.5) - 1
    u = (rng.permutation(n_rows) + 0.5) / n_rows
    tail = (1 - u) ** (-1 / 1.5) - 1
    out = []
    for i in range(n_rows):
        units = 1 + min(int(tail[i] * LARGE_UNIT_SCALE), LARGE_UNIT_CAP - 1)
        target = units * LARGE_UNIT_CHARS
        pool = members[key.iat[i]]
        pieces, size = [contents[i]], len(contents[i])
        while size < target and truth["true_class"].iat[i] != "too_short":
            j = int(pool[int(rng.integers(0, len(pool)))])
            pieces.append(contents[j])
            size += len(contents[j]) + 1
        out.append("\n".join(pieces))
    src = base.iloc[:n_rows].copy()
    src["content"] = out
    return src.reset_index(drop=True)


def _pseudo_words(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))
    lens = rng.integers(4, 10, size=n)
    return np.array(["".join(rng.choice(letters, size=int(l))) for l in lens])


def curation_docs(n_docs: int, seed: int) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """Near-duplicate document corpus: ``(doc_id, text, lang)`` plus the
    planted ``(original, copy)`` near-duplicate id pairs.

    Lines mix words from the generator's en/es sentence pools with seeded
    identifiers, so unrelated documents share few character shingles.
    Half the originals start with a shared boilerplate line (work for
    line dedup).  A near-dup copy has CRLF line endings and one token of
    one line replaced: its lines differ from the original's, so it survives
    ``--line-dedup`` and reaches the split stage as a near duplicate.  An
    exact copy is byte-identical and is removed by exact dedup.
    """
    from language_identification_spark.models.seed_corpora import POOLS

    rng = np.random.default_rng(seed + 2_000_003)
    langs = list(CUR_LANGS)
    vocab = {l: sorted({w for s in POOLS[l] for w in s.split()}) for l in langs}
    idents = _pseudo_words(rng, 20_000)

    def line(lang: str) -> str:
        toks = []
        for _ in range(16):
            if rng.random() < 0.5:
                v = vocab[lang]
                toks.append(v[int(rng.integers(0, len(v)))])
            else:
                toks.append(idents[int(rng.integers(0, len(idents)))])
        return " ".join(toks)

    n_near = int(n_docs * CUR_NEAR_SHARE)
    n_exact = int(n_docs * CUR_EXACT_SHARE)
    n_orig = n_docs - n_near - n_exact
    docs: list[tuple[str, str]] = []
    for _ in range(n_orig):
        lang = langs[int(rng.integers(0, len(langs)))]
        lines = [line(lang) for _ in range(int(rng.integers(16, 33)))]
        if rng.random() < 0.5:
            lines.insert(0, _BOILERPLATE[int(rng.integers(0, len(_BOILERPLATE)))])
        docs.append(("\n".join(lines), lang))
    sources = rng.choice(n_orig, size=n_near + n_exact, replace=False)
    planted_pos = []
    for j, src in enumerate(sources):
        text, lang = docs[int(src)]
        if j < n_near:
            lines = text.split("\n")
            at = int(rng.integers(0, len(lines)))
            toks = lines[at].split(" ")
            toks[int(rng.integers(0, len(toks)))] = idents[int(rng.integers(0, len(idents)))]
            lines[at] = " ".join(toks)
            text = "\r\n".join(lines)
            planted_pos.append((int(src), len(docs)))
        docs.append((text, lang))
    ids = rng.permutation(len(docs)).astype(np.int64)
    df = pd.DataFrame(
        {
            "doc_id": ids,
            "text": [t for t, _ in docs],
            "lang": [l for _, l in docs],
        }
    ).sort_values("doc_id", kind="stable")
    planted = [(int(ids[a]), int(ids[b])) for a, b in planted_pos]
    return df.reset_index(drop=True), planted


# --------------------------------------------------------------- cached dirs


def _label_expectations(src: pd.DataFrame) -> pd.DataFrame:
    """Frozen labeler verdicts for the check subsample, keyed by commit."""
    from language_identification_spark.datagen.labeler import label_frame

    lab = label_frame(src)
    return pd.DataFrame(
        {
            "commit": lab["commit"],
            "keep": lab["keep"].astype(bool),
            "drop_reason": lab["drop_reason"].fillna(""),
            "scrubbed_sha256": [
                _sha256(t) if k else "" for t, k in zip(lab["scrubbed_content"], lab["keep"])
            ],
            "content_sha256": [_sha256(t) for t in src["content"]],
        }
    )


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def check_positions(n_rows: int, n_check: int) -> np.ndarray:
    """Evenly spaced row positions the labeler checks (fixed per size)."""
    return np.unique(np.linspace(0, n_rows - 1, n_check).astype(int))


def large_input(cache_root: str, seed: int, n_rows: int = LARGE_ROWS) -> str:
    def build(tmp: str) -> dict:
        src = large_files(n_rows, seed)
        n_files = _write_parquet(src, os.path.join(tmp, "input"), LARGE_ROWS_PER_FILE)
        pos = check_positions(n_rows, LARGE_CHECK_ROWS)
        _label_expectations(src.iloc[pos]).to_parquet(
            os.path.join(tmp, "expect.parquet"), index=False
        )
        sizes = src["content"].str.len()
        return {
            "rows": n_rows,
            "seed": seed,
            "files": n_files,
            "rows_per_file": LARGE_ROWS_PER_FILE,
            "check_rows": len(pos),
            "content_chars": int(sizes.sum()),
            "content_chars_p50": int(sizes.median()),
            "content_chars_max": int(sizes.max()),
        }

    return _cached(cache_root, f"qf_large_ckpt-s{seed}-n{n_rows}", build)


def curation_input(cache_root: str, seed: int, n_docs: int = CUR_DOCS) -> str:
    def build(tmp: str) -> dict:
        df, planted = curation_docs(n_docs, seed)
        n_files = _write_parquet(df, os.path.join(tmp, "input"), CUR_ROWS_PER_FILE)
        survivors = df.groupby(df["text"].map(_sha256))["doc_id"].min()
        return {
            "rows": len(df),
            "seed": seed,
            "files": n_files,
            "rows_per_file": CUR_ROWS_PER_FILE,
            "planted_pairs": planted,
            "exact_survivors": sorted(int(x) for x in survivors),
        }

    return _cached(cache_root, f"curation_dedup-s{seed}-n{n_docs}", build)
