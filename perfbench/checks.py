"""Correctness gates, run on every benchmark run in an untimed pass.

Each check returns a list of failure strings (empty when it passes) so a
run can count failed checks against the number attempted.  The inputs
are plain pandas frames collected from the program's output, which keeps
the checkers independent of Spark and testable on hand-built frames.
"""

from __future__ import annotations

import hashlib

import pandas as pd

MIN_KEEP_F1 = 0.99
MIN_REASON_AGREEMENT = 0.99
# planted near-dup pairs this similar are found by the 16x4 LSH bands with
# miss probability (1 - 0.9**4)**16 < 1e-7 per pair
NEAR_DUP_CHECK_JACCARD = 0.9


def f1(pred: pd.Series, truth: pd.Series) -> float:
    pred, truth = pred.astype(bool).to_numpy(), truth.astype(bool).to_numpy()
    tp = int((pred & truth).sum())
    fp = int((pred & ~truth).sum())
    fn = int((~pred & truth).sum())
    return 1.0 if tp + fp + fn == 0 else 2 * tp / (2 * tp + fp + fn)


def verdict_digest(out: pd.DataFrame) -> str:
    """Order-free digest of the per-row verdicts of a flagship output."""
    cols = ["commit", "keep", "drop_reason", "n_redactions", "scrubbed_sha256"]
    rows = out[cols].fillna("").astype(str).sort_values("commit")
    h = hashlib.sha256()
    for r in rows.itertuples(index=False):
        h.update("\x1f".join(r).encode("utf-8") + b"\n")
    return h.hexdigest()


def check_flagship(out: pd.DataFrame, expect: pd.DataFrame, n_rows: int):
    """``out``: collected flagship output (commit, keep, drop_reason,
    n_redactions, content_sha256, scrubbed_sha256) over every input row.
    ``expect``: frozen-labeler verdicts on the check subsample.

    Returns ``(failures, keep_f1)``.
    """
    fails = []
    if len(out) != n_rows:
        fails.append(f"row count {len(out)} != {n_rows}")
    if out["commit"].duplicated().any():
        fails.append("duplicate output rows")
    got = expect.merge(out, on="commit", how="left", suffixes=("_exp", ""))
    if got["keep"].isna().any():
        fails.append(f"{int(got['keep'].isna().sum())} checked rows missing")
        got = got[got["keep"].notna()]
    keep_f1 = f1(got["keep"], got["keep_exp"])
    if keep_f1 < MIN_KEEP_F1:
        fails.append(f"keep F1 {keep_f1:.4f} < {MIN_KEEP_F1}")
    agree = (got["drop_reason"].fillna("") == got["drop_reason_exp"]).mean()
    if agree < MIN_REASON_AGREEMENT:
        fails.append(f"drop-reason agreement {agree:.4f} < {MIN_REASON_AGREEMENT}")
    both = got[got["keep"].astype(bool) & got["keep_exp"]]
    bad = (both["scrubbed_sha256"] != both["scrubbed_sha256_exp"]).sum()
    if bad:
        fails.append(f"{int(bad)} kept rows with a scrubbed text unlike the labeler's")
    if "content_sha256_exp" in got:
        bad = (got["content_sha256"] != got["content_sha256_exp"]).sum()
        if bad:
            fails.append(f"{int(bad)} rows whose content_sha256 is not the input's")
    untouched = out[out["keep"].astype(bool) & (out["n_redactions"] == 0)]
    bad = (untouched["scrubbed_sha256"] != untouched["content_sha256"]).sum()
    if bad:
        fails.append(f"{int(bad)} unscrubbed kept rows changed their content")
    return fails, keep_f1


def shingles(text: str) -> set[str]:
    t = text.lower()
    return {t[i : i + 3] for i in range(len(t) - 2)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    u = len(sa | sb)
    return 1.0 if u == 0 else len(sa & sb) / u


def check_curation(stages: dict[str, pd.DataFrame], n_in: int, meta: dict):
    """Properties any correct curation job has on this corpus.

    ``stages`` maps stage name to its collected output: ``exact_dedup``
    (doc_id, text), ``line_dedup`` (doc_id, text), ``split`` (doc_id,
    split) and ``shuffled`` (doc_id).  ``meta`` carries the expected
    exact-dedup survivors and the planted near-dup pairs.

    Returns ``(failures, keep_f1)``.
    """
    fails = []
    ded = stages["exact_dedup"]
    expected = set(meta["exact_survivors"])
    got = set(int(x) for x in ded["doc_id"])
    ids = pd.Series(range(0, n_in))
    keep_f1 = f1(ids.isin(got), ids.isin(expected))
    if got != expected:
        fails.append(
            f"exact dedup kept {len(got - expected)} unexpected and lost "
            f"{len(expected - got)} expected docs"
        )
    sha = ded["text"].map(lambda t: hashlib.sha256(t.encode("utf-8")).hexdigest())
    if sha.duplicated().any():
        fails.append(f"{int(sha.duplicated().sum())} surviving docs share a sha256")
    counts = [(name, len(stages[name])) for name in ("exact_dedup", "line_dedup", "split", "shuffled")]
    for (a, na), (b, nb) in zip(counts, counts[1:]):
        if na != nb:
            fails.append(f"rows not conserved: {a}={na} -> {b}={nb}")
    split = dict(zip(stages["split"]["doc_id"], stages["split"]["split"]))
    text = dict(zip(stages["line_dedup"]["doc_id"], stages["line_dedup"]["text"]))
    checked = straddle = 0
    for a, b in meta["planted_pairs"]:
        if a in text and b in text and jaccard(text[a], text[b]) >= NEAR_DUP_CHECK_JACCARD:
            checked += 1
            straddle += split.get(a) != split.get(b)
    if straddle:
        fails.append(f"{straddle} of {checked} planted near-dup pairs straddle splits")
    if checked < len(meta["planted_pairs"]) // 2:
        fails.append(
            f"only {checked} of {len(meta['planted_pairs'])} planted near-dup "
            "pairs reached the split stage as near duplicates"
        )
    return fails, keep_f1
