"""The benchmark's own tests: seeded generators, correctness checkers,
spans and the event-log parser.  None of them starts Spark.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import checks  # noqa: E402
import inputs  # noqa: E402
import tracing  # noqa: E402


def _sha(t: str) -> str:
    return hashlib.sha256(t.encode()).hexdigest()


# ------------------------------------------------------------- generators


def test_large_files_deterministic_per_seed():
    a, b = inputs.large_files(24, seed=5), inputs.large_files(24, seed=5)
    pd.testing.assert_frame_equal(a, b)
    assert not a["content"].equals(inputs.large_files(24, seed=6)["content"])
    assert list(a.columns) == ["repo", "path", "commit", "lang", "content"]
    assert a["commit"].is_unique


def test_large_files_total_size_is_seed_stable():
    # only which rows are large depends on the seed, not how many bytes
    sizes = [inputs.large_files(200, seed=s)["content"].str.len().sum() for s in (1, 2, 3)]
    assert max(sizes) / min(sizes) < 1.05


def test_curation_docs_deterministic_per_seed():
    a, pa = inputs.curation_docs(200, seed=5)
    b, pb = inputs.curation_docs(200, seed=5)
    pd.testing.assert_frame_equal(a, b)
    assert pa == pb and len(pa) == 40
    assert sorted(a["doc_id"]) == list(range(200))
    c, _ = inputs.curation_docs(200, seed=6)
    assert not a["text"].equals(c["text"])


def test_curation_planted_pairs_are_near_duplicates_with_distinct_lines():
    df, planted = inputs.curation_docs(200, seed=3)
    text = dict(zip(df["doc_id"], df["text"]))
    for a, b in planted:
        assert checks.jaccard(text[a], text[b]) >= checks.NEAR_DUP_CHECK_JACCARD
        # no full line in common except possibly the last: line dedup
        # leaves the copy intact
        shared = set(text[a].split("\n")) & set(text[b].split("\n"))
        assert len(shared) <= 1


# ---------------------------------------------------------------- checkers


def _flagship_pair(n: int = 10):
    contents = [f"content {i}" for i in range(n)]
    keep = [i % 3 != 0 for i in range(n)]
    scrubbed = [f"scrubbed {i}" if i % 2 else contents[i] for i in range(n)]
    expect = pd.DataFrame(
        {
            "commit": [f"c{i}" for i in range(n)],
            "keep": keep,
            "drop_reason": ["" if k else "perplexity" for k in keep],
            "scrubbed_sha256": [_sha(s) if k else "" for s, k in zip(scrubbed, keep)],
            "content_sha256": [_sha(c) for c in contents],
        }
    )
    out = pd.DataFrame(
        {
            "commit": expect["commit"],
            "keep": keep,
            "drop_reason": [None if k else "perplexity" for k in keep],
            "n_redactions": [int(s != c) for s, c in zip(scrubbed, contents)],
            "content_sha256": expect["content_sha256"],
            "scrubbed_sha256": [_sha(s) if k else None for s, k in zip(scrubbed, keep)],
        }
    )
    return out, expect


def test_flagship_checker_accepts_matching_output():
    out, expect = _flagship_pair()
    fails, f1 = checks.check_flagship(out, expect, len(out))
    assert fails == [] and f1 == 1.0


def test_flagship_checker_rejects_flipped_verdict():
    out, expect = _flagship_pair()
    out.loc[0, ["keep", "drop_reason"]] = [True, None]
    out.loc[0, "scrubbed_sha256"] = out.loc[0, "content_sha256"]
    fails, f1 = checks.check_flagship(out, expect, len(out))
    assert f1 < checks.MIN_KEEP_F1
    assert any("keep F1" in f for f in fails)
    assert any("drop-reason" in f for f in fails)


def test_flagship_checker_rejects_altered_scrubbed_text():
    out, expect = _flagship_pair()
    out.loc[1, "scrubbed_sha256"] = _sha("scrubbed 1 but different")
    fails, _ = checks.check_flagship(out, expect, len(out))
    assert any("scrubbed text" in f for f in fails)


def test_flagship_checker_rejects_changed_untouched_row():
    out, expect = _flagship_pair()
    out.loc[2, "scrubbed_sha256"] = _sha("rewritten without a redaction")
    fails, _ = checks.check_flagship(out, expect, len(out))
    assert any("unscrubbed kept rows" in f for f in fails)


def test_verdict_digest_ignores_row_order():
    out, _ = _flagship_pair()
    shuffled = out.sample(frac=1, random_state=1)
    assert checks.verdict_digest(out) == checks.verdict_digest(shuffled)
    out.loc[3, "n_redactions"] = 7
    assert checks.verdict_digest(out) != checks.verdict_digest(shuffled)


def _curation_stages():
    df, planted = inputs.curation_docs(60, seed=2)
    text = dict(zip(df["doc_id"], df["text"]))
    survivors = sorted(
        int(i) for i in df.groupby(df["text"].map(_sha))["doc_id"].min()
    )
    kept = pd.DataFrame({"doc_id": survivors, "text": [text[i] for i in survivors]})
    comp = {i: i for i in survivors}
    for a, b in planted:
        comp[max(a, b)] = min(a, b)
    split = pd.DataFrame(
        {"doc_id": survivors, "split": ["train" if comp[i] % 2 else "test" for i in survivors]}
    )
    stages = {"exact_dedup": kept, "line_dedup": kept, "split": split, "shuffled": kept[["doc_id"]]}
    meta = {"exact_survivors": survivors, "planted_pairs": planted}
    return stages, meta, len(df)


def test_curation_checker_accepts_consistent_output():
    stages, meta, n = _curation_stages()
    fails, f1 = checks.check_curation(stages, n, meta)
    assert fails == [] and f1 == 1.0


def test_curation_checker_rejects_straddling_pair_and_lost_rows():
    stages, meta, n = _curation_stages()
    a, b = meta["planted_pairs"][0]
    split = stages["split"].set_index("doc_id")["split"]
    split[b] = "val" if split[a] != "val" else "train"
    stages["split"] = split.reset_index()
    stages["shuffled"] = stages["shuffled"].iloc[1:]
    fails, _ = checks.check_curation(stages, n, meta)
    assert any("straddle" in f for f in fails)
    assert any("not conserved" in f for f in fails)


def test_curation_checker_rejects_surviving_exact_duplicate():
    stages, meta, n = _curation_stages()
    dup = stages["exact_dedup"].iloc[[0]].assign(doc_id=n + 1)
    stages["exact_dedup"] = pd.concat([stages["exact_dedup"], dup])
    fails, f1 = checks.check_curation(stages, n + 2, meta)
    assert any("share a sha256" in f for f in fails)
    assert f1 < 1.0


# ------------------------------------------------------------ tracing


def test_span_self_time_subtracts_children():
    t = tracing.Tracer(run_id="r")
    t.spans = [
        tracing.Span("run", 0.0, 10.0, None, "r"),
        tracing.Span("a", 1.0, 4.0, "run", "r"),
        tracing.Span("b", 3.0, 6.0, "run", "r"),  # overlaps a
        tracing.Span("c", 2.0, 3.0, "a", "r"),  # grandchild: not subtracted twice
    ]
    assert t.self_time("run") == pytest.approx(5.0)
    assert t.self_time("a") == pytest.approx(2.0)
    assert t.total("a") == pytest.approx(3.0)


def test_tracer_records_nested_spans():
    t = tracing.Tracer(run_id="r")
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("inner", "outer"), ("outer", None)]
    assert t.self_time("outer") <= t.total("outer")


def test_event_log_parser_on_tiny_fixed_run():
    log = os.path.join(HERE, "fixtures", "tiny_eventlog.jsonl")
    groups = tracing.parse_event_log([log])
    assert set(groups) == {"scan", "full", ""}
    scan, full, none = groups["scan"], groups["full"], groups[""]
    assert (scan.jobs, scan.tasks, full.jobs, full.tasks, none.tasks) == (1, 2, 1, 4, 1)
    assert scan.run_s == pytest.approx(0.37)
    assert scan.cpu_s == pytest.approx(0.25)
    assert scan.gc_s == pytest.approx(0.01)
    assert scan.tasks_of_largest_stage() == 2
    assert scan.skew() == pytest.approx(0.3 / 0.2)
    # Python-crossing bytes come from SQL metric ids named in the plan
    assert (full.py_bytes_sent, full.py_bytes_returned) == (6000, 600)
    assert full.shuffle_write_bytes == 5120
    assert (full.shuffle_read_bytes, full.spill_bytes) == (5120, 768)
    # stage 1 (3 tasks, 2.1 s) is the busiest stage: max 1.2 s / median 0.5 s
    assert full.skew() == pytest.approx(1.2 / 0.5)
    both = tracing.merge(groups, ["scan", "full"])
    assert both.tasks == 6 and both.py_bytes_sent == 6000


def test_stopwatch_discounts_stolen_cpu():
    assert tracing.steal_share(3.0, 1.0) == pytest.approx(0.25)
    assert tracing.steal_share(0.0, 0.0) == 0.0
    with tracing.Stopwatch() as sw:
        sum(range(100_000))
    assert 0.0 <= sw.steal <= 1.0
    assert sw.s == pytest.approx(sw.wall / (1 + tracing.STEAL_SLOWDOWN * sw.steal))


def test_peak_rss_counts_this_process():
    rss = tracing.peak_rss_by_process()
    assert rss[f"{os.getpid()}:python3"] > 1.0 or any(
        k.startswith(f"{os.getpid()}:") and v > 1.0 for k, v in rss.items()
    )
