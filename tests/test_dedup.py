"""Dedup operator tests: exact groups, minhash/LSH candidate recall on
constructed near-dups, jaccard verification, simhash locality."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from language_identification_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    simhash_buckets,
)

BASE = (
    "the scheduler retries failed tasks up to three times before giving up "
    "and every request carries a correlation id so traces can be stitched"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("three", "four")),  # near dup of 0
        (3, "completely different content about hash tables and load factors"),
        (4, ""),
        (5, ""),  # exact dup of 4
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    got = {
        r.representative: r.n_copies
        for r in exact_dedup(docs, "text", "doc_id").collect()
    }
    assert got[0] == 2  # 0 and 1
    assert got[4] == 2  # the two empties
    assert got[2] == 1 and got[3] == 1


def test_lsh_finds_near_dups(docs):
    # threshold 0.0 keeps every LSH band candidate
    pairs = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(docs, "text", "doc_id", threshold=0.0).collect()
    }
    assert (0, 1) in pairs  # exact dup always collides
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup should collide
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_jaccard_verification(docs):
    got = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(docs, "text", "doc_id", 0.5).collect()}
    assert got[(0, 1)] == 1.0
    assert 0.8 < got[(0, 2)] < 1.0
    assert got.get((4, 5)) == 1.0  # empty-vs-empty defined as identical


def test_simhash_locality(docs):
    rows = {r.doc_id: r for r in simhash_buckets(docs, "text", "doc_id").collect()}
    assert rows[0].simhash == rows[1].simhash  # identical text
    # near dup within hamming 3 → shares at least one 16-bit chunk
    shared = sum(
        rows[0][f"chunk{c}"] == rows[2][f"chunk{c}"] for c in range(4)
    )
    assert shared >= 1
    # unrelated text differs in most chunks
    far = sum(rows[0][f"chunk{c}"] == rows[3][f"chunk{c}"] for c in range(4))
    assert far <= 1


def test_simhash_dup_pairs(docs):
    from language_identification_spark.operators.dedup import simhash_dup_pairs

    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_dup_pairs(docs, "text", "doc_id").collect()
    }
    assert got[(0, 1)] == 0  # exact dup → identical fingerprint
    assert got[(4, 5)] == 0  # empty-vs-empty identical
    # the one-word swap flips 5 bits on this short text — outside the
    # default radius 3, so the Hamming verify must reject the candidate
    assert (0, 2) not in got
    assert not any(3 in p for p in got)  # unrelated doc never verifies
    # radius > 3 would silently lose recall (4 chunks ⇒ pigeonhole only
    # covers distance 3), so the operator fails closed instead
    for bad in (4, -1):
        with pytest.raises(ValueError, match="max_hamming"):
            simhash_dup_pairs(docs, "text", "doc_id", max_hamming=bad)


def test_simhash_dup_pairs_bucket_cap(spark, monkeypatch):
    # a template cluster larger than MAX_BUCKET is dropped from its buckets;
    # with identical fingerprints every chunk bucket is the same oversized
    # set, so no pairs survive the cap — exact_dedup's job, not simhash's
    from language_identification_spark.operators import dedup

    rows = [(i, BASE) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dedup.simhash_dup_pairs(df, "text", "doc_id")
    assert got.count() == 45  # 10 choose 2 under the cap, all hamming 0
    monkeypatch.setattr(dedup, "MAX_BUCKET", 4)
    assert dedup.simhash_dup_pairs(df, "text", "doc_id").count() == 0


def _union_find(edges):
    """Pure-Python reference: node -> minimum id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components(spark):
    from language_identification_spark.operators.dedup import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 3)], "id_a long, id_b long"
    )
    got = {r.node: r.comp for r in connected_components_star(pairs).collect()}
    # {1,2,3,9} form one component labeled by its minimum, {5,6} another
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}


def test_connected_components_star_matches_union_find(spark):
    """Star contraction agrees with a union-find reference on random graphs
    and on the basic fixture."""
    import random

    from language_identification_spark.operators.dedup import (
        connected_components_star,
    )

    fixture = [(1, 2), (2, 3), (5, 6), (9, 3), (7, 7)]
    pairs = spark.createDataFrame(fixture, "id_a long, id_b long")
    got = {r.node: r.comp for r in connected_components_star(pairs).collect()}
    # 7's only pair is a self-pair: still an endpoint, so it must appear —
    # as its own singleton
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5, 7: 7}
    assert got == _union_find(fixture)

    rng = random.Random(7)
    # self-edges left in deliberately: they must not merge or drop nodes
    edges = [
        (rng.randrange(60), rng.randrange(60)) for _ in range(70)
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    star = {r.node: r.comp for r in connected_components_star(df).collect()}
    assert star == _union_find(edges)


def test_connected_components_star_handles_long_chain(spark, monkeypatch):
    """A 60-node chain (diameter 59): star converges in O(log n) rounds,
    and raises rather than mislabel when its round cap is too low."""
    from language_identification_spark.operators import dedup
    from language_identification_spark.operators.dedup import (
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "id_a long, id_b long"
    )
    got = {r.node: r.comp for r in connected_components_star(chain).collect()}
    assert got == {i: 0 for i in range(60)}
    monkeypatch.setattr(dedup, "STAR_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(chain)


def test_keep_representatives(spark):
    """Deduplicated corpus: one representative (component min) per group
    plus all un-grouped rows; anti-join ships only non-representative ids."""
    from language_identification_spark.operators.dedup import (
        connected_components_star,
        keep_representatives,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    comps = connected_components_star(pairs)
    kept = sorted(
        r.doc_id for r in keep_representatives(docs, comps).collect()
    )
    # groups {1,2,3}->1 and {5,6}->5; everything else untouched
    assert kept == [0, 1, 4, 5, 7, 8, 9]

def test_jaccard_null_text_collapses_with_empty(spark):
    # ADVICE r03: sha2(NULL) is NULL, which is neither == nor != any hash, so
    # pre-fix every candidate pair touching a NULL-text doc silently vanished.
    # The features UDF maps NULL → "" (`t or ""`); the content hash must
    # collapse the same way so NULL/empty docs still report jaccard 1.0.
    rows = [(0, ""), (1, None), (2, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(df, "text", "doc_id", 0.5).collect()
    }
    assert got.get((0, 1)) == 1.0
    assert got.get((0, 2)) == 1.0
    assert got.get((1, 2)) == 1.0

def test_lsh_bucket_cap_boundary_and_recall_through_other_bands(spark):
    # VERDICT r03 #8: pin the docstring's skew-cap claims with controlled
    # signatures — a bucket at exactly max_bucket is KEPT, a bucket above it
    # is DROPPED, and members of the dropped bucket still pair through their
    # other, more selective bands.
    from language_identification_spark.operators.dedup import (
        LSH_BANDS,
        N_PERM,
        _band_table,
        _pairs_from_bands,
    )

    rpb = N_PERM // LSH_BANDS
    cap = 4

    def sig(doc_id, band_slices):
        # unique filler everywhere, then overwrite chosen bands' slices
        s = [doc_id * 1000 + i for i in range(N_PERM)]
        for band, val in band_slices.items():
            s[band * rpb : (band + 1) * rpb] = [val] * rpb
        return s

    rows = []
    # band 0: ALL 10 docs share the slice → bucket size 10 > cap → dropped
    # band 1: docs 0 and 1 share a slice → size 2 → the pair must survive
    # band 2: docs 2,3,4,5 share a slice → size == cap → kept, 6 pairs
    for d in range(10):
        slices = {0: 7}
        if d in (0, 1):
            slices[1] = 8
        if d in (2, 3, 4, 5):
            slices[2] = 9
        rows.append((d, sig(d, slices)))
    sigs = spark.createDataFrame(rows, "doc_id long, sig array<long>")

    pairs = {
        (r.id_a, r.id_b)
        for r in _pairs_from_bands(
            _band_table(sigs, "doc_id", cap), "doc_id"
        ).collect()
    }
    at_cap = {(a, b) for a in (2, 3, 4, 5) for b in (2, 3, 4, 5) if a < b}
    assert pairs == {(0, 1)} | at_cap
    # sanity: without the cap the giant band-0 bucket yields all 45 pairs
    uncapped = {
        (r.id_a, r.id_b)
        for r in _pairs_from_bands(
            _band_table(sigs, "doc_id", 1000), "doc_id"
        ).collect()
    }
    assert len(uncapped) == 45


def test_exact_dup_cluster_beyond_cap_is_exact_dedups_job(spark, monkeypatch):
    # The documented division of labor: a dense EXACT-dup cluster larger
    # than MAX_BUCKET collides in every band, so LSH drops all its buckets —
    # and exact_dedup still reports the full cluster.
    from language_identification_spark.operators import dedup

    monkeypatch.setattr(dedup, "MAX_BUCKET", 4)
    n = 6
    rows = [(i, BASE) for i in range(n)] + [(99, "unrelated text entirely")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = jaccard_pairs(df, "text", "doc_id", threshold=0.0).collect()
    assert pairs == []
    groups = {
        r.representative: r.n_copies
        for r in exact_dedup(df, "text", "doc_id").collect()
    }
    assert groups[0] == n

def test_winnow_dup_pairs_shared_substring(spark):
    # the winnowing guarantee: two files sharing a sufficiently long
    # substring share a fingerprint — copied-then-tweaked code pairs up,
    # unrelated code does not
    from language_identification_spark.operators.dedup import winnow_dup_pairs

    shared = "def retry_with_backoff(attempts, base_delay, jitter_frac):"
    rows = [
        (0, shared + " pass  # original implementation with comments"),
        (1, "import os\n" + shared + " return None  # copied helper"),
        (2, "completely unrelated parser for configuration entries"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.shared_fps
        for r in winnow_dup_pairs(df, "text", "doc_id", min_shared=2).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] >= 2
    assert not any(2 in p for p in pairs)


def test_winnow_dup_pairs_boilerplate_cap(spark, monkeypatch):
    # a fingerprint shared by more docs than MAX_BUCKET (license-header
    # boilerplate) must not explode into pairs
    from language_identification_spark.operators import dedup

    header = "licensed under the apache license version two point zero "
    rows = [(i, header + f"unique tail number {i} with its own words") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.winnow_dup_pairs(df, "text", "doc_id", min_shared=1).count()
    monkeypatch.setattr(dedup, "MAX_BUCKET", 4)
    capped = dedup.winnow_dup_pairs(df, "text", "doc_id", min_shared=1).count()
    assert uncapped == 28  # all 8 docs pair through the shared header
    assert capped < uncapped  # header fingerprints above the cap dropped


def test_winnow_dup_pairs_staged_matches_local(spark, tmp_path):
    # VERDICT r04: the cluster path stages the fingerprint table to parquet
    # (survives executor loss) instead of localCheckpoint; results must be
    # identical, and the staging dir must actually be written
    import os

    from language_identification_spark.operators.dedup import winnow_dup_pairs

    shared = "def retry_with_backoff(attempts, base_delay, jitter_frac):"
    rows = [
        (0, shared + " pass  # original implementation with comments"),
        (1, "import os\n" + shared + " return None  # copied helper"),
        (2, "completely unrelated parser for configuration entries"),
        (3, shared + " raise ValueError  # third copy of the helper"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    local = sorted(
        map(tuple, winnow_dup_pairs(df, "text", "doc_id").collect())
    )
    staging = str(tmp_path / "winnow_fps")
    staged = sorted(
        map(
            tuple,
            winnow_dup_pairs(
                df, "text", "doc_id", staging_path=staging
            ).collect(),
        )
    )
    assert staged == local and len(local) >= 1
    assert os.path.exists(os.path.join(staging, "_SUCCESS"))


def test_simhash_staging_path_same_result(spark, tmp_path):
    import os

    from language_identification_spark.operators.dedup import simhash_dup_pairs

    rows = [(0, BASE), (1, BASE), (2, BASE + " tail"), (3, "unrelated text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    local = sorted(
        map(tuple, simhash_dup_pairs(df, "text", "doc_id").collect())
    )
    staging = str(tmp_path / "simhash_sigs")
    staged = sorted(
        map(
            tuple,
            simhash_dup_pairs(
                df, "text", "doc_id", staging_path=staging
            ).collect(),
        )
    )
    assert staged == local and len(local) >= 1
    assert os.path.exists(os.path.join(staging, "_SUCCESS"))


def test_incremental_jaccard_pairs(spark):
    """incremental(lake, delta) == jaccard_pairs(lake ∪ delta) restricted
    to pairs touching the delta — and lake×lake pairs never appear."""
    from language_identification_spark.operators.dedup import (
        incremental_jaccard_pairs,
        jaccard_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the fence and the birds sing in the morning sun "
    )
    rows = [
        # lake-internal near-dup cluster (ids 1,3)
        (1, base + "alpha ending one"),
        (3, base + "alpha ending two"),
        # cross-boundary near-dup: 5 (lake) ≈ 10 (delta)
        (5, base + "beta variation xyz"),
        (10, base + "beta variation xyw"),
        # delta-internal near-dup cluster (ids 20, 30)
        (20, base + "gamma tail marker"),
        (30, base + "gamma tail marked"),
        # unrelated doc
        (7, "completely different text with no overlap whatsoever here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    lake = docs.filter("doc_id % 10 != 0")
    delta = docs.filter("doc_id % 10 = 0")

    inc = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in incremental_jaccard_pairs(
            lake, delta, "text", "doc_id", threshold=0.5
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    }
    exp = {k: v for k, v in full.items() if k[0] % 10 == 0 or k[1] % 10 == 0}
    assert inc == exp
    # the cross-boundary and delta-internal pairs were actually found
    assert (5, 10) in inc and (20, 30) in inc
    # lake-internal pair exists in the full run but NOT in the incremental
    assert (1, 3) in full and (1, 3) not in inc


def test_incremental_lake_staging(spark, tmp_path):
    from language_identification_spark.operators.dedup import (
        incremental_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "aaa bbb ccc ddd eee fff ggg hhh iii jjj kkk lll"),
         (10, "aaa bbb ccc ddd eee fff ggg hhh iii jjj kkk llm")],
        "doc_id long, text string",
    )
    staged = str(tmp_path / "lake_feat")
    got = incremental_jaccard_pairs(
        docs.filter("doc_id = 1"), docs.filter("doc_id = 10"),
        "text", "doc_id", threshold=0.3, lake_staging=staged,
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 10)]
    # the staged feature table exists and carries no content column
    import os as _os

    assert _os.path.exists(_os.path.join(staged, "_SUCCESS"))
    cols = spark.read.parquet(staged).columns
    assert "text" not in cols and set(cols) >= {"doc_id", "sig", "sh", "ch"}
    # second increment REUSES the committed staging table — no rewrite
    mtimes = {
        f: _os.path.getmtime(_os.path.join(staged, f))
        for f in _os.listdir(staged)
    }
    again = incremental_jaccard_pairs(
        docs.filter("doc_id = 1"), docs.filter("doc_id = 10"),
        "text", "doc_id", threshold=0.3, lake_staging=staged,
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in again] == [(1, 10)]
    assert {
        f: _os.path.getmtime(_os.path.join(staged, f))
        for f in _os.listdir(staged)
    } == mtimes
