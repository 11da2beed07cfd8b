"""Repo-level rollup filtering — aggregate verdicts for whole repositories.

Code-corpus curation filters at two granularities: per file (the
pipeline's keep/drop) and per *repository* — a repo whose files are
overwhelmingly low-quality (vendored minified bundles, generated
protobuf stubs, lockfile farms) is dropped wholesale even when a few
individual files squeak past the per-file gate (The Stack / StarCoder
data pipelines both do this).  The rollup is one grouped aggregation:
per-group document count, token mass, and an exact integer quality sum.

The keep verdict uses exact integer math on the milli-quantized score
(``quality_sum >= tau_milli * n_docs``) rather than comparing a
floating-point mean against a threshold, so the decision is
bit-reproducible across engines, partitionings, and aggregation orders
— floating-point sums are order-dependent; bigint sums are not.

Reference parity: the reference engine processes files independently
and has no corpus-level stage; this operator is part of the
LLM-training-data extension surface.

Scale shape (100 TB lens): a single partial-aggregated ``groupBy`` on
the repo key — map-side combine reduces each partition to one row per
repo before the Exchange, so the shuffle carries O(#repos) rows, not
O(#files).  Content never shuffles: the projection drops ``text``
before the Exchange (quality/token signals are computed scan-side).
Mega-repo skew does not apply — partial aggregation bounds any one
key's shuffle contribution to one row per upstream partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from language_identification_spark.functions.text import (
    quality_score_col,
    token_count_col,
)


def repo_rollup(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    tau_milli: int = 500,
    min_docs: int = 1,
) -> DataFrame:
    """Per-repo aggregate stats plus an exact-integer keep verdict.

    Output columns: ``<group_col>``, ``n_docs``, ``tokens_total``,
    ``quality_sum`` (sum of per-doc milli-quantized quality scores),
    ``repo_keep`` (quality mean >= tau_milli/1000 AND n_docs >= min_docs,
    decided in integer arithmetic).
    """
    t = F.col(text_col)
    scored = df.select(
        F.col(group_col),
        F.round(quality_score_col(t) * 1000).cast("long").alias("q_milli"),
        token_count_col(t).alias("n_tok"),
    )
    agg = scored.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("tokens_total"),
        F.sum("q_milli").alias("quality_sum"),
    )
    keep = (F.col("quality_sum") >= F.lit(int(tau_milli)) * F.col("n_docs")) & (
        F.col("n_docs") >= F.lit(int(min_docs))
    )
    return agg.select(
        group_col, "n_docs", "tokens_total", "quality_sum", keep.alias("repo_keep")
    )


MAX_POSTING = 64  # a file hash in more repos than this pairs none of them


def fork_pairs(
    df: DataFrame,
    repo_col: str = "source",
    text_col: str = "text",
    min_jaccard_milli: int = 200,
) -> DataFrame:
    """Repo-level fork/mirror detection via exact Jaccard over file-hash sets.

    Forked and mirrored repositories are the dominant duplication mode in
    code corpora (The Stack dedups forks explicitly before any per-file
    pass); two repos sharing most file *contents* are one repo for
    training purposes.  Each repo becomes the set of its distinct file
    content hashes; candidate pairs come from a posting-list self-join on
    the hash (only repos that share at least one file ever meet), and the
    exact Jaccard ``|A & B| / |A u B|`` is integer arithmetic on set
    sizes.

    ``MAX_POSTING`` drops hashes present in more than that many repos
    (vendored boilerplate: empty __init__.py, LICENSE files, lockfiles) —
    the same skew-cap pattern as the MinHash bands in
    ``operators/dedup.py``; without it one ubiquitous file contributes
    O(#repos^2) candidate pairs.

    Output: ``repo_a`` < ``repo_b``, ``n_shared``, ``n_a``, ``n_b``,
    ``jaccard_milli`` (floor(1000 * shared / union), exact long), filtered
    to ``jaccard_milli >= min_jaccard_milli``.

    Scale shape (100 TB lens): content is hashed scan-side and never
    shuffles; the distinct + posting join move (repo, 64-hex hash) pairs
    only.  The pair aggregation is partial-combined on (repo_a, repo_b),
    and the two size joins broadcast the O(#repos) size table.  The
    posting cap bounds any one hash's pair fan-out to
    ``MAX_POSTING^2/2``.
    """
    files = df.select(
        F.col(repo_col).alias("repo"),
        F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256).alias("h"),
    ).distinct()
    sizes = files.groupBy("repo").agg(F.count(F.lit(1)).alias("n_files"))
    eligible = (
        files.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_repos"))
        .filter(F.col("n_repos") <= F.lit(MAX_POSTING))
        .select("h")
    )
    posting = files.join(eligible, on="h", how="inner")
    a = posting.select(F.col("h"), F.col("repo").alias("repo_a"))
    b = posting.select(F.col("h"), F.col("repo").alias("repo_b"))
    shared = (
        a.join(b, on="h")
        .filter(F.col("repo_a") < F.col("repo_b"))
        .groupBy("repo_a", "repo_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("repo").alias("repo_a"), F.col("n_files").alias("n_a"))
    sb = sizes.select(F.col("repo").alias("repo_b"), F.col("n_files").alias("n_b"))
    out = (
        shared.join(F.broadcast(sa), on="repo_a")
        .join(F.broadcast(sb), on="repo_b")
        .withColumn(
            # integral division (`div`), not floor-of-double-divide: the
            # verdict is exact long arithmetic, immune to IEEE rounding at
            # quotient boundaries and identical in every engine
            "jaccard_milli",
            F.expr(
                "(1000 * n_shared) div (n_a + n_b - n_shared)"
            ).cast("long"),
        )
        .filter(F.col("jaccard_milli") >= F.lit(int(min_jaccard_milli)))
    )
    return out.select("repo_a", "repo_b", "n_shared", "n_a", "n_b", "jaccard_milli")


def collapse_forks(
    df: DataFrame,
    repo_col: str = "source",
    text_col: str = "text",
    min_jaccard_milli: int = 200,
) -> DataFrame:
    """One representative repo per fork/mirror cluster.

    ``fork_pairs`` mines which repos are forks of each other; collapsing
    them needs the transitive closure (A forks B, B forks C — one family)
    and a deterministic winner.  Clusters come from the O(log n)
    large-star/small-star contraction over the pair graph; the winner per
    cluster is the repo with the MOST distinct file contents (the fork
    family's superset candidate), repo name ascending as the tie-break.

    Output: one row per repo — ``repo``, ``rep_repo`` (its cluster's
    winner; itself when unclustered), ``n_files`` (distinct content
    hashes), ``is_rep``.  Filtering a corpus to representatives is then a
    broadcast semi-join on ``is_rep`` rows, same pattern as
    ``license.filter_permissive_repos``.

    Scale shape (100 TB lens): every table past the (already skew-capped)
    pair mining is O(#repos) — cluster labels, size table, winner
    selection — so the window sorts per-cluster member lists (fork
    families: tens, not millions) and every join broadcasts.  Content is
    hashed scan-side in ``fork_pairs`` and never shuffles.
    """
    from pyspark.sql import Window

    from language_identification_spark.operators.dedup import (
        connected_components_star,
    )

    pairs = fork_pairs(df, repo_col, text_col, min_jaccard_milli)
    comps = connected_components_star(pairs, "repo_a", "repo_b")
    sizes = (
        df.select(
            F.col(repo_col).alias("repo"),
            F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256).alias("h"),
        )
        .distinct()
        .groupBy("repo")
        .agg(F.count(F.lit(1)).alias("n_files"))
    )
    members = comps.join(
        F.broadcast(sizes.withColumnRenamed("repo", "node")), "node"
    )
    w = Window.partitionBy("comp").orderBy(
        F.col("n_files").desc(), F.col("node").asc()
    )
    rep = (
        members.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("comp", F.col("node").alias("rep_repo"))
    )
    out = (
        sizes.join(
            F.broadcast(comps.withColumnRenamed("node", "repo")), "repo", "left"
        )
        .join(F.broadcast(rep), "comp", "left")
        .select(
            "repo",
            F.coalesce("rep_repo", "repo").alias("rep_repo"),
            F.col("n_files").cast("long").alias("n_files"),
            (F.coalesce("rep_repo", "repo") == F.col("repo")).alias("is_rep"),
        )
    )
    return out


def quota_cap(
    df: DataFrame,
    group_col: str = "source",
    key_col: str = "doc_id",
    quota: int = 100,
    salt: str = "quota",
) -> DataFrame:
    """Keep at most ``quota`` files per repo, selected deterministically.

    Mega-repos dominate naive corpus samples (one monorepo can out-mass a
    thousand median repos); training mixes cap per-repo contribution so no
    single origin owns the gradient (The Stack v2 and StarCoder2 both cap
    or down-weight giant repos).  Selection must be reproducible across
    runs, retries, and engines, so the ``quota`` survivors are the rows
    with the smallest ``sha256("<salt>|<key>")`` digest (key ascending as
    the tie-break — digests of distinct keys never collide in practice,
    but the output contract must not depend on that), NOT ``df.sample``
    or ``F.rand``.

    Scale shape (100 TB lens): content never shuffles — the rank runs on a
    (repo, key, 64-hex digest) projection, so the window Exchange carries
    ids only.  The kept-key table is bounded at ``quota x #repos`` BY
    CONSTRUCTION, which is what makes the broadcast semi-join back to the
    corpus safe at any corpus size (same pattern as
    ``license.filter_permissive_repos``).  Mega-repo skew inside the window
    sorts only that repo's ids; ranking is one sort of O(repo size) ids,
    not content.
    """
    if quota < 1:
        raise ValueError(f"quota must be >= 1, got {quota}")
    from pyspark.sql import Window

    digest = F.sha2(
        F.encode(
            F.concat_ws("|", F.lit(salt), F.col(key_col).cast("string")), "UTF-8"
        ),
        256,
    )
    ids = df.select(F.col(group_col), F.col(key_col), digest.alias("_qh"))
    w = Window.partitionBy(group_col).orderBy(F.col("_qh"), F.col(key_col))
    kept = (
        ids.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.lit(int(quota)))
        .select(group_col, key_col)
    )
    return df.join(F.broadcast(kept), on=[group_col, key_col], how="left_semi")


def skew_profile(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    top_n: int = 20,
) -> DataFrame:
    """Heavy-hitter diagnostic: which keys would wreck a shuffle.

    The north rule handles mega-repo skew with salting and quota caps —
    this is the measurement that precedes choosing those factors: per-key
    row count, character mass, and corpus share (integer milli, exact
    ``(1000*x) div total`` so the result is bit-reproducible across
    engines and aggregation orders), for the ``top_n`` heaviest keys.
    A key holding >1/shuffle-partition-count of the corpus is the salting
    candidate; a key dominating character mass more than row count is the
    long-file tail a byte-based quota catches and a row quota misses.

    Scale shape (100 TB lens): one partial-aggregated ``groupBy`` on the
    key — map-side combine bounds the Exchange to one row per key per
    upstream partition, so the diagnostic itself is immune to the skew it
    measures.  Content never shuffles (length() is computed scan-side);
    the totals are a broadcast single-row cross join, and the top-N cut is
    a TakeOrderedAndProject (count desc, key asc — deterministic under
    ties), never a global sort.
    """
    per = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length(F.coalesce(F.col(text_col), F.lit("")))).alias("n_chars"),
    )
    tot = per.agg(
        F.sum("n_rows").alias("_t_rows"), F.sum("n_chars").alias("_t_chars")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "n_rows",
            "n_chars",
            F.expr("(1000 * n_rows) div _t_rows").alias("rows_share_milli"),
            F.expr("(1000 * n_chars) div _t_chars").alias("chars_share_milli"),
        )
        # asc_nulls_last: Spark's ascending default is NULLS FIRST while
        # ANSI engines (the DuckDB oracle) default to NULLS LAST — a NULL
        # key tied at the top_n boundary must cut identically in both
        .orderBy(F.col("n_rows").desc(), F.col("key").asc_nulls_last())
        .limit(top_n)
    )
