"""spark-submit entry point for the training-data curation pipeline.

Chains the corpus-curation operator family end to end — the sequence a
pre-training data run actually executes over a document lake:

    spark-submit --py-files /tmp/pipeline.zip jobs/run_curation.py \
        --source /path/to/documents_parquet \
        --out /path/to/output_root \
        [--benchmark /path/to/heldout_parquet]   # decontamination
        [--rates '{"en": 0.35, "de": 1.0}' --default-rate 0.1]
        [--mixture-budget 1000000000 --alpha 0.5 --max-epochs 4]
        [--pack-budget 2048 --pack-shards 1024]
        [--line-dedup] [--span-dedup 8] [--materialize]

Stages (each optional stage is skipped unless its flag is given; every
stage reads the previous stage's parquet, so a failed run resumes by
re-submitting — completed stage outputs are detected and reused; a
re-submit into the same ``--out`` from a changed ``--source`` or with other
arguments raises, see ``checkpoint.check_job_record``):

0. **license filter** (``--license-filter``) — SPDX/header license
   detection per file, repo-level rollup, permissive-only keep (one
   copyleft file poisons the repo).
1. **exact dedup** — first doc per sha256(content) survives.
2. **line dedup** (``--line-dedup``) — C4/RefinedWeb-style cross-corpus
   repeated-line removal.
2b. **span dedup** (``--span-dedup N``) — ExactSubstr-style rewrite
   deleting cross-doc repeated word N-gram spans.
3. **decontamination** (``--benchmark``) — drop docs sharing a word
   13-gram with the held-out set (GPT-3 appendix C semantics).
4. **stratified sampling** (``--rates``) — deterministic sha256-bucket
   rebalancing.
5. **profile** — per-lang token distribution of the surviving corpus
   (the report sampling/mixture decisions are made from).
6. **mixture plan + epoch upsample** (``--mixture-budget``) — t^alpha
   temperature weights realized as deterministic per-doc copy counts.
7. **packing** (``--pack-budget``) — every (doc, copy) assigned its
   training-sequence slot; ``--materialize`` also writes the packed
   sequence hashes (budget-bounded regroup).
7b. **split** (``--split``) — leakage-safe train/val/test assignment
   over the post-filter corpus: near-dup components (minhash pairs at
   ``--split-jaccard-milli``) co-assigned via the component-id sha256
   bucket, so no duplicate cluster straddles train and test.
8. **shuffle** (``--shuffle-seed``) — deterministic training-order keys
   (sha256(seed|id)) with shard assignment, written partitioned by
   shard so trainers read shards independently.

All stages are pure DataFrame plans: no collect(), no driver-side row
loops; reruns are bit-identical (sha256-bucket determinism end to end).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _write(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--group-col", default="lang")
    ap.add_argument("--benchmark", default=None,
                    help="held-out parquet to decontaminate against")
    ap.add_argument("--ngram", type=int, default=13)
    ap.add_argument("--rates", default=None,
                    help='JSON stratum->rate map, e.g. \'{"en": 0.35}\'')
    ap.add_argument("--default-rate", type=float, default=1.0)
    ap.add_argument("--license-filter", action="store_true",
                    help="permissive-license repos only (SPDX/header "
                    "detection + repo rollup)")
    ap.add_argument("--repo-col", default="source",
                    help="repository column for the license rollup")
    ap.add_argument("--shuffle-seed", default=None,
                    help="write a final shard-partitioned deterministic "
                    "training-order shuffle with this seed")
    ap.add_argument("--shuffle-shards", type=int, default=1024)
    ap.add_argument("--line-dedup", action="store_true")
    ap.add_argument("--fork-collapse", type=int, default=None, metavar="J_MILLI",
                    help="collapse fork families first: keep only files of each "
                         "cluster's representative repo (exact Jaccard over "
                         "file-hash sets >= J_MILLI/1000)")
    ap.add_argument("--repo-quota", type=int, default=None, metavar="K",
                    help="keep at most K files per repo, smallest-digest "
                         "selection (deterministic mega-repo downweighting)")
    ap.add_argument("--collapse-runs", action="store_true",
                    help="rewrite each file collapsing runs of identical "
                         "consecutive lines (row-local, zero shuffle)")
    ap.add_argument("--span-dedup", type=int, default=None, metavar="N",
                    help="remove cross-doc repeated word N-gram spans "
                    "(ExactSubstr-style rewrite)")
    ap.add_argument("--mixture-budget", type=int, default=None,
                    help="token budget for the temperature mixture")
    ap.add_argument("--alpha", type=float, default=0.5)
    ap.add_argument("--max-epochs", type=float, default=4.0)
    ap.add_argument("--pack-budget", type=int, default=None,
                    help="training-sequence length in tokens")
    ap.add_argument("--pack-shards", type=int, default=1024)
    ap.add_argument("--materialize", action="store_true",
                    help="also write packed sequence hashes")
    ap.add_argument("--rank-weighting", action="store_true",
                    help="annotate docs with import-graph PageRank "
                    "sampling weights (requires --module-owners)")
    ap.add_argument("--module-owners", default=None,
                    help="parquet (module, repo) ownership table mapping "
                    "imported module names to owning repos")
    ap.add_argument("--pagerank-iters", type=int, default=10)
    ap.add_argument("--split", default=None, metavar="FRACS_JSON",
                    help='leakage-safe split assignment, e.g. '
                         '\'{"train":0.9,"val":0.05,"test":0.05}\' — '
                         'near-dup components co-assigned')
    ap.add_argument("--split-jaccard-milli", type=int, default=500,
                    help="minhash threshold (milli-Jaccard) for the split's "
                         "near-dup components")
    ap.add_argument("--app-name", default="curation")
    args = ap.parse_args()
    if args.rank_weighting and not args.module_owners:
        ap.error("--rank-weighting requires --module-owners")

    from language_identification_spark.checkpoint import check_job_record

    check_job_record(args)

    from language_identification_spark.operators.dedup import exact_dedup
    from language_identification_spark.operators.decontaminate import decontaminate
    from language_identification_spark.operators.linededup import dedup_lines
    from language_identification_spark.operators.mixture import (
        mixture_plan,
        upsample_epochs,
    )
    from language_identification_spark.operators.packing import (
        materialize_sequences,
        pack_sequences,
    )
    from language_identification_spark.operators.profile import corpus_profile
    from language_identification_spark.operators.sampling import stratified_sample

    # plain builder (no master override) so spark-submit controls deployment;
    # when embedded (tests, notebooks) reuse the active session and leave
    # its lifecycle to the caller
    owned = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName(args.app_name).getOrCreate()
    report: dict[str, object] = {"source": args.source}

    cur_path = args.source
    stage_no = 0

    def stage(name: str, fn) -> None:
        """Run one corpus->corpus stage with parquet handoff + resume."""
        nonlocal cur_path, stage_no
        stage_no += 1
        out = os.path.join(args.out, f"{stage_no:02d}_{name}")
        if not _done(out):
            _write(fn(spark.read.parquet(cur_path)), out)
        report[name] = out
        cur_path = out

    def _exact_dedup_corpus(df):
        # exact_dedup returns groups; the corpus keeps representatives only
        # (left-semi on ids — content never joins)
        reps = exact_dedup(df, args.text_col, args.id_col).select(
            F.col("representative").alias(args.id_col)
        )
        return df.join(reps, args.id_col, "left_semi")

    if args.license_filter:
        from language_identification_spark.operators.license import (
            detect_license,
            filter_permissive_repos,
            repo_license_rollup,
        )

        def _license_filter(df):
            # keep license_spdx as corpus metadata; the boolean flag is
            # redundant after the repo-level verdict is applied
            lic = detect_license(df, text_col=args.text_col)
            roll = repo_license_rollup(lic, repo_col=args.repo_col)
            return filter_permissive_repos(
                lic, roll, repo_col=args.repo_col
            ).drop("license_permissive")

        stage("license_filter", _license_filter)

    if args.fork_collapse:
        from language_identification_spark.operators.repolevel import (
            collapse_forks,
        )

        def _fork_collapse(df):
            # verdict table is O(#repos); keep only representative repos'
            # files (broadcast semi-join, same pattern as the license filter)
            verdict = collapse_forks(
                df, repo_col=args.repo_col, text_col=args.text_col,
                min_jaccard_milli=args.fork_collapse,
            )
            reps = verdict.filter(F.col("is_rep")).select(
                F.col("repo").alias(args.repo_col)
            )
            return df.join(F.broadcast(reps), args.repo_col, "left_semi")

        stage("fork_collapse", _fork_collapse)

    if args.repo_quota:
        from language_identification_spark.operators.repolevel import quota_cap

        stage(
            "repo_quota",
            lambda df: quota_cap(
                df, group_col=args.repo_col, key_col=args.id_col,
                quota=args.repo_quota,
            ),
        )

    stage("exact_dedup", _exact_dedup_corpus)

    if args.collapse_runs:
        from language_identification_spark.operators.linededup import (
            collapse_runs_rewrite,
        )

        stage(
            "collapse_runs",
            lambda df: collapse_runs_rewrite(df, text_col=args.text_col),
        )

    if args.line_dedup:
        # dedup_lines rebuilds (id, text); re-attach the metadata columns
        stage(
            "line_dedup",
            lambda df: dedup_lines(df, text_col=args.text_col, id_col=args.id_col)
            .select(args.id_col, args.text_col)
            .join(df.drop(args.text_col), args.id_col),
        )

    if args.span_dedup:
        from language_identification_spark.operators.spandedup import (
            remove_repeated_spans,
        )

        # rewrite keeps every metadata column; the removal count is a
        # per-stage diagnostic, not corpus schema — drop it for handoff.
        # The gram posting list is staged to parquet (cluster-safe lineage
        # cut; see mark_repeated_spans docstring)
        stage(
            "span_dedup",
            lambda df: remove_repeated_spans(
                df, n=args.span_dedup,
                text_col=args.text_col, id_col=args.id_col,
                staging_path=os.path.join(args.out, "_span_posting"),
            ).drop("n_tokens_removed"),
        )

    if args.benchmark:
        bench_df = spark.read.parquet(args.benchmark)
        # decontaminate returns the CONTAMINATED ids; the corpus drops them
        stage(
            "decontaminated",
            lambda df: df.join(
                decontaminate(
                    df, bench_df, n=args.ngram,
                    text_col=args.text_col, id_col=args.id_col,
                ).select(args.id_col),
                args.id_col,
                "left_anti",
            ),
        )

    if args.rates:
        rates = {k: float(v) for k, v in json.loads(args.rates).items()}
        stage(
            "sampled",
            lambda df: stratified_sample(
                df, args.group_col, args.id_col, rates,
                default_rate=args.default_rate,
            ),
        )

    if args.rank_weighting:
        from language_identification_spark.operators.graph import (
            extract_imports,
            pagerank_int,
            rank_weights,
            repo_edges,
        )

        def _rank_weighting(df):
            # graph over the CURRENT corpus (post-dedup/filter): ranks
            # reflect what actually ships.  The rank table is O(#repos)
            # and broadcasts; the corpus gains two integer columns where
            # each row lives — no content shuffle.
            owners = spark.read.parquet(args.module_owners)
            imports = extract_imports(df, text_col=args.text_col,
                                      id_col=args.id_col)
            doc_repos = df.select(
                args.id_col, F.col(args.repo_col).alias("repo")
            )
            nodes = df.select(F.col(args.repo_col).alias("node")).distinct()
            # the ownership table may name repos with no documents in the
            # CURRENT corpus (filtered out upstream, or never present);
            # pagerank_int's contract requires both edge endpoints in
            # nodes — without this semi-join those edges would deflate
            # in-corpus contributions and silently leak rank mass
            edges = repo_edges(imports, doc_repos, owners).join(
                nodes.withColumnRenamed("node", "dst"), "dst", "left_semi"
            )
            ranks = pagerank_int(nodes, edges, n_iters=args.pagerank_iters)
            rw = rank_weights(
                df, ranks, repo_col=args.repo_col, id_col=args.id_col
            ).select(
                args.id_col,
                "rank_ppb",
                # unranked repos sample at weight 1.0, explicitly
                F.coalesce("weight_ppm", F.lit(1_000_000)).alias("weight_ppm"),
            )
            return df.join(rw, args.id_col)

        stage("rank_weighting", _rank_weighting)

    if args.split:
        from language_identification_spark.operators.dedup import (
            connected_components_star,
            jaccard_pairs,
        )
        from language_identification_spark.operators.splits import (
            leakage_safe_split,
        )

        fracs = {k: float(v) for k, v in json.loads(args.split).items()}

        def _split(df):
            # split LAST (over what actually ships) so train/val/test see
            # the same post-filter distribution; near-dup components are
            # co-assigned so no duplicate cluster straddles train and test.
            # Minhash features stage to parquet (cluster-safe lineage cut,
            # same contract as the span-dedup posting list).
            pairs = jaccard_pairs(
                df, args.text_col, args.id_col,
                threshold=args.split_jaccard_milli / 1000.0,
                staging_path=os.path.join(args.out, "_split_features"),
            )
            comps = connected_components_star(pairs)
            assign = leakage_safe_split(df, comps, fracs, id_col=args.id_col)
            # corpus keeps its schema + the split column; audit columns
            # (split_key, bucket) are re-derivable and stay out of handoff
            return df.join(
                assign.select(args.id_col, "split"), args.id_col
            )

        stage("split", _split)

    profile_path = os.path.join(args.out, "profile")
    if not _done(profile_path):
        _write(
            corpus_profile(
                spark.read.parquet(cur_path), args.group_col, args.text_col
            ),
            profile_path,
        )
    report["profile"] = profile_path

    if args.mixture_budget:
        plan_path = os.path.join(args.out, "mixture_plan")
        copies_path = os.path.join(args.out, "copies")
        if not _done(plan_path):
            _write(
                mixture_plan(
                    spark.read.parquet(cur_path), args.mixture_budget,
                    group_col=args.group_col, text_col=args.text_col,
                    alpha=args.alpha, max_epochs=args.max_epochs,
                ),
                plan_path,
            )
        if not _done(copies_path):
            docs = spark.read.parquet(cur_path)
            _write(
                upsample_epochs(
                    docs, spark.read.parquet(plan_path),
                    group_col=args.group_col, id_col=args.id_col,
                ).join(docs.drop(args.group_col), args.id_col),
                copies_path,
            )
        report["mixture_plan"] = plan_path
        report["copies"] = copies_path
        cur_path = copies_path

    if args.pack_budget:
        # pack (doc, copy) units: a repeated doc occupies one slot per copy
        assign_path = os.path.join(args.out, "packing")
        docs = spark.read.parquet(cur_path)
        if "copy_idx" in docs.columns:
            docs = docs.withColumn(
                args.id_col,
                F.concat_ws("#", F.col(args.id_col).cast("string"), "copy_idx"),
            )
        if not _done(assign_path):
            _write(
                pack_sequences(
                    docs, budget=args.pack_budget,
                    id_col=args.id_col, text_col=args.text_col,
                    n_shards=args.pack_shards,
                ),
                assign_path,
            )
        report["packing"] = assign_path
        if args.materialize:
            seq_path = os.path.join(args.out, "sequences")
            if not _done(seq_path):
                _write(
                    materialize_sequences(
                        docs, budget=args.pack_budget,
                        id_col=args.id_col, text_col=args.text_col,
                        n_shards=args.pack_shards,
                    ),
                    seq_path,
                )
            report["sequences"] = seq_path

    if args.shuffle_seed is not None:
        from language_identification_spark.operators.ordering import (
            deterministic_shuffle,
        )

        shuffle_path = os.path.join(args.out, "shuffled")
        if not _done(shuffle_path):
            docs = spark.read.parquet(cur_path)
            # after upsampling, (doc, copy) is the training unit — key the
            # shuffle on the composite id so epoch copies of a document
            # scatter across shards instead of stacking in one
            if "copy_idx" in docs.columns:
                docs = docs.withColumn(
                    "_shuffle_id",
                    F.concat_ws(
                        "#", F.col(args.id_col).cast("string"), "copy_idx"
                    ),
                )
                shuffled = deterministic_shuffle(
                    docs, id_col="_shuffle_id",
                    seed=args.shuffle_seed, n_shards=args.shuffle_shards,
                ).drop("_shuffle_id")
            else:
                shuffled = deterministic_shuffle(
                    docs, id_col=args.id_col,
                    seed=args.shuffle_seed, n_shards=args.shuffle_shards,
                )
            shuffled.write.mode("overwrite").partitionBy("shard").parquet(
                shuffle_path
            )
        report["shuffled"] = shuffle_path

    print(json.dumps(report))
    if owned:
        spark.stop()


if __name__ == "__main__":
    main()
