"""Import-graph mining and integer PageRank over repositories.

A source-code corpus carries its own dependency structure: the import
statements at the top of each file name modules owned by other repos.
Mining that graph and ranking repos by dependency centrality is a
standard curation signal (rank-weighted sampling keeps widely-depended-on
code; leaf forks get down-weighted).

Two operators:

- ``extract_imports`` — row-local regex mining of ``import X`` /
  ``from X import`` statements from a bounded file prefix (pure Catalyst
  ``regexp_extract_all``; no UDF, no Exchange, cost bounded per row).
- ``pagerank_int`` — iterative PageRank over the repo graph in EXACT
  INTEGER arithmetic ("ppb ranks": the unit mass is 10^9).  Per
  iteration every edge contributes ``rank[src] DIV out_degree[src]``
  (exact integer), inflows are integer sums (order-independent, so the
  result is bit-identical on 8 cores or 1000 executors — float PageRank
  is not, because float addition isn't associative), dangling mass is
  redistributed uniformly, and the damping update is

      rank'[v] = (15 * (SCALE DIV N)) DIV 100
               + (85 * (inflow[v] + dangling_share)) DIV 100

  Floor losses mean total mass is not exactly conserved — this is a
  *ranking*, and the integer spec is what makes it engine-portable: the
  DuckDB oracle replays every iteration bit-for-bit.

Scale shape (100 TB lens): extraction is scan-side; the edge list is
O(files x imports-per-file) but immediately collapsed to distinct
(src_repo, dst_repo) pairs — a partial-aggregated groupBy on short keys;
content never shuffles.  The rank table is O(#repos) (tens of millions
of rows at GitHub scale — megabytes), so every per-iteration join is
broadcast-able; only the one-time edge aggregation shuffles at corpus
scale.  Each iteration's state handoff cuts the lineage
(``partitioning.materialize``), keeping it O(1) deep.

Reference parity: the reference engine has no graph stage; this is part
of the LLM-training-data extension surface (repo-level curation, same
tier as ``operators/repolevel.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..partitioning import materialize

SCALE = 1_000_000_000  # ppb rank mass
IMPORT_RE = r"(?m)^(?:import|from)[ ]+([A-Za-z_][A-Za-z0-9_.]*)"
IMPORT_HEADER = 2048  # leading chars scanned for imports
TOPO_MAX_ITERS = 64  # layering rounds: import DAGs are tens deep
DAMPING_PCT = 85  # PageRank damping, integer percent
CONTEXT_SEP = "\n\n"  # between the files of a repo context


def extract_imports(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Modules imported by each document: ``id_col``, ``module``.

    Scans only the first ``IMPORT_HEADER`` chars (imports live at the top of
    a file; the clip bounds regex cost for pathological rows).  Distinct
    per (doc, module).
    """
    head = F.substring(F.coalesce(F.col(text_col), F.lit("")), 1, IMPORT_HEADER)
    return (
        df.select(
            F.col(id_col),
            F.explode(F.regexp_extract_all(head, F.lit(IMPORT_RE), F.lit(1))).alias(
                "module"
            ),
        )
        .distinct()
    )


def repo_edges(
    imports: DataFrame,
    doc_repos: DataFrame,
    owners: DataFrame,
) -> DataFrame:
    """Distinct cross-repo dependency edges: ``src`` -> ``dst``.

    ``imports``: (doc_id, module); ``doc_repos``: (doc_id, repo);
    ``owners``: (module, repo) module-ownership table.  Unowned modules
    (stdlib/third-party) drop out of the inner join; self-edges are
    removed.  The joins carry only short keys — content never shuffles.
    """
    e = (
        imports.join(doc_repos, "doc_id")
        .withColumnRenamed("repo", "src")
        .join(owners.withColumnRenamed("repo", "dst"), "module")
        .select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return e


def rank_weights(
    df: DataFrame,
    ranks: DataFrame,
    repo_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document sampling weights from repo PageRank: ``id_col``,
    ``repo_col``, ``rank_ppb``, ``weight_ppm``.

    ``weight_ppm = rank_ppb * n_repos DIV 1000`` — an exact-integer
    rank-proportional multiplier normalized so a uniform-rank repo gets
    ~1_000_000 ppm (weight 1.0).  Rank-weighted upsampling then feeds the
    mixture/packing stages: widely-depended-on code is repeated more,
    leaf forks less.

    Scale shape: ``ranks`` is O(#repos) and broadcasts; the corpus never
    shuffles — the join adds two integer columns where each row lives.
    Repos absent from ``ranks`` weight to NULL so callers can choose a
    default rather than silently sampling at 0.
    """
    n = ranks.count()
    r = ranks.select(
        F.col("node").alias(repo_col),
        "rank_ppb",
        F.expr(f"rank_ppb * {n} DIV 1000").alias("weight_ppm"),
    )
    return df.select(id_col, repo_col).join(F.broadcast(r), repo_col, "left").select(
        id_col, repo_col, "rank_ppb", "weight_ppm"
    )


def topo_layers(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Topological layering: ``node``, ``layer`` (long).

    Repo-context training (and any dependency-ordered corpus
    concatenation) wants files emitted *definitions before uses*; the
    standard assignment is Kahn layering, where ``layer(v) = 1 +
    max(layer of all predecessors)`` once every predecessor is assigned
    — equal to the longest path from any root on a DAG.  Roots
    (in-degree 0, including isolated nodes) get layer 0.  Nodes on or
    downstream of a cycle can never satisfy "all predecessors assigned"
    and finish as ``layer = -1`` (deterministic sentinel — downstream of
    a cycle there IS no valid order; callers break cycles upstream, e.g.
    the ``src < dst`` id-order tiebreak the driver query applies).

    ``nodes``: one column ``node`` (distinct); ``edges``: ``src`` ->
    ``dst`` (distinct) meaning src must precede dst.

    All layers are exact integers from order-independent aggregates
    (count + max), so the assignment is bit-identical across engines,
    partitionings, and cluster sizes.

    Scale shape (100 TB lens): the loop runs depth-of-DAG rounds (import
    DAGs are shallow — tens, not thousands); each round is one
    partial-aggregated groupBy over the edge list joined to the current
    assignment on short keys.  Content never enters; the tables carry
    (id, id) and (id, long).  Per-round lineage is cut exactly like
    ``pagerank_int`` (``partitioning.materialize``) so Catalyst analysis
    stays O(1) per iteration.
    """
    nodes = nodes.persist()
    if nodes.isEmpty():
        nodes.unpersist()
        # empty result that preserves the caller's node type
        return nodes.select("node", F.lit(0).cast("long").alias("layer"))
    edges = edges.persist()
    edges.count()
    # r06 negative result (guide §1): broadcasting the per-round
    # node-sized state tables was tried and measured ~2x SLOWER at sf1.0
    # (topo_order 8.0 s -> 19.3 s) — every round's state changes, so each
    # broadcast is a fresh blocking build job that costs more than the
    # tiny shuffle it replaces.  Kept as shuffle joins.

    obs0 = Observation()
    assigned = materialize(
        nodes.join(
            edges.select(F.col("dst").alias("node")).distinct(),
            "node",
            "left_anti",
        )
        .select("node", F.lit(0).cast("long").alias("layer"))
        .observe(obs0, F.count(F.lit(1)).alias("n"))
    )
    n_assigned = int(obs0.get["n"])
    try:
        for _ in range(TOPO_MAX_ITERS):
            # a dst is ready when EVERY in-edge src already has a layer:
            # count(layer) counts non-null joined layers, so total == done
            # is exactly "all predecessors assigned"
            pred = (
                edges.join(
                    assigned.withColumnRenamed("node", "src"), "src", "left"
                )
                .groupBy("dst")
                .agg(
                    F.count(F.lit(1)).alias("total"),
                    F.count("layer").alias("done"),
                    F.max("layer").alias("max_layer"),
                )
            )
            ready = (
                pred.filter(F.col("total") == F.col("done"))
                .join(
                    assigned.withColumnRenamed("node", "dst"), "dst", "left_anti"
                )
                .select(
                    F.col("dst").alias("node"),
                    (F.col("max_layer") + 1).cast("long").alias("layer"),
                )
            )
            # fixpoint detection rides the lineage-cut materialization as an
            # Observation (same pattern as pagerank_int's dangling mass):
            # every ready row is new by the anti-join, so "no new rows" is
            # exactly "assignment count unchanged" — one job per round
            # instead of a separate isEmpty() probe plus the cut
            obs = Observation()
            new_assigned = materialize(
                assigned.unionByName(ready).observe(
                    obs, F.count(F.lit(1)).alias("n")
                )
            )
            n_now = int(obs.get["n"])
            if n_now == n_assigned:
                break
            assigned = new_assigned
            n_assigned = n_now
        leftover = nodes.join(assigned, "node", "left_anti").select(
            "node", F.lit(-1).cast("long").alias("layer")
        )
        return assigned.unionByName(leftover)
    finally:
        edges.unpersist()
        nodes.unpersist()


def pagerank_int(
    nodes: DataFrame,
    edges: DataFrame,
    n_iters: int = 10,
) -> DataFrame:
    """Integer PageRank: ``node``, ``rank_ppb`` after ``n_iters`` rounds.

    ``nodes``: one column ``node`` (distinct); ``edges``: ``src``,
    ``dst`` (distinct, both present in ``nodes``).  All arithmetic is
    exact-integer per the module docstring, so results are independent of
    partitioning, parallelism, and engine.
    """
    spark = nodes.sparkSession
    # nodes/edges usually derive from a full corpus scan (import mining);
    # persist everything the iteration loop touches so each of the
    # n_iters rounds is a rank-table-sized job, not a corpus re-scan
    nodes = nodes.persist()
    n = nodes.count()
    if n == 0:
        nodes.unpersist()
        return spark.createDataFrame([], "node string, rank_ppb long")
    teleport = (100 - DAMPING_PCT) * (SCALE // n) // 100
    # r06 negative result: per-iteration broadcasts of the rank/inflow
    # tables measured 6.2 s -> 9.8 s at sf1.0 (fresh broadcast build per
    # round) — see topo_layers note.  Shuffle joins kept.

    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).persist()
    ed = edges.join(outdeg, "src").persist()
    ed.count()

    # dangling-ness (no out-edges) is a static property of the node set:
    # flag it ONCE, carry the flag in the ranks table, and collect each
    # round's dangling mass as an Observation on the materialization the
    # lineage cut performs anyway — one job per iteration instead of two
    # (the separate anti-join + collect this replaced was a full second
    # job per round; fires under both localCheckpoint and checkpoint).
    flagged = nodes.join(
        outdeg.select(F.col("src").alias("node")).withColumn(
            "has_out", F.lit(True)
        ),
        "node",
        "left",
    ).select(
        "node", F.coalesce(F.col("has_out"), F.lit(False)).alias("has_out")
    ).persist()

    def _dang_metric() -> Column:
        return F.coalesce(
            F.sum(F.when(~F.col("has_out"), F.col("rank_ppb"))), F.lit(0)
        ).alias("dangling")

    obs0 = Observation()
    ranks = materialize(
        flagged.select(
            "node", F.lit(SCALE // n).cast("long").alias("rank_ppb"), "has_out"
        ).observe(obs0, _dang_metric())
    )
    dangling = int(obs0.get["dangling"])
    try:
        for _ in range(n_iters):
            share = dangling // n
            inflow = (
                ed.join(ranks.withColumnRenamed("node", "src"), "src")
                .select(
                    F.col("dst").alias("node"),
                    F.expr("rank_ppb DIV outdeg").alias("contrib"),
                )
                .groupBy("node")
                .agg(F.sum("contrib").alias("inflow"))
            )
            obs = Observation()
            # LINEAGE CUT, not just a cache: each iteration's plan embeds
            # the previous ranks subtree three times (dangling anti-join,
            # inflow join, next-rank join), so without truncation the
            # logical plan — and Catalyst's analysis time — grows
            # geometrically with iterations even though persist() would
            # cache the data.
            ranks = materialize(
                flagged.join(inflow, "node", "left").select(
                    "node",
                    (
                        F.lit(teleport)
                        + F.expr(
                            f"{DAMPING_PCT} * (coalesce(inflow, 0) + {share}) DIV 100"
                        )
                    ).cast("long").alias("rank_ppb"),
                    "has_out",
                ).observe(obs, _dang_metric())
            )
            dangling = int(obs.get["dangling"])
        return ranks.select("node", "rank_ppb")
    finally:
        ed.unpersist()
        outdeg.unpersist()
        flagged.unpersist()
        nodes.unpersist()


def repo_context_concat(
    docs: DataFrame,
    layers: DataFrame,
    repo_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One training document per repo: every file concatenated in
    ``(layer, id)`` order — definitions before uses (the repo-context
    format StarCoder2-style code training uses, with ``topo_layers``
    supplying the order).

    ``layers``: (node, layer) from ``topo_layers`` over file-level import
    edges.  Cycle-tainted files (layer -1) sort FIRST — deterministic;
    callers that prefer to drop them filter the layers table upstream.

    Output: ``repo_col``, ``n_files``, ``n_chars`` (length of the
    assembled context), ``context_sha256`` — the hash travels, the
    assembled text does not (same contract as ``collapse_runs``; the
    rewrite expression is deterministic, so any consumer re-derives the
    text identically).

    Scale shape (100 TB lens): one join on the file id (the layers table
    is (id, long) — content does not widen it) and one groupBy(repo)
    whose collect_list is bounded by repo size — the same per-group bound
    every repo-granularity operator here assumes; cap mega-repos upstream
    with ``quota_cap`` and split oversized contexts downstream with
    ``chunk_documents``.  The (layer, id) sort happens inside each group
    via ``array_sort`` on structs — no global sort, no window.
    """
    j = docs.select(
        F.col(repo_col),
        F.col(id_col),
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
    ).join(layers.withColumnRenamed("node", id_col), id_col)
    assembled = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("layer", id_col, F.col("_t").alias("t")))
            ),
            lambda s: s["t"],
        ),
        CONTEXT_SEP,
    )
    return j.groupBy(repo_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.length(assembled).cast("long").alias("n_chars"),
        F.sha2(F.encode(assembled, "UTF-8"), 256).alias("context_sha256"),
    )
