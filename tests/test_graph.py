"""Import mining and integer PageRank vs a scalar reference model."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from language_identification_spark.operators.graph import (
    DAMPING_PCT,
    IMPORT_HEADER,
    SCALE,
    extract_imports,
    pagerank_int,
    repo_edges,
)


def scalar_pagerank(nodes, edges, n_iters=10, damping=DAMPING_PCT):
    n = len(nodes)
    outdeg = Counter(s for s, _ in edges)
    r = {v: SCALE // n for v in nodes}
    tele = (100 - damping) * (SCALE // n) // 100
    for _ in range(n_iters):
        dangling = sum(r[v] for v in nodes if outdeg.get(v, 0) == 0)
        share = dangling // n
        inflow = {v: 0 for v in nodes}
        for s, d in edges:
            inflow[d] += r[s] // outdeg[s]
        r = {v: tele + damping * (inflow[v] + share) // 100 for v in nodes}
    return r


NODES = ["a", "b", "c", "d", "e"]
# hub b, cycle a->b->c->a, dangling e, d -> b and d -> e
EDGES = [("a", "b"), ("b", "c"), ("c", "a"), ("d", "b"), ("d", "e")]


@pytest.fixture(scope="module")
def graph(spark):
    nodes = spark.createDataFrame([(v,) for v in NODES], "node string")
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    return nodes, edges


def test_pagerank_matches_scalar(graph):
    nodes, edges = graph
    exp = scalar_pagerank(NODES, EDGES)
    got = {r["node"]: r["rank_ppb"] for r in pagerank_int(nodes, edges).collect()}
    assert got == exp


def test_pagerank_partition_invariant(graph):
    nodes, edges = graph
    base = {r["node"]: r["rank_ppb"] for r in pagerank_int(nodes, edges).collect()}
    rep = {
        r["node"]: r["rank_ppb"]
        for r in pagerank_int(nodes.repartition(5), edges.repartition(7)).collect()
    }
    assert base == rep


def test_pagerank_hub_outranks_leaf(graph):
    nodes, edges = graph
    got = {r["node"]: r["rank_ppb"] for r in pagerank_int(nodes, edges).collect()}
    assert got["b"] > got["d"]  # two in-edges vs none
    assert all(v > 0 for v in got.values())


def test_pagerank_no_edges(spark):
    nodes = spark.createDataFrame([("x",), ("y",)], "node string")
    edges = spark.createDataFrame([], "src string, dst string")
    got = {r["node"]: r["rank_ppb"] for r in pagerank_int(nodes, edges, n_iters=3).collect()}
    exp = scalar_pagerank(["x", "y"], [], n_iters=3)
    assert got == exp


def test_pagerank_empty_nodes(spark):
    nodes = spark.createDataFrame([], "node string")
    edges = spark.createDataFrame([], "src string, dst string")
    assert pagerank_int(nodes, edges).count() == 0


def test_rank_weights(graph, spark):
    from language_identification_spark.operators.graph import rank_weights

    nodes, edges = graph
    ranks = pagerank_int(nodes, edges, n_iters=3)
    exp = scalar_pagerank(NODES, EDGES, n_iters=3)
    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "zz-unranked")], "doc_id long, source string"
    )
    got = {r["doc_id"]: (r["rank_ppb"], r["weight_ppm"]) for r in rank_weights(
        docs, ranks
    ).collect()}
    n = len(NODES)
    assert got[1] == (exp["a"], exp["a"] * n // 1000)
    assert got[2] == (exp["b"], exp["b"] * n // 1000)
    assert got[3] == (None, None)  # unranked repo -> NULL, not silent 0


def test_extract_imports(spark):
    text = (
        "import os\n"
        "from pkg.sub import thing\n"
        "  import indented_not_at_line_start\n"
        "x = 1\n"
        "import late_but_in_header\n"
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = sorted(r["module"] for r in extract_imports(df).collect())
    assert got == ["late_but_in_header", "os", "pkg.sub"]


def test_extract_imports_clip(spark):
    # an import beyond the IMPORT_HEADER clip is not scanned
    pad = "x = 1\n"
    n_in = IMPORT_HEADER // len(pad) - 3  # the import line ends inside the clip
    df = spark.createDataFrame(
        [
            (1, pad * n_in + "import in_time\n"),
            (2, pad * (n_in + 10) + "import too_late\n"),
        ],
        "doc_id long, text string",
    )
    assert [r["module"] for r in extract_imports(df).collect()] == ["in_time"]


def test_extract_imports_dedup_and_null(spark):
    df = spark.createDataFrame(
        [(1, "import a\nimport a\n"), (2, None)], "doc_id long, text string"
    )
    rows = extract_imports(df).collect()
    assert [(r["doc_id"], r["module"]) for r in rows] == [(1, "a")]


def test_repo_edges_drops_unowned_and_self(spark):
    imports = spark.createDataFrame(
        [(1, "m1"), (1, "m2"), (2, "m1"), (1, "unowned")],
        "doc_id long, module string",
    )
    doc_repos = spark.createDataFrame(
        [(1, "r1"), (2, "r2")], "doc_id long, repo string"
    )
    owners = spark.createDataFrame(
        [("m1", "r2"), ("m2", "r2")], "module string, repo string"
    )
    got = sorted(map(tuple, repo_edges(imports, doc_repos, owners).collect()))
    # r2 importing m1 (owned by r2) is a self-edge -> dropped; unowned dropped;
    # r1's two imports of r2-owned modules collapse to one distinct edge
    assert got == [("r1", "r2")]


def test_extract_plan_row_local(spark):
    import contextlib
    import io

    df = spark.createDataFrame([(1, "import a")], "doc_id long, text string")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        extract_imports(df).explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ------------------------------------------------------------- topo layering


def _layers(spark, nodes, edges, **kw):
    from language_identification_spark.operators.graph import topo_layers

    n = spark.createDataFrame([(x,) for x in nodes], "node long")
    e = spark.createDataFrame(edges or [], "src long, dst long")
    return {r["node"]: r["layer"] for r in topo_layers(n, e, **kw).collect()}


def test_topo_layers_chain_diamond_isolated(spark):
    # chain 1->2->3, diamond 1->4, 2->4 (longest path wins), isolated 9
    got = _layers(spark, [1, 2, 3, 4, 9], [(1, 2), (2, 3), (1, 4), (2, 4)])
    assert got == {1: 0, 2: 1, 3: 2, 4: 2, 9: 0}


def test_topo_layers_cycle_and_downstream(spark):
    # 1 -> (2 <-> 3) -> 4: the cycle and everything downstream of it can
    # never satisfy "all predecessors assigned" -> sentinel -1
    got = _layers(spark, [1, 2, 3, 4], [(1, 2), (2, 3), (3, 2), (3, 4)])
    assert got == {1: 0, 2: -1, 3: -1, 4: -1}


def test_topo_layers_empty_and_no_edges(spark):
    assert _layers(spark, [], []) == {}
    assert _layers(spark, [7, 8], []) == {7: 0, 8: 0}


def test_topo_layers_partition_invariance(spark):
    from language_identification_spark.operators.graph import topo_layers

    edges = [(i, i + 1) for i in range(1, 8)] + [(1, 5), (3, 7)]
    n = spark.createDataFrame([(x,) for x in range(1, 9)], "node long")
    e = spark.createDataFrame(edges, "src long, dst long")
    a = {r["node"]: r["layer"] for r in topo_layers(n, e).collect()}
    b = {
        r["node"]: r["layer"]
        for r in topo_layers(n.repartition(7), e.repartition(3)).collect()
    }
    assert a == b
    # a simple chain layers as its position
    assert a[1] == 0 and a[8] == 7


def test_repo_context_concat_order_and_hash(spark):
    """Files concatenate in (layer, doc_id) order with cycle files (-1)
    first; hash and counts match a stdlib reimplementation."""
    import hashlib

    from language_identification_spark.operators.graph import repo_context_concat

    docs = spark.createDataFrame(
        [
            (1, "r", "uses"),       # layer 1 (depends on 2)
            (2, "r", "defs"),       # layer 0
            (3, "r", "tainted"),    # layer -1 (cycle sentinel)
            (9, "s", None),         # NULL text -> empty string
        ],
        "doc_id long, source string, text string",
    )
    layers = spark.createDataFrame(
        [(1, 1), (2, 0), (3, -1), (9, 0)], "node long, layer long"
    )
    got = {r["source"]: r for r in repo_context_concat(docs, layers).collect()}
    expect_r = "tainted\n\ndefs\n\nuses"
    assert got["r"]["n_files"] == 3
    assert got["r"]["n_chars"] == len(expect_r)
    assert got["r"]["context_sha256"] == hashlib.sha256(expect_r.encode()).hexdigest()
    assert got["s"]["n_files"] == 1 and got["s"]["n_chars"] == 0
    assert got["s"]["context_sha256"] == hashlib.sha256(b"").hexdigest()
