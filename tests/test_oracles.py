"""Driver queries against their DuckDB oracles at sf0.001: the same
per-query comparison ``tools/check_oracles.py`` runs by hand, so an oracle
regression in the keep/drop + scrub path, or in the connected-components
contraction (``fork_collapse``, ``semantic_dedup`` and the four
minhash-component queries run it end to end against a recursive-CTE
closure), fails the suite."""

from __future__ import annotations

import os

import pytest

from tools.check_oracles import compare, open_tables

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"the sf0.001 test tables ({SF_DIR}) are absent"
)


@pytest.fixture(scope="module")
def entry():
    with pytest.MonkeyPatch.context() as mp, open_tables(SF_DIR) as con:
        # data-dependent oracle generators read the oracle-side tables here
        mp.setenv("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)
        import __spark_entry__

        yield __spark_entry__.queries(), __spark_entry__.oracle_sql(), con


@pytest.mark.parametrize(
    "name",
    [
        "quality_filter_full",
        "langid_documents",
        "scrub_documents",
        "threshold_sweep",
        "fork_collapse",
        "semantic_dedup",
        "dedup_components",
        "dedup_representatives",
        "leakage_safe_split",
        "dup_weighted_docs",
    ],
)
def test_flagship_query_matches_oracle(spark, entry, name):
    queries, oracles, con = entry
    got = queries[name](spark, SF_DIR).toPandas()
    assert len(got) > 0
    diff = compare(got, con, oracles[name])
    assert diff is None, f"{name}: {diff}"
