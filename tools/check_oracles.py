"""Local mirror of the driver's DuckDB-oracle comparison.

Runs every ``queries()`` entry at sf0.01 and compares row count, column
names, and order-insensitive values against ``oracle_sql()`` where present.
Usage: python tools/check_oracles.py [sf_dir] [query[,query...]]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def open_tables(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare(got: pd.DataFrame, con, oracle: str | None) -> str | None:
    """None when ``got`` equals the oracle's result (order-insensitive) or
    there is no oracle; else what differs."""
    if oracle is None:
        return None
    g, e = normalize(got), normalize(con.sql(oracle).df())
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rowcount {len(g)} vs {len(e)}"
    if not g.equals(e):
        neq = (g != e).any(axis=1)
        first = pd.concat([g[neq].head(3), e[neq].head(3)])
        return f"{int(neq.sum())}/{len(g)} rows differ; first:\n{first}"
    return None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # data-dependent oracle generators (ivf_topk_trained) derive constants
    # from the oracle-side tables — point them at the same sf_dir
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    # the Python workers import the package too; they inherit the JVM's env
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None

    import __spark_entry__ as entrymod
    from language_identification_spark.session import get_spark

    spark = get_spark("oracle-check")  # cores: SPARK_GRAFT_CPUS, else all
    con = open_tables(sf_dir)
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        diff = compare(got, con, oracles.get(name))
        if diff is not None:
            print(f"FAIL {name}: {diff}")
            failures += 1
        elif name in oracles:
            print(f"ok   {name}: {len(got)} rows match oracle")
        else:
            print(f"ok   {name}: rows-only ({len(got)} rows)")
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
