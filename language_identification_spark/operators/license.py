"""License detection and permissive-license filtering for code corpora.

Code-model training sets are curated by license before anything else
(The Stack, StarCoder, CodeParrot all gate on a permissive allowlist),
so the engine needs a license stage that (a) reads an explicit
``SPDX-License-Identifier`` tag when present, (b) falls back to
canonical header-phrase heuristics, and (c) rolls per-file verdicts up
to repository level — a repo with one copyleft file is excluded
whole, because file-level licenses inherit repo context.

Reference parity: the reference engine has no license stage; this is
part of the LLM-training-data extension surface (the code-curation
tier, next to ``operators/fim.py`` and ``operators/repolevel.py``).

Scale shape (100 TB lens): detection is a row-local ``CASE`` chain
over a JVM-side 4096-char prefix clip (license headers live at the
top of a file — the clip bounds regex cost per row and keeps the whole
stage in whole-stage codegen: no UDF, no Exchange, no full-content
regex scans).  The repo rollup is one partial-aggregated ``groupBy``
carrying four longs per repo; the filter applies the O(#repos) verdict
back with a broadcast join, so document content never shuffles.

Determinism: the phrase heuristics are ``contains`` checks on a
lowercased prefix and the SPDX tag is a fixed-anchor ``regexp_extract``
— both engine-portable (the DuckDB oracle re-derives every branch with
identical semantics); no float math anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Header length to scan. License headers sit at the top of a file;
# clipping bounds the per-row regex/contains cost at any document size.
HEADER_CLIP = 4096

# (canonical phrase, SPDX-style class) in PRECEDENCE order — more
# specific GNU variants must be tested before the bare GPL phrase.
_PHRASES: tuple[tuple[str, str], ...] = (
    ("permission is hereby granted, free of charge", "MIT"),
    ("apache license, version 2.0", "Apache-2.0"),
    ("gnu affero general public license", "AGPL-3.0"),
    ("gnu lesser general public license", "LGPL-3.0"),
    ("gnu general public license", "GPL-3.0"),
    ("mozilla public license", "MPL-2.0"),
    ("redistribution and use in source and binary forms", "BSD-3-Clause"),
    (
        "this is free and unencumbered software released into the public domain",
        "Unlicense",
    ),
)

# The allowlist used by permissive-only corpus builds (The Stack v1
# policy shape: MIT/Apache/BSD-family plus public-domain equivalents;
# weak-copyleft MPL and all GPL variants are excluded).
PERMISSIVE: frozenset[str] = frozenset(
    {"MIT", "Apache-2.0", "BSD-3-Clause", "BSD-2-Clause", "ISC", "Unlicense", "0BSD"}
)

COPYLEFT: frozenset[str] = frozenset(
    {
        "GPL-2.0",
        "GPL-3.0",
        "AGPL-3.0",
        "LGPL-2.1",
        "LGPL-3.0",
        # SPDX 3.x suffixed forms an explicit tag line may carry
        "GPL-2.0-only",
        "GPL-2.0-or-later",
        "GPL-3.0-only",
        "GPL-3.0-or-later",
        "AGPL-3.0-only",
        "AGPL-3.0-or-later",
        "LGPL-2.1-only",
        "LGPL-2.1-or-later",
        "LGPL-3.0-only",
        "LGPL-3.0-or-later",
    }
)

# SPDX short identifiers are [A-Za-z0-9.-]+ with an optional trailing
# '+' ("or later"); the tag line is case-sensitive per the SPDX spec.
_SPDX_RE = r"SPDX-License-Identifier:[ \t]*([A-Za-z0-9.\-]+\+?)"


def license_expr(text_col: str = "text") -> Column:
    """SPDX-class column: explicit tag wins, else header phrases, else NULL."""
    head = F.substring(F.coalesce(F.col(text_col), F.lit("")), 1, HEADER_CLIP)
    tag = F.regexp_extract(head, _SPDX_RE, 1)
    low = F.lower(head)
    phrase: Column = F.lit(None).cast("string")
    for needle, spdx in reversed(_PHRASES):
        phrase = F.when(F.contains(low, F.lit(needle)), F.lit(spdx)).otherwise(phrase)
    return F.when(tag != "", tag).otherwise(phrase)


def detect_license(
    df: DataFrame, text_col: str = "text", out_col: str = "license_spdx"
) -> DataFrame:
    """Add ``license_spdx`` (nullable string) and ``license_permissive``.

    ``license_permissive`` is false for unknown (NULL) licenses — a
    permissive-only corpus build must drop un-licensed files, not keep
    them by default.
    """
    out = df.withColumn(out_col, license_expr(text_col))
    return out.withColumn(
        "license_permissive",
        F.coalesce(F.col(out_col).isin(*sorted(PERMISSIVE)), F.lit(False)),
    )


def repo_license_rollup(
    df: DataFrame,
    repo_col: str = "repo",
    license_col: str = "license_spdx",
) -> DataFrame:
    """Per-repo license census + keep verdict, one partial-aggregated groupBy.

    ``keep`` = the repo has at least one recognized-permissive file and
    zero copyleft files (one GPL file poisons the repo: its siblings
    were distributed under the same terms).  Unknown-license files are
    counted but do not poison — repos routinely hold generated/asset
    files with no header next to a licensed source tree.

    Output: ``(repo, n_docs, n_permissive, n_copyleft, n_unknown, keep)``
    — all counts BIGINT so the verdict is exact-integer and
    order-independent at any partitioning.
    """
    lic = F.col(license_col)
    return df.groupBy(F.col(repo_col).alias("repo")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(lic.isin(*sorted(PERMISSIVE)).cast("long")).alias("n_permissive"),
        F.sum(lic.isin(*sorted(COPYLEFT)).cast("long")).alias("n_copyleft"),
        F.sum(lic.isNull().cast("long")).alias("n_unknown"),
        (
            (F.sum(lic.isin(*sorted(PERMISSIVE)).cast("long")) > 0)
            & (F.sum(lic.isin(*sorted(COPYLEFT)).cast("long")) == 0)
        ).alias("keep"),
    )


def filter_permissive_repos(
    df: DataFrame,
    rollup: DataFrame,
    repo_col: str = "repo",
) -> DataFrame:
    """Keep only documents from repos whose rollup verdict is ``keep``.

    The verdict table is O(#repos) — broadcast-joined so the corpus
    never shuffles (same pattern as ``repolevel.quota_cap``'s kept keys).
    """
    keep = rollup.filter(F.col("keep")).select(F.col("repo").alias(repo_col))
    return df.join(F.broadcast(keep), repo_col, "left_semi")
