"""Comment-scoped PII scrub — redact secrets inside comments ONLY.

The full-text scrubber (``scrub/``, reference analog
``disconnected_language_detector.py:559-894``'s per-segment transform)
rewrites anywhere a pattern matches.  For source-code corpora that is often
too blunt: an email in a test fixture or a doc-sample IP literal is part of
the program text, and rewriting it changes code semantics (and breaks the
sha256 pass-through invariant for rows the verdict keeps).  Real-world code
curation pipelines therefore scope PII redaction to *comment* regions,
where contributor emails, internal hostnames, and pasted credentials
actually live, and leave executable text alone.

Scope model (same documented regex-level approximation as
``codestats.strip_comments``: no parser fits a 100 TB scan):

- a line whose first non-blank chars are ``#`` or ``//`` (``COMMENT_RE``),
- a line that OPENS a ``/*`` block (conservatively the whole line),
- a line inside an open block: block depth is a per-document running fold
  ``depth = max(0, depth + opens - closes)`` over literal ``/*`` / ``*/``
  occurrence counts, clamped at zero so a stray ``*/`` in code (e.g. a
  string literal ``"*/"``) cannot push the tracker negative and swallow a
  later real block.  A ``/*`` inside code (glob patterns like ``**/*.py``)
  conservatively OPENS scope; the failure mode of every scope false
  positive is extra redaction of PII-shaped strings only — non-PII text is
  never altered, so over-scoping errs on the privacy-safe side.

Everything is row-local: the depth tracker is a single ``F.aggregate``
fold over the line array (Catalyst: no window, no Exchange), and the scrub
is the one scrub chain (``scrub/scrubber.py``) run per scoped line in one
Arrow UDF, ``scrub_scoped_lines``.  At 100 TB this operator is
embarrassingly parallel — one projection per file split.

The per-line application means the multi-line ``private_key`` PEM rule
cannot span lines here (each line is scrubbed independently); PEM blocks
pasted into comments are still caught by the full-text scrubber or the
entropy-based ``audit.secret_candidates`` pass.  The DuckDB oracle
(``scrub_comments_scoped``) re-derives the clamped depth with the
reflected-walk identity ``d(i) = cum(i) - min(0, min_{j<=i} cum(j))`` over
window cumulative sums — an independent formulation of the same fold.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..pyworker import forget_zip_importers
from ..scrub.scrubber import scrub_series
from .codestats import COMMENT_RE


def _opens(line: Column) -> Column:
    """Count of literal ``/*`` occurrences (split-based: identical
    non-overlapping left-to-right semantics in Spark and DuckDB)."""
    return F.size(F.split(line, r"/\*")) - 1


def _closes(line: Column) -> Column:
    return F.size(F.split(line, r"\*/")) - 1


def comment_scope_flags(lines: Column) -> Column:
    """``array<boolean>`` — per line, is it in comment scope?

    Row-local clamped-depth fold: scope is decided against the depth
    BEFORE the line, then the line's own ``/*``/``*/`` deltas update the
    tracker (clamped at 0).
    """
    init = F.struct(
        F.lit(0).alias("depth"),
        F.array().cast("array<boolean>").alias("flags"),
    )

    def step(acc: Column, line: Column) -> Column:
        scoped = (
            (acc["depth"] > 0)
            | line.rlike(COMMENT_RE)
            | (_opens(line) > 0)
        )
        new_depth = F.greatest(
            F.lit(0), acc["depth"] + _opens(line) - _closes(line)
        )
        return F.struct(
            new_depth.alias("depth"),
            F.concat(acc["flags"], F.array(scoped)).alias("flags"),
        )

    return F.aggregate(lines, init, step, lambda acc: acc["flags"])


def _scrub_scoped_batch(lines: pd.Series, flags: pd.Series) -> pd.DataFrame:
    """Scrub every line flagged in scope, each on its own, and re-join each
    row with ``\\n``: ``text`` is the rewritten row, ``n_sub`` its
    substitutions."""
    forget_zip_importers()
    text, n_sub = scrub_series(
        pd.Series([line for row in lines for line in row], dtype=object),
        mask=pd.Series([f for row in flags for f in row], dtype=bool),
    )
    text = text.tolist()
    bounds = np.concatenate(([0], np.cumsum(lines.map(len)))).astype(np.int64)
    return pd.DataFrame(
        {
            "text": ["\n".join(text[a:b]) for a, b in zip(bounds[:-1], bounds[1:])],
            "n_sub": np.diff(np.concatenate(([0], np.cumsum(n_sub)))[bounds]),
        }
    )


# (lines array<string>, flags array<boolean>) -> struct<text, n_sub>
scrub_scoped_lines = pandas_udf(
    _scrub_scoped_batch,
    StructType([StructField("text", StringType()), StructField("n_sub", LongType())]),
)


def scrub_comments_scoped(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Comment-scoped scrub census.

    Columns: ``n_lines``, ``n_scoped_lines``, ``n_redactions`` (ordered
    chain substitutions within scoped lines only), ``scrubbed_chars`` and
    ``scrubbed_sha256`` of the rewritten text — the exact-rewrite check
    without hauling text through the compare (the ``strip_comments`` /
    ``collapse_runs`` contract).  One projection with one Arrow UDF, zero
    Exchange.

    Callers that want the rewritten corpus itself use the same building
    blocks directly::

        lines = F.split(text, "\\n")
        out = scrub_scoped_lines(lines, comment_scope_flags(lines))["text"]
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(text, "\n")
    scoped = df.select(
        F.col(id_col), lines.alias("lines"), comment_scope_flags(lines).alias("flags")
    )
    s = scrub_scoped_lines("lines", "flags")
    return scoped.select(
        id_col,
        F.size("lines").cast("long").alias("n_lines"),
        F.size(F.filter("flags", lambda x: x)).cast("long").alias("n_scoped_lines"),
        s["n_sub"].alias("n_redactions"),
        F.length(s["text"]).cast("long").alias("scrubbed_chars"),
        F.sha2(F.encode(s["text"], "UTF-8"), 256).alias("scrubbed_sha256"),
    )
