"""Scrub audit + entropy-based secret detection — governance telemetry.

A production curation run has to *report* what its PII/secret scrub did,
not just do it: per-repo counts per rule class feed license/compliance
review and catch regressions (a rule that suddenly fires 100x more after
a corpus refresh is a red flag).  ``scrub_audit`` is that census; it
re-uses the frozen pattern spec from ``scrub/patterns.py`` as DATA so the
audit can never drift from the scrub itself.

``secret_candidates`` adds the detector class the regex rules cannot
express: *unknown-format* credentials.  Following the detect-secrets /
truffleHog approach, any long ``[A-Za-z0-9+/=_-]`` token is a candidate
and its per-character Shannon entropy decides — random keys sit near
log2(alphabet) bits/char while identifiers and English sit well below.
The whole computation is row-local Catalyst (higher-order array
functions), so it costs one scan and zero Exchanges.

Reference parity: the reference engine has no audit stage (it processes
segments independently); this module is part of the LLM-training-data
extension surface.  The pattern spec it audits mirrors the per-label
transform in ``/root/reference/disconnected_language_detector.py:559-894``.

Scale shape (100 TB lens):
- ``scrub_audit``: one Arrow UDF runs the scrub chain itself
  (``scrubber.scrub_text``) per row and sends back six longs, not the
  text, so audit numbers equal what the scrub redacts (earlier rules
  consume text later rules would otherwise double-count).  Then one
  partial-aggregated groupBy on the repo key: the Exchange carries
  O(#repos x 8 longs), content never shuffles.
- ``secret_candidates``: regexp_extract_all + posexplode emits only the
  rare candidate tokens (a ~1e-3 row multiplier on code corpora), entropy
  is a bounded O(len * distinct_chars) fold per token, and the output
  carries a sha256 of the token instead of the token itself — the
  pipeline never re-materializes possible live credentials downstream.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType, StructField, StructType

from ..pyworker import forget_zip_importers
from ..scrub.patterns import PATTERNS
from ..scrub.scrubber import scrub_text

_RULE_COLS = [f"n_{name}" for name, _pat, _repl in PATTERNS]

# candidate charset: base64/base64url/hex/uuid-ish material.  24+ chars is
# the conventional floor (AWS secret keys are 40, most API tokens 32+);
# shorter strings can't carry enough entropy to clear the threshold anyway.
SECRET_TOKEN_REGEX = r"[A-Za-z0-9+/=_-]{24,}"

# bits/char: 44-char random base64 measures 4.45-5.3 empirically (the
# alphabet is 64 symbols but a 44-char sample only realizes ~32 distinct),
# hex keys ~3.9, English identifiers ~3-4.2 on short strings.  4.2 catches
# every random base64/alnum credential while keeping hex and identifiers
# out.
DEFAULT_ENTROPY_BITS = 4.2


def _rule_counts_batch(text: pd.Series) -> pd.DataFrame:
    """Each row's per-rule substitution counts, in spec order."""
    forget_zip_importers()
    return pd.DataFrame([scrub_text(t)[1] for t in text], columns=_RULE_COLS, dtype="int64")


_rule_counts_udf = pandas_udf(
    _rule_counts_batch, StructType([StructField(n, LongType()) for n in _RULE_COLS])
)


def scrub_audit(
    df: DataFrame,
    repo_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-repo census of scrub-rule hits.

    Output: ``<repo_col>``, one ``n_<rule>`` long per pattern in spec
    order, plus ``n_redactions`` (total substitutions), ``n_docs_hit``
    (docs with >=1 hit) and ``n_docs``.  The counts come from the scrub
    chain itself, so they match ``scrub_series`` exactly (a PEM body
    consumed by the private_key rule is not re-counted by the email rule,
    etc.).
    """
    counts = _rule_counts_udf(F.coalesce(F.col(text_col), F.lit("")))
    per_doc = df.select(F.col(repo_col), counts.alias("c")).select(repo_col, "c.*")
    total = sum((F.col(n) for n in _RULE_COLS[1:]), F.col(_RULE_COLS[0]))
    per_doc = per_doc.withColumn("n_total", total)
    agg = per_doc.groupBy(repo_col).agg(
        *[F.sum(n).alias(n) for n in _RULE_COLS],
        F.sum("n_total").alias("n_redactions"),
        F.sum((F.col("n_total") > 0).cast("long")).alias("n_docs_hit"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return agg


def token_entropy_bits(chars: Column) -> Column:
    """Shannon entropy (bits/char) of a char array, row-local.

    ``-sum over distinct c of p(c) * log2(p(c))`` with
    ``p(c) = count(c)/len`` — a pure higher-order-function fold, no
    shuffle, no UDF.  Deterministic across engines: the fold walks
    ``array_distinct`` order, which is first-appearance order in both
    Spark and DuckDB list semantics.
    """
    length = F.size(chars).cast("double")

    def p(c0: Column) -> Column:
        return F.size(F.filter(chars, lambda x: x == c0)).cast("double") / length

    return -F.aggregate(
        F.array_distinct(chars),
        F.lit(0.0),
        lambda acc, c0: acc + p(c0) * F.log2(p(c0)),
    )


def secret_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """High-entropy credential candidates per document.

    Output: ``<id_col>``, ``pos`` (token ordinal within the doc),
    ``token_len``, ``token_sha256`` (the raw token never leaves the
    operator), ``entropy_milli`` (milli-bits/char, exact long) and
    ``is_secret`` (entropy >= ``DEFAULT_ENTROPY_BITS``).  One scan, zero Exchanges —
    everything up to the caller's sink is row-local.
    """
    toks = F.expr(
        f"regexp_extract_all(coalesce({text_col}, ''), '{SECRET_TOKEN_REGEX}', 0)"
    )
    exploded = df.select(F.col(id_col), F.posexplode(toks).alias("pos", "tok"))
    chars = F.filter(F.split(F.col("tok"), ""), lambda x: x != F.lit(""))
    ent = token_entropy_bits(chars)
    return exploded.select(
        id_col,
        "pos",
        F.length("tok").alias("token_len"),
        F.sha2(F.col("tok"), 256).alias("token_sha256"),
        F.round(F.round(ent, 6) * 1000).cast("long").alias("entropy_milli"),
        (F.round(F.round(ent, 6) * 1000) >= F.lit(DEFAULT_ENTROPY_BITS * 1000)).alias(
            "is_secret"
        ),
    )
