"""The flagship plan: keep/drop + scrub over a source-code table.

Single-pass Catalyst plan (contrast with the reference's thread-per-stage
push pipeline, ``/root/reference/disconnected_language_detector.py:961-1240``;
lifecycle mapping in SURVEY.md §3.4):

1. pure expressions: lang canon/collapse, heuristic features, cheap verdict
   (whole-stage codegen; Catalyst pushes column pruning into the scan)
2. ONE Arrow pandas UDF for langid + perplexity + regex scrub — content
   crosses the JVM↔Python boundary once.  Rows already dropped by cheap
   rules skip model work and the scrub (early-filter craft rule, SURVEY.md
   §4.1); every other row is scrubbed in that same Python pass, and only
   rows with a substitution send text back
3. pure-expression verdict assembly (single F.when tree, config.py order)
4. final projection incl. sha256 invariants (built-in ``F.sha2`` — no UDF)

Scale notes (100 TB / 1000 executors): no shuffle anywhere in this plan —
it is embarrassingly parallel per input split; partition sizing and skew
salting happen in the checkpointed runner (``checkpoint.py``), not here.
Arrow batch size is capped via ``spark.sql.execution.arrow.maxRecordsPerBatch``
(set in ``session.py``) so wide ``content`` values don't blow worker memory.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..config import DEFAULT_CONFIG, FilterConfig
from ..functions.heuristics import cheap_drop_reason, with_heuristics
from ..functions.lang import canon_lang_col, primary_lang_col
from ..pyworker import forget_zip_importers
from ..scrub.scrubber import scrub_series

# an explicit StructType (not a DDL string) so the UDF can be defined at import
# time without an active SparkContext
_SCHEMA = StructType(
    [
        StructField("detected_lang", StringType()),
        StructField("confidence", DoubleType()),
        StructField("mean_ll", DoubleType()),
        StructField("ppl", DoubleType()),
        StructField("text", StringType()),
        StructField("n_sub", LongType()),
    ]
)


# rows per model sub-chunk: bounds the numpy working set per call so the
# allocator's (reused) arena stays small — this host pays a very high cost
# for first-touch of fresh pages, so a bounded, recycled footprint beats one
# giant per-batch allocation (see session.py MALLOC_* settings)
_CHUNK = 512


def _analyze_batch(content: pd.Series, active: pd.Series) -> pd.DataFrame:
    """langid + perplexity for one Arrow batch (runs on executors)."""
    forget_zip_importers()
    from ..models.registry import get_models

    lid, lm = get_models()
    n = len(content)
    out = pd.DataFrame(
        {
            "detected_lang": [""] * n,
            "confidence": np.zeros(n),
            "mean_ll": np.full(n, -100.0),
            "ppl": np.zeros(n),
        },
        index=content.index,
    )
    mask = active.fillna(False).to_numpy(dtype=bool) & content.notna().to_numpy()
    if not mask.any():
        return out
    texts_all = content.to_numpy(dtype=object)
    idx_all = np.flatnonzero(mask)
    labels_arr = np.array([""] + list(lid.langs))
    det = np.empty(len(idx_all), dtype=object)
    conf_a = np.empty(len(idx_all))
    ll_a = np.empty(len(idx_all))
    ppl_a = np.empty(len(idx_all))
    for s in range(0, len(idx_all), _CHUNK):
        part = idx_all[s : s + _CHUNK]
        texts = [texts_all[i].lower().encode("utf-8") for i in part]
        label_idx, conf, mean_ll = lid.predict_batch(texts)
        ppl = lm.score_batch(texts, label_idx)
        det[s : s + len(part)] = labels_arr[label_idx + 1]
        conf_a[s : s + len(part)] = conf
        ll_a[s : s + len(part)] = mean_ll
        ppl_a[s : s + len(part)] = ppl
    out.iloc[idx_all, out.columns.get_loc("detected_lang")] = det
    out.iloc[idx_all, out.columns.get_loc("confidence")] = conf_a
    out.iloc[idx_all, out.columns.get_loc("mean_ll")] = ll_a
    out.iloc[idx_all, out.columns.get_loc("ppl")] = ppl_a
    return out


def _flagship_batch(
    sample: pd.Series, active: pd.Series, to_scrub: pd.Series
) -> pd.DataFrame:
    """langid + perplexity over ``sample`` where ``active``, then the scrub
    of every non-NULL ``to_scrub`` row.  ``text`` is NULL wherever ``n_sub``
    is 0 (NULL input or no match): an unchanged row is not sent back, the
    plan passes its content through itself."""
    out = _analyze_batch(sample, active)
    text, n_sub = scrub_series(to_scrub)
    out["text"] = text.where(n_sub > 0, None)
    out["n_sub"] = n_sub
    return out


flagship_udf = pandas_udf(_flagship_batch, _SCHEMA)


def quality_filter(
    df: DataFrame,
    cfg: FilterConfig = DEFAULT_CONFIG,
    scrub_enabled: bool = True,
) -> DataFrame:
    """(repo, path, commit, lang, content) → verdict + scrubbed output.

    Output schema: repo, path, commit, lang, lang_canon, lang_primary,
    detected_lang, confidence, ppl, keep:boolean, drop_reason:string,
    n_redactions:long, scrubbed_content:string (NULL when dropped),
    content_sha256, scrubbed_sha256.

    ``scrub_enabled=False`` is the negative-fixture mode (SURVEY §5.2,
    mirroring the reference's preserved failed-STT golden
    ``fixed_module_transcript.json`` — empty transcripts, intact segment
    structure): verdicts and lineage are produced unchanged, but
    scrubbed_content/scrubbed_sha256 are NULL and n_redactions is 0.
    """
    df = (
        df.withColumn("lang_canon", canon_lang_col(F.col("lang")))
        .withColumn("lang_primary", primary_lang_col(F.col("lang")))
    )
    df = with_heuristics(df)
    df = df.withColumn("cheap_reason", cheap_drop_reason(cfg))
    # JVM-side trims before the Python boundary: (a) only the first
    # SAMPLE_BYTES-worth of chars ever crosses Arrow (models never read
    # further — hashing.py clips at the same byte count), (b) cheap-dropped
    # rows ship as "" so a 5 MB minified blob costs nothing downstream
    active = F.col("cheap_reason").isNull()
    analyze_input = F.when(
        active, F.substring(F.col("content"), 1, 4096)
    ).otherwise(F.lit(""))
    # every row that is not cheap-dropped is scrubbed in the same UDF, one
    # regex pass per pattern (a row the models then drop is scrubbed for
    # nothing: the price of one crossing).  No JVM gate runs in front: Java
    # regex over the pattern union costs more than the Python scrub it
    # would spare.  A row without a match comes back NULL, so the
    # pass-through below is a coalesce.
    to_scrub = (
        F.when(active, F.col("content"))
        if scrub_enabled
        else F.lit(None).cast("string")
    )
    df = df.withColumn("nlp", flagship_udf(analyze_input, active, to_scrub))
    reason = F.coalesce(
        F.col("cheap_reason"),
        F.when(
            (F.col("nlp.confidence") < F.lit(cfg.conf_tau))
            | (F.col("nlp.mean_ll") < F.lit(cfg.ll_floor)),
            "langid_low_confidence",
        ),
        F.when(
            (F.col("lang_primary") != "")
            & (F.col("nlp.detected_lang") != F.col("lang_primary")),
            "langid_mismatch",
        ),
        F.when(F.col("nlp.ppl") > F.lit(cfg.ppl_tau), "perplexity"),
    )
    df = df.withColumn("drop_reason", reason).withColumn(
        "keep", F.col("drop_reason").isNull()
    )
    n_redactions = F.when(F.col("keep"), F.col("nlp.n_sub")).otherwise(0)
    scrubbed = (
        F.when(F.col("keep"), F.coalesce(F.col("nlp.text"), F.col("content")))
        if scrub_enabled
        else F.lit(None).cast("string")
    )
    return df.select(
        "repo",
        "path",
        "commit",
        "lang",
        "lang_canon",
        "lang_primary",
        F.col("nlp.detected_lang").alias("detected_lang"),
        F.round(F.col("nlp.confidence"), 6).alias("confidence"),
        F.round(F.col("nlp.ppl"), 6).alias("ppl"),
        "keep",
        "drop_reason",
        n_redactions.alias("n_redactions"),
        scrubbed.alias("scrubbed_content"),
        F.sha2(F.encode(F.col("content"), "UTF-8"), 256).alias("content_sha256"),
        F.sha2(F.encode(scrubbed, "UTF-8"), 256).alias("scrubbed_sha256"),
    )
