"""Per-line-block language spans + island smoothing for mixed-language files.

The closest structural analog of the reference's detection event stream:
the LID container emits one ``(lang, start, end)`` event per ~second of
audio (``/root/reference/fixed_module_test.txt:6-11``); here the classifier
emits one event per block of lines, and the same gaps-and-islands merge
(``operators/islands.py`` ⇔ reference ``:901-958``) collapses consecutive
same-language blocks into spans.  Majority label per file mirrors the final
labeled reassembly (``:1218-1222``).

Stage shape: ONE Arrow pandas UDF producing an array of span structs per
file (the model runs once per block, batched across the whole Arrow batch),
then pure-expression explode → islands merge → window majority.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..pyworker import forget_zip_importers
from .islands import merge_islands

BLOCK_LINES = 4  # lines per classification block

_SPAN_SCHEMA = ArrayType(
    StructType(
        [
            StructField("start_line", IntegerType()),
            StructField("end_line", IntegerType()),
            StructField("label", StringType()),
            StructField("confidence", DoubleType()),
        ]
    )
)


def _line_spans_batch(content: pd.Series) -> pd.Series:
    forget_zip_importers()
    from ..models.registry import get_models

    lid, _ = get_models()
    # flatten all blocks of all docs into one classifier batch
    block_texts: list[bytes] = []
    n_blocks: list[int] = []  # blocks per doc, in doc order
    starts: list[int] = []
    line_counts: list[int] = []
    for text in content:
        lines = (text or "").split("\n")
        nb = 0
        for s in range(0, len(lines), BLOCK_LINES):
            e = min(s + BLOCK_LINES, len(lines))
            block_texts.append("\n".join(lines[s:e]).lower().encode("utf-8"))
            starts.append(s)
            nb += 1
        n_blocks.append(nb)
        line_counts.append(len(lines))
    if block_texts:
        idx, conf, _ll = lid.predict_batch(block_texts)
        labels = np.array([""] + list(lid.langs))[idx + 1]
        # columnar struct assembly: four flat arrays → one records pass
        # (pandas' C-level to_dict) → per-doc slicing at the cumulative
        # block bounds.  No per-block Python loop anywhere in assembly.
        start_arr = np.asarray(starts, dtype=np.int64)
        doc_ends = np.repeat(np.asarray(line_counts, dtype=np.int64), n_blocks)
        end_arr = np.minimum(start_arr + BLOCK_LINES, doc_ends)
        recs = pd.DataFrame(
            {
                "start_line": start_arr.astype(np.int32),
                "end_line": end_arr.astype(np.int32),
                "label": labels,
                "confidence": conf.astype(np.float64),
            }
        ).to_dict("records")
        bounds = np.concatenate(([0], np.cumsum(n_blocks)))
        out = [recs[bounds[i] : bounds[i + 1]] for i in range(len(content))]
    else:
        out = [[] for _ in range(len(content))]
    return pd.Series(out, index=content.index)


line_spans_udf = pandas_udf(_line_spans_batch, _SPAN_SCHEMA)


def langid_line_spans(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Per-file language spans: block events → merged same-language islands."""
    events = (
        df.select(F.col(id_col), line_spans_udf(F.col(content_col)).alias("spans"))
        .select(id_col, F.explode("spans").alias("sp"))
        .select(
            id_col,
            F.col("sp.label").alias("label"),
            F.col("sp.start_line").cast("long").alias("start"),
            F.col("sp.end_line").cast("long").alias("end"),
        )
        .filter(F.col("label") != "")
    )
    return merge_islands(events, [id_col], "label", "start", "end")


def majority_label(spans: DataFrame, id_col: str) -> DataFrame:
    """Dominant language per file, by total covered lines (ordered
    reassembly + labeling analog)."""
    weighted = spans.groupBy(id_col, "label").agg(
        F.sum("island_duration").alias("lines")
    )
    w = F.row_number().over(
        Window.partitionBy(id_col).orderBy(F.desc("lines"), F.asc("label"))
    )
    return (
        weighted.withColumn("rk", w)
        .filter(F.col("rk") == 1)
        .select(id_col, F.col("label").alias("majority_lang"), "lines")
    )
