"""Mixed-language file → per-block spans merged into islands, majority label."""

from __future__ import annotations

import pytest

from language_identification_spark.models.seed_corpora import POOLS
from language_identification_spark.operators.linespans import (
    langid_line_spans,
    majority_label,
)


@pytest.fixture(scope="module")
def mixed(spark):
    en = POOLS["en"]
    ar = POOLS["ar"]
    # 8 en lines, 8 ar lines, 8 en lines → expect islands en/ar/en
    content = "\n".join(en[:8] + ar[:8] + en[8:16])
    pure = "\n".join(POOLS["zh"][:12])
    return spark.createDataFrame(
        [(1, content), (2, pure)], "file_id long, content string"
    )


def test_islands_per_language(mixed):
    spans = langid_line_spans(mixed, "file_id", "content")
    got = [
        (r.label, r.island_start, r.island_end)
        for r in spans.filter("file_id = 1").orderBy("island_start").collect()
    ]
    assert [g[0] for g in got] == ["en", "ar", "en"]
    assert got[0][1] == 0 and got[-1][2] == 24


def test_majority(mixed):
    spans = langid_line_spans(mixed, "file_id", "content")
    maj = {r.file_id: r.majority_lang for r in majority_label(spans, "file_id").collect()}
    assert maj == {1: "en", 2: "zh"}
