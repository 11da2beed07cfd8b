"""Property checks from SURVEY §5.2: verdict monotonicity in thresholds,
island merge insensitivity to input order."""

from __future__ import annotations

from dataclasses import replace

from language_identification_spark.config import DEFAULT_CONFIG
from language_identification_spark.datagen.corpus import generate_source_files
from language_identification_spark.datagen.labeler import label_frame
from language_identification_spark.operators.islands import merge_islands


def test_keep_monotone_in_thresholds():
    """Tightening any threshold can only shrink the keep set."""
    src, _ = generate_source_files(300, seed=5)
    base = label_frame(src, DEFAULT_CONFIG)
    stricter = replace(
        DEFAULT_CONFIG,
        min_chars=DEFAULT_CONFIG.min_chars * 2,
        conf_tau=0.95,
        ppl_tau=DEFAULT_CONFIG.ppl_tau - 1.0,
    )
    tight = label_frame(src, stricter)
    base_keep = set(base[base.keep]["commit"])
    tight_keep = set(tight[tight.keep]["commit"])
    assert tight_keep <= base_keep


def test_islands_order_insensitive(spark):
    events = [
        ("en", 0, 100), ("ar", 150, 200), ("en", 310, 400),
        ("en", 400, 450), ("ar", 600, 700), ("en", 90, 120),
    ]
    results = []
    for perm in (events, events[::-1], events[2:] + events[:2]):
        df = spark.createDataFrame(
            [(1, l, s, e) for l, s, e in perm],
            "fid long, label string, start long, end long",
        )
        got = sorted(
            (r.label, r.island_start, r.island_end)
            for r in merge_islands(df, ["fid"], "label", "start", "end", 50).collect()
        )
        results.append(got)
    assert results[0] == results[1] == results[2]
