"""Islands merge fixtures (FIXTURES.md F2): exact gap boundary, overlap
extension, out-of-order input, label switches, single event, plus the
12-segment alternating layout of the reference golden
``fixed_module_segments.json``."""

from __future__ import annotations

import pytest

from language_identification_spark.operators.islands import (
    merge_islands,
)

GAP = 200  # reference max_gap_ms=200 (:902)

# (name, events[(label,start,end)], expected[(label,start,end)])
CASES = [
    (
        "gap_eq_max_merges",  # <= at reference :935
        [("en", 0, 100), ("en", 300, 400)],
        [("en", 0, 400)],
    ),
    (
        "gap_over_max_splits",
        [("en", 0, 100), ("en", 301, 400)],
        [("en", 0, 100), ("en", 301, 400)],
    ),
    (
        "label_switch_always_splits",
        [("en", 0, 100), ("ar", 100, 200), ("en", 200, 300)],
        [("en", 0, 100), ("ar", 100, 200), ("en", 200, 300)],
    ),
    (
        "overlap_extends_monotonic_max",  # :936 max(cur_end, e)
        [("en", 0, 500), ("en", 100, 200), ("en", 600, 700)],
        [("en", 0, 700)],
    ),
    ("single_event", [("ar", 5, 10)], [("ar", 5, 10)]),
    (
        "out_of_order_input_sorted_first",  # :928
        [("en", 300, 400), ("en", 0, 100)],
        [("en", 0, 400)],
    ),
    (
        "old_island_end_does_not_bleed",  # two-pass exactness case
        [("a", 0, 3000), ("b", 1, 2), ("a", 5, 10), ("a", 1000, 1100)],
        [("a", 0, 3000), ("b", 1, 2), ("a", 5, 10), ("a", 1000, 1100)],
    ),
    (
        "alternating_12_segments",  # fixed_module_segments.json layout
        [("en" if i % 2 == 0 else "ar", i * 1000, i * 1000 + 900) for i in range(12)],
        [("en" if i % 2 == 0 else "ar", i * 1000, i * 1000 + 900) for i in range(12)],
    ),
]


@pytest.mark.parametrize("name,events,expected", CASES, ids=[c[0] for c in CASES])
def test_merge_cases(spark, name, events, expected):
    df = spark.createDataFrame(
        [(1, l, s, e) for l, s, e in events],
        "file_id long, label string, start long, end long",
    )
    got = (
        merge_islands(df, ["file_id"], "label", "start", "end", max_gap=GAP)
        .orderBy("island_start")
        .collect()
    )
    assert [(r.label, r.island_start, r.island_end) for r in got] == expected


def test_partition_isolation(spark):
    df = spark.createDataFrame(
        [(1, "en", 0, 100), (2, "en", 150, 250)],
        "file_id long, label string, start long, end long",
    )
    got = merge_islands(df, ["file_id"], "label", "start", "end", max_gap=1000)
    assert got.count() == 2  # never merges across partitions


def test_single_exchange_in_plan(spark):
    df = spark.createDataFrame(
        [(1, "en", 0, 100)], "file_id long, label string, start long, end long"
    )
    plan = merge_islands(
        df, ["file_id"], "label", "start", "end"
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
