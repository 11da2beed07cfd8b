"""Deterministic stream replay: drive the event-time island machine over a
batch table as a REAL multi-micro-batch stream and return its released
output as a DataFrame.

This is the stream-mode proof harness the batch/stream parity tests and the
driver's ``sessionize_events_stream`` oracle use: the input table is split
into K micro-batch files fed in order (``maxFilesPerTrigger=1``), a
deterministic fraction of rows is DEMOTED one batch (bounded out-of-order
arrival, strictly inside the watermark delay so Spark never drops them),
and two far-future sentinel batches push the watermark past every open
island so the machine's event-time timeouts flush everything — the
streaming analog of the reference finalizing its open segment at shutdown
(``disconnected_language_detector.py:1174-1193``).

The feed construction (split/demote/write) is intentionally driver-side
pandas over the SMALL test table — it builds the stream fixture, it is not
an engine data path; the sessionization itself runs in Structured
Streaming through ``make_merge_islands_eventtime``.
"""

from __future__ import annotations

import os
import tempfile
from itertools import count

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from .stateful import (
    EVENTTIME_STATE_SCHEMA,
    OUTPUT_SCHEMA,
    make_merge_islands_eventtime,
)

_SENTINEL_KEY = "__drain__"
_QUERY_SEQ = count()
N_BATCHES = 5  # micro-batch files in the feed
DEMOTE_EVERY = 7  # every 7th row arrives one micro-batch late
TIMEOUT_SEC = 180  # wall-clock bound on draining the stream


def replay_island_stream(
    spark: SparkSession,
    events: DataFrame,
    max_gap: int,
) -> DataFrame:
    """Feed ``events(key string, label string, start long, end long)``
    through the out-of-order event-time island machine as ``N_BATCHES``
    micro-batches and return every RELEASED island.

    ``start``/``end`` are microsecond epochs (the events-table convention);
    event time is ``start`` and ``ts_of`` maps machine-time µs → epoch ms.
    Every ``DEMOTE_EVERY``-th row is moved one micro-batch later than its
    timestamp order, so cross-batch late data is exercised on every run;
    the watermark delay is sized to the feed's exact worst-case lateness
    so demoted rows provably stay on-time on ANY timestamp distribution
    (dropped rows would silently diverge from the batch oracle).
    """
    pdf = events.select("key", "label", "start", "end").toPandas()
    pdf = pdf.sort_values(["start", "end", "key"], kind="mergesort").reset_index(
        drop=True
    )
    n = len(pdf)
    if n == 0:
        return spark.createDataFrame([], OUTPUT_SCHEMA)
    per = max(1, (n + N_BATCHES - 1) // N_BATCHES)
    idx = pdf.index.to_numpy()
    batch = idx // per
    # demote every k-th row one batch later: bounded, deterministic disorder
    batch = (batch + (idx % DEMOTE_EVERY == DEMOTE_EVERY - 1)).clip(
        None, batch.max()
    )

    lo, hi = int(pdf["start"].min()), int(pdf["start"].max())
    # Size the watermark delay from the feed's ACTUAL worst-case lateness,
    # not a uniform-span estimate: batches are split by row index, so on a
    # skewed timestamp distribution one batch can span most of the event
    # time and a demoted row from it would exceed any span/n_batches bound
    # and be silently dropped (round-5 review).  When batch b processes,
    # the watermark is max(ts over batches < b) - delay; a row survives iff
    # delay > that max minus its own ts — compute the max gap exactly.
    starts = pdf["start"].astype("int64")
    batch_max = starts.groupby(batch).max().sort_index()
    prev_max = batch_max.cummax().shift(1, fill_value=lo)
    worst_late = int((prev_max.reindex(batch).to_numpy() - starts.to_numpy()).max())
    delay_us = max(worst_late, 0) + 1_000_000  # +1 s: strict-inequality pad
    drain_a = hi + max_gap + delay_us + 10_000_000
    drain_b = drain_a + 1_000_000

    feed_dir = tempfile.mkdtemp(prefix="island_replay_")
    t0 = 1_700_000_000
    for i in range(int(batch.max()) + 1):
        part = pdf[batch == i]
        p = os.path.join(feed_dir, f"b{i:04d}.parquet")
        part.to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))
    # two sentinel batches: the first pushes the watermark past every
    # armed timeout, the second gives Spark a micro-batch in which those
    # timeouts actually fire (timeouts are evaluated per micro-batch)
    for j, drain_us in enumerate((drain_a, drain_b)):
        part = pdf.iloc[:1].copy()
        part["key"] = _SENTINEL_KEY
        part["label"] = "s"
        part["start"] = drain_us
        part["end"] = drain_us
        p = os.path.join(feed_dir, f"z_drain{j}.parquet")
        part.to_parquet(p, index=False)
        os.utime(p, (t0 + 1000 + j, t0 + 1000 + j))

    stream = (
        spark.readStream.schema("key string, label string, start long, end long")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
        .withColumn("ts", F.timestamp_micros(F.col("start")))
        .withWatermark("ts", f"{delay_us} microseconds")
    )
    out = stream.groupBy("key").applyInPandasWithState(
        make_merge_islands_eventtime(max_gap=max_gap, ts_of=lambda v: v // 1000),
        OUTPUT_SCHEMA,
        EVENTTIME_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    name = f"island_replay_{next(_QUERY_SEQ)}_{os.getpid()}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(TIMEOUT_SEC):
        # a partially-drained memory sink would read as a bogus engine
        # divergence (and the query would keep mutating the table); fail
        # loudly instead (round-5 review)
        q.stop()
        raise RuntimeError(
            f"island replay stream did not finish within {TIMEOUT_SEC}s"
        )
    return spark.table(name).filter(F.col("key") != _SENTINEL_KEY)
