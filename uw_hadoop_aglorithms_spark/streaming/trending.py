"""Stateful 2×-trend detection as a true stream (SURVEY.md T3 hard part).

The reference carries (current, timestamp, previous) per region across
batches with mapWithState and alerts when a 10-minute window's count is
≥ 10 and ≥ 2× the previous window's (reference TrendingArrivals.scala:
86-98, window :108-109, state :110). The Structured Streaming equivalent
is applyInPandasWithState (PySpark ≥ 3.4): per event_type, state holds the
open windows' partial counts plus the last completed window's count.

Emission discipline: a window is emitted once a LATER window for the same
key has been seen (event-time completion, replacing the reference's
wall-clock batch boundary); the final window of a finite run stays pending
— tests compare against the batch form minus each key's last window.

State never grows unboundedly: completed windows are evicted on emission,
so state is O(open windows per key) — watermark-style timeout could evict
stragglers in a production deployment.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from uw_hadoop_aglorithms_spark.streaming.runner import _event_stream, _to_memory
from uw_hadoop_aglorithms_spark.streaming.windows import TREND_FACTOR, TREND_MIN

WINDOW_SECONDS = 600  # 10-minute windows (reference TrendingArrivals.scala:108)

OUTPUT_SCHEMA = (
    "event_type string, window_start timestamp, cnt long, prev long, alert boolean"
)
#: state: open window starts (epoch s) + their partial counts + last
#: completed window's count (the reference's `prev`).
STATE_SCHEMA = "wins array<long>, cnts array<long>, prev long"


def _trend_state_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (event_type,) = key
    if state.exists:
        wins, cnts, prev = state.get
        open_windows = dict(zip(wins, cnts))
        prev = int(prev)
    else:
        open_windows, prev = {}, 0

    for pdf in pdfs:
        epochs = (pdf["ts"].astype("int64") // 1_000_000_000 // WINDOW_SECONDS) * WINDOW_SECONDS
        for w, c in epochs.value_counts().items():
            open_windows[int(w)] = open_windows.get(int(w), 0) + int(c)

    out = []
    if open_windows:
        newest = max(open_windows)
        for w in sorted(open_windows):
            if w == newest:
                continue  # still open; a later window hasn't closed it yet
            cnt = open_windows.pop(w)
            alert = cnt >= TREND_MIN and cnt >= TREND_FACTOR * prev
            out.append((event_type, pd.Timestamp(w, unit="s"), cnt, prev, alert))
            prev = cnt

    state.update((list(open_windows), list(open_windows.values()), prev))
    if out:
        yield pd.DataFrame(
            out, columns=["event_type", "window_start", "cnt", "prev", "alert"]
        )


def stream_trending_arrivals(
    spark: SparkSession,
    replay_dir: str,
    checkpoint_dir: str,
    query_name: str = "stream_trending_arrivals",
) -> DataFrame:
    """Run the stateful trend detector over a file-replay stream to
    completion; returns emitted (closed-window) alerts, window_start as
    a UTC wall (TIMESTAMP_NTZ) like every other runner."""
    stream = _event_stream(spark, replay_dir).select("ts", "event_type")
    flagged = stream.groupBy("event_type").applyInPandasWithState(
        _trend_state_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _to_memory(flagged, checkpoint_dir, query_name, "append").orderBy(
        "event_type", "window_start"
    )
