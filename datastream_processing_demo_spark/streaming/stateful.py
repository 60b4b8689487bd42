"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md §2.2 streaming rows; the reference has no keyed state at all —
`keyBy` appears nowhere, SURVEY.md §2.1.1 — so this is engine capability
beyond it, generalizing the running-metric idea of ZhiYanSink.java:100-115
from sink-side batch buffers to first-class per-key operator state).

Scale notes: state is one fixed-size tuple per user_id — O(distinct keys),
not O(events). At 100 TB the keyspace is what must fit in the state store
(HDFS-backed on the heap by default; session.py says when to switch to
RocksDB); pass `idle_timeout` so keys idle
past the watermark are evicted — a lifetime running total over an
unbounded keyspace with no eviction would grow state forever.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double, n_purchases bigint"
STATE_SCHEMA = "n bigint, cents bigint, purchases bigint"


def _make_accumulator(idle_timeout_ms: Optional[int]):
    def accumulate(key: Any, pdfs: Iterable[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        n, cents, purchases = state.get if state.exists else (0, 0, 0)
        max_ts_ms = 0
        for pdf in pdfs:
            n += len(pdf)
            # integer-cents accumulation: float sum order must not change results
            cents += int(pdf["value"].mul(100).round().astype("int64").sum())
            purchases += int((pdf["event_type"] == "purchase").sum())
            if len(pdf):
                max_ts_ms = max(max_ts_ms,
                                int(pdf["ts"].max().value // 1_000_000))
        state.update((n, cents, purchases))
        if idle_timeout_ms is not None:
            # clamp to the current watermark: the late-row filter lags
            # eviction by one batch, so a batch can legally deliver a row
            # OLDER than the eviction watermark — ts + idle can then land
            # behind the watermark and setTimeoutTimestamp throws
            # (INVALID_TIMEOUT_TIMESTAMP; found by the r6 restart fuzz
            # lane). Clamped == watermark means "evict at the next
            # watermark advance" — the key is already idle past its
            # deadline.
            wm_ms = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(max_ts_ms + idle_timeout_ms,
                                          wm_ms, 1))
        yield pd.DataFrame({
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [cents / 100.0],
            "n_purchases": [purchases],
        })
    return accumulate


def running_user_totals(events: DataFrame, watermark: str = "1 hour",
                        idle_timeout_ms: Optional[int] = None) -> DataFrame:
    """Per-user running (count, exact total, purchase count), one updated
    row per key per micro-batch — a custom stateful operator that plain
    windowed aggregation can't express (unbounded-lifetime running total
    with per-batch emission). With `idle_timeout_ms`, a key whose last
    event is older than watermark+timeout is evicted from the store."""
    timeout = (GroupStateTimeout.NoTimeout if idle_timeout_ms is None
               else GroupStateTimeout.EventTimeTimeout)
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_accumulator(idle_timeout_ms), OUTPUT_SCHEMA, STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


def batch_user_totals(events: DataFrame) -> DataFrame:
    """Batch golden computation: what the final state per user must equal
    after the whole stream is consumed."""
    from pyspark.sql import functions as F
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             (F.sum(cents).cast("double") / 100.0).alias("total_value"),
             F.sum(F.when(F.col("event_type") == "purchase", 1)
                   .otherwise(0)).alias("n_purchases"))
    )
