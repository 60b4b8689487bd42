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


# --- transformWithStateInPandas (Spark 4 arbitrary-state API) ----------

try:  # the API is new in Spark 4.0; keep the module importable elsewhere
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class LastNAverageProcessor(StatefulProcessor):
        """Keeps each user's last N events (by event_id) in ListState and
        emits the rolling average after every batch — unbounded-lifetime
        'last N' semantics that no watermark-bounded window can express.
        State is N fixed rows per key: O(keys), never O(events)."""

        N = 3

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._recent = handle.getListState(
                "recent", "eid bigint, cents bigint")

        def handleInputRows(self, key, rows, timerValues):
            buf = [tuple(r) for r in self._recent.get()]
            for pdf in rows:
                cents = pdf["value"].mul(100).round().astype("int64")
                buf.extend(zip(pdf["event_id"].astype("int64"), cents))
            # keep the N latest by event_id: associative across any batch
            # split, so the final state is batch-split-independent
            buf = sorted(buf)[-self.N:]
            self._recent.put(buf)
            avg = sum(c for _, c in buf) / len(buf) / 100.0
            yield pd.DataFrame({
                "user_id": [key[0]],
                "last_eid": [buf[-1][0]],
                "lastn_avg": [avg],
            })

        def close(self) -> None:
            pass

    def rolling_lastn_avg(events: DataFrame) -> DataFrame:
        """Per-user rolling average over the last 3 events (by event_id),
        via the Spark 4 transformWithStateInPandas arbitrary-state API.

        NOTE: executing this operator requires the `protobuf` package
        (Spark's transformWithState runner speaks protobuf to the JVM);
        in environments without it the query fails at start — the
        equivalence test auto-skips there. applyInPandasWithState above
        covers the same capability with no extra dependency."""
        return (
            events.groupBy("user_id")
            .transformWithStateInPandas(
                LastNAverageProcessor(),
                outputStructType="user_id bigint, last_eid bigint, lastn_avg double",
                outputMode="Update",
                timeMode="None",
            )
        )
except ImportError:  # pragma: no cover - older Spark
    pass


def batch_lastn_avg(events: DataFrame, n: int = 3) -> DataFrame:
    """Batch golden for rolling_lastn_avg's FINAL emission per user."""
    from pyspark.sql import Window as W
    cents = F.round(F.col("value") * 100).cast("long")
    w = W.partitionBy("user_id").orderBy(F.col("event_id").desc())
    lastn = (events.select("user_id", "event_id", cents.alias("cents"))
             .withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= n))
    return lastn.groupBy("user_id").agg(
        F.max("event_id").alias("last_eid"),
        (F.sum("cents").cast("double") / F.count(F.lit(1)) / 100.0)
        .alias("lastn_avg"),
    )
