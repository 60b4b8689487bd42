"""Event-time windowing + stateful dedup for streams (SURVEY.md §2.2
streaming rows — none of which exist in the reference, which is
explicitly processing-time only, DataStreamProcessingJob.java:119).

Each function takes an events-shaped DataFrame (batch OR streaming — the
logic is identical, which is what the stream/batch equivalence tests
assert) and returns a windowed aggregate. Watermarks are only applied to
streaming frames (batch frames ignore withWatermark).

Scale notes: all aggregations key on (window, low-cardinality key) so
state stays bounded; watermarks cap state retention (stateful ops
without watermarks would grow state forever at 100 TB/day). State
lives in Spark's default HDFS-backed store, on the JVM heap; session.py
gives the state size from which RocksDB is the better store and how to
switch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_watermark_if_streaming(df: DataFrame, delay: str = "1 hour") -> DataFrame:
    return df.withWatermark("ts", delay) if df.isStreaming else df


def tumbling_counts(events: DataFrame, width: str = "6 hours",
                    watermark: str = "1 hour") -> DataFrame:
    """Tumbling event-time window: count + exact cents sum per type."""
    e = with_watermark_if_streaming(events, watermark)
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        e.groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             (F.sum(cents).cast("double") / 100.0).alias("total_value"))
        .select(F.col("win.start").alias("window_start"), "event_type",
                "n_events", "total_value")
    )


def sliding_counts(events: DataFrame, width: str = "12 hours",
                   slide: str = "6 hours", watermark: str = "1 hour") -> DataFrame:
    """Sliding window: each event lands in width/slide windows.
    Metrics are streaming-safe (exact DISTINCT aggregation is not
    supported on streams; use approx_count_distinct there instead)."""
    e = with_watermark_if_streaming(events, watermark)
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        e.groupBy(F.window("ts", width, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             (F.sum(cents).cast("double") / 100.0).alias("total_value"))
        .select(F.col("win.start").alias("window_start"), "n_events", "total_value")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes",
                    watermark: str = "1 hour") -> DataFrame:
    """Per-user session windows (gap-based); end = last event + gap."""
    e = with_watermark_if_streaming(events, watermark)
    return (
        e.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("event_id").alias("first_event_id"))
        .select("user_id",
                F.col("win.start").alias("session_start"),
                F.col("win.end").alias("session_end"),
                "n_events", "first_event_id")
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful cross-batch dedup on event_id, state bounded by the
    watermark (dropDuplicatesWithinWatermark; batch frames fall back to
    plain dropDuplicates — same semantics on finite input)."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark) \
            .dropDuplicatesWithinWatermark(["event_id"])
    return events.dropDuplicates(["event_id"])
