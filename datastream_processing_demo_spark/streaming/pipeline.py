"""The reference topology, Spark-first: one routing projection, three
outputs, one Spark job per micro-batch.

Reference (DataStreamProcessingJob.java:41-66,149-173): a ProcessFunction
emits every record to the main output, and for valid `session` messages
emits the payload tail to `session-output` and a derived latency
(`now_ms - send_ts_ms`) to `zhiyan-output`; the three streams feed a
passthrough, a CTSDB HTTP bulk sink, and a ZhiYan avg-metric sink.

Spark has no side outputs (SURVEY.md §7.4). `route` is the
ProcessFunction as one projection: every record keeps its `value`, and
`payload` / `delay_ms` are filled only where the reference would emit
to the side outputs. The streaming job runs that projection through a
single `mapInArrow(...).collect()` per micro-batch: each partition
writes its main parquet file, posts its bulk docs and returns its delay
count and sum (`sinks.PartitionSink`), and the driver reports the
batch's average. That is the reference's single pass, with Structured
Streaming's checkpoint/WAL replacing checkpoint-coupled acks
(at-least-once end-to-end, matching the reference's real guarantee —
SURVEY.md §3.3); every output is keyed by batch id, so a replay
overwrites instead of duplicating.

`split_branches` derives the three outputs as separate frames from the
same `route`, for the batch queries (plans/pipeline_batch.py) that
check the routing against DuckDB.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..schemas import SESSION_MODULE
from .messages import message_fields
from .sinks import (
    HttpBulkWriter,
    MetricAvgReporter,
    PartitionSink,
    task_partition_id,
)

_SINK_RESULT = "delay_n long, delay_sum long, docs long"


@dataclass(frozen=True)
class Branches:
    """The three outputs of the reference's ProcessFunction (R1)."""
    main: DataFrame            # every raw record (passthrough, :44)
    session_tails: DataFrame   # payload of valid session messages (:57)
    delays: DataFrame          # derived latency of session messages (:58-63)


def route(raw: DataFrame, now_ms: Column | None = None) -> DataFrame:
    """Every record, with the side outputs as nullable columns: `value`,
    `payload` (valid session records, P2+P4, :47-57), `send_ts_ms` and
    `delay_ms` (valid session records with a parseable send time,
    P5+P6, :58-63).

    `now_ms` injects a frozen processing-time for deterministic tests;
    production uses the wall clock exactly like the reference
    (System.currentTimeMillis at DataStreamProcessingJob.java:58).
    """
    if now_ms is None:
        now_ms = F.unix_millis(F.current_timestamp())
    f = message_fields()
    session = f["valid"] & (f["module_name"] == SESSION_MODULE)
    send_ts = F.when(session, f["send_ts_ms"])
    return raw.select(
        "value",
        F.when(session, f["payload"]).alias("payload"),
        send_ts.alias("send_ts_ms"),
        (now_ms - send_ts).alias("delay_ms"),
    )


def split_branches(raw: DataFrame, now_ms: Column | None = None) -> Branches:
    """The three outputs as frames, filtered from one `route`."""
    r = route(raw, now_ms)
    return Branches(
        main=r.select("value"),
        session_tails=r.filter(F.col("payload").isNotNull()).select("payload"),
        delays=r.filter(F.col("send_ts_ms").isNotNull())
        .select("send_ts_ms", "delay_ms"),
    )


def run_pipeline_stream(
    raw_stream: DataFrame,
    checkpoint_dir: str,
    main_out_dir: str,
    bulk_writer: HttpBulkWriter,
    metric_reporter: MetricAvgReporter,
    now_ms: Column | None = None,
    trigger: dict | None = None,
    name: str = "datastream-pipeline",
) -> StreamingQuery:
    """Wire the streaming job: one Spark job per micro-batch.

    Main files are named `part-<query>-<batch_id>-<pid>.parquet`, flat
    in `main_out_dir` (a local path), and bulk doc ids and spool files
    start with the same `<query>-<batch_id>`. `<query>` is a hash of the
    checkpoint path, so queries sharing an output (each starts at
    batch 0) never overwrite each other's files or docs, while a replay
    of a batch (SURVEY.md §3.3: replayed batch => same id) overwrites
    its own.
    """
    query_key = hashlib.sha1(
        os.path.abspath(checkpoint_dir).encode("utf-8")).hexdigest()[:12]

    def write_all(batch_df: DataFrame, batch_id: int) -> None:
        batch_key = f"{query_key}-{batch_id}"
        sink = PartitionSink(main_out_dir, f"part-{batch_key}",
                             bulk_writer.poster(batch_key))

        def write_partition(batches):
            n, total, docs = sink.write(batches, task_partition_id())
            yield pa.RecordBatch.from_pydict(
                {"delay_n": [n], "delay_sum": [total], "docs": [docs]})

        rows = (route(batch_df, now_ms)
                .select("value", "payload", "delay_ms")
                .mapInArrow(write_partition, _SINK_RESULT)
                .collect())
        n = sum(r["delay_n"] for r in rows)
        total = sum(r["delay_sum"] for r in rows)
        metric_reporter.report_batch((n, total / n if n else None), batch_id)

    writer = (
        raw_stream.writeStream.foreachBatch(write_all)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(name)
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()
