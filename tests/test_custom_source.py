"""Custom Python DataSource (fixedwidth_messages): batch partitioning,
deterministic content, streaming offsets + checkpoint replay — the
engine-side counterpart of the reference's Pulsar connector semantics
(at-least-once ack-on-checkpoint => here exactly-once via deterministic
offset ranges into the file-sink metadata log)."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

from pyspark.sql import functions as F

from datastream_processing_demo_spark.sources.message_gen import (
    FixedWidthMessagesDataSource,
    message_at,
)
from datastream_processing_demo_spark.streaming.messages import parse_messages


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(FixedWidthMessagesDataSource)


def test_batch_read_deterministic(spark):
    df = (spark.read.format("fixedwidth_messages")
          .option("rows", 500).option("partitions", 8).load())
    vals = sorted(r["value"] for r in df.collect())
    assert vals == sorted(message_at(i) for i in range(500))
    assert df.rdd.getNumPartitions() == 8


def test_batch_read_parses_like_reference(spark):
    df = (spark.read.format("fixedwidth_messages")
          .option("rows", 400).load())
    parsed = parse_messages(df)
    n_invalid = sum(1 for i in range(400) if i % 97 == 0)
    assert parsed.count() == 400 - n_invalid
    sessions = parsed.filter(F.col("module_name") == "session").count()
    assert sessions == sum(1 for i in range(400)
                           if i % 3 != 0 and i % 97 != 0)


def test_stream_offsets_and_checkpoint_replay(spark, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_until(target: int) -> None:
        src = (spark.readStream.format("fixedwidth_messages")
               .option("rowsPerBatch", 50).option("maxRows", 300).load())
        q = (parse_messages(src)
             .select("module_name", "send_ts_ms", "payload")
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(processingTime="200 milliseconds").start())
        deadline = time.time() + 90
        while time.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= target:
                    break
            except Exception:
                pass
            time.sleep(1)
        q.stop()
        q.awaitTermination(timeout=30)

    n_valid = sum(1 for i in range(300) if i % 97 != 0)
    run_until(n_valid)
    # restart from the checkpoint: offsets resume; rows appear EXACTLY once
    run_until(n_valid)
    got = spark.read.parquet(out)
    assert got.count() == n_valid, "replay must not duplicate rows"
    # spot-check content equals the deterministic generator
    ks = sorted(r["payload"] for r in got.filter(
        F.col("send_ts_ms") < 1_700_000_000_000 + 10_000).collect())
    want = sorted(
        (f'{{"k": {i}}}' if i % 101 != 0 else "error")
        for i in range(10) if i % 97 != 0)
    assert ks == want


def test_kafka_option_mapping():
    """No broker in this environment — assert the reference-property ->
    Kafka-option mapping itself (the reader is real on a cluster)."""
    from datastream_processing_demo_spark.sources.kafka import (
        kafka_stream_options,
    )

    opts = kafka_stream_options("t1,t2", "broker:9092",
                                max_offsets_per_trigger=5000,
                                min_partitions=16)
    assert opts["subscribe"] == "t1,t2"
    assert opts["startingOffsets"] == "earliest"
    assert opts["maxOffsetsPerTrigger"] == "5000"
    assert opts["minPartitions"] == "16"
