"""The pipeline's per-partition pass (streaming/sinks.py `PartitionSink`)
without Spark: a hand-built Arrow partition of the routed columns
(`value`, `payload`, `delay_ms`, as `streaming.pipeline.route` projects
them) goes in; the main parquet file, the spooled bulk chunks and the
returned delay count and sum come out."""

from __future__ import annotations

import glob
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datastream_processing_demo_spark.streaming.sinks import (
    BulkPoster,
    HttpBulkWriter,
    MetricAvgReporter,
    PartitionSink,
)


def _msg(module: str, send: str, tail: str) -> str:
    return f"{module:<16}{send:<16}" + " " * 32 + tail


# (value, payload, delay_ms): what route() gives each kind of record
ROWS = [
    (_msg("session", "1700000000000", '{"k": 0}'), '{"k": 0}', 1000),
    (_msg("other", "1700000000000", "tail"), None, None),
    ("session" + " " * 40, None, None),                     # length <= 64
    (_msg("session", "1700000000500", "error"), "error", 500),
    (_msg("session", "not-a-time", '{"k": 1}'), '{"k": 1}', None),
    (_msg("session", "1700000000250", '{"k": 2}'), '{"k": 2}', 750),
]
SCHEMA = pa.schema([("value", pa.string()), ("payload", pa.string()),
                    ("delay_ms", pa.int64())])


def _batches() -> list[pa.RecordBatch]:
    cols = list(zip(*ROWS))
    table = pa.Table.from_arrays([pa.array(c, t.type)
                                  for c, t in zip(cols, SCHEMA)],
                                 schema=SCHEMA)
    # two batches plus an empty one: chunks and ordinals must run on
    # across batch boundaries
    return [*table.slice(0, 4).to_batches(),
            pa.RecordBatch.from_pylist([], schema=SCHEMA),
            *table.slice(4).to_batches()]


def _sink(tmp_path, batch_key: str = "q-7",
          batch_size: int = 2) -> PartitionSink:
    poster = BulkPoster(str(tmp_path / "bulk"), batch_key, batch_size,
                        retry_attempts=1, backoff_s=0.0, auth_header=None)
    return PartitionSink(str(tmp_path / "main"), f"part-{batch_key}", poster)


def _chunks(tmp_path) -> dict[str, list[dict]]:
    out = {}
    for path in sorted(glob.glob(str(tmp_path / "bulk" / "*.ndjson"))):
        with open(path, encoding="utf-8") as f:
            out[os.path.basename(path)] = [json.loads(ln) for ln in f]
    return out


def test_partition_pass_writes_main_posts_docs_and_sums_delays(tmp_path):
    os.makedirs(tmp_path / "bulk")
    n, total, docs = _sink(tmp_path).write(iter(_batches()), pid=3)

    # delays of the valid session rows, the 'error' one included
    assert (n, total) == (3, 1000 + 500 + 750)
    # every record, invalid and other-module ones too, lands in main
    assert os.listdir(tmp_path / "main") == ["part-q-7-3.parquet"]
    main = pq.read_table(tmp_path / "main" / "part-q-7-3.parquet")
    assert main.column_names == ["value"]
    assert main.column("value").to_pylist() == [r[0] for r in ROWS]
    # session docs minus 'error', chunked at batch_size, ids by ordinal
    assert docs == 3
    assert _chunks(tmp_path) == {
        "bulk-q-7-3-0.ndjson": [{"_id": "q-7-3-0", "doc": '{"k": 0}'},
                                {"_id": "q-7-3-1", "doc": '{"k": 1}'}],
        "bulk-q-7-3-1.ndjson": [{"_id": "q-7-3-2", "doc": '{"k": 2}'}],
    }


def test_partition_pass_replay_overwrites(tmp_path):
    os.makedirs(tmp_path / "bulk")
    first = _sink(tmp_path).write(iter(_batches()), pid=3)
    chunks = _chunks(tmp_path)
    again = _sink(tmp_path).write(iter(_batches()), pid=3)
    assert again == first
    assert os.listdir(tmp_path / "main") == ["part-q-7-3.parquet"]
    assert pq.read_metadata(
        tmp_path / "main" / "part-q-7-3.parquet").num_rows == len(ROWS)
    assert _chunks(tmp_path) == chunks


def test_two_queries_share_a_spool_and_replay_clears_only_its_own(tmp_path):
    # the same batch id and partition of two queries, as the pipeline
    # keys them: `<query>-<batch_id>`
    writer = HttpBulkWriter(str(tmp_path / "bulk"), batch_size=2)
    for key in ("qa-7", "qb-7"):
        PartitionSink(str(tmp_path / "main"), f"part-{key}",
                      writer.poster(key)).write(iter(_batches()), pid=3)
    docs = [d for chunk in _chunks(tmp_path).values() for d in chunk]
    assert len({d["_id"] for d in docs}) == len(docs) == 6
    # a replay of query qa's batch 7 clears qa's chunks, not qb's
    writer.poster("qa-7")
    assert sorted(_chunks(tmp_path)) == ["bulk-qb-7-3-0.ndjson",
                                         "bulk-qb-7-3-1.ndjson"]


def test_empty_partition_writes_nothing(tmp_path):
    os.makedirs(tmp_path / "bulk")
    assert _sink(tmp_path).write(iter([]), pid=0) == (0, 0, 0)
    assert not os.path.exists(tmp_path / "main")
    assert not os.listdir(tmp_path / "bulk")


def test_metric_reporter_writes_stats_and_skips_empty(tmp_path):
    rep = MetricAvgReporter(str(tmp_path / "metric"))
    rep.report_batch((0, None), 4)
    assert not os.path.exists(tmp_path / "metric")
    rep.report_batch((3, 750.0), 5)
    with open(tmp_path / "metric" / "metric-5.json", encoding="utf-8") as f:
        rec = json.load(f)
    assert (rec["batch_id"], rec["n"], rec["avg_delay_ms"]) == (5, 3, 750.0)
