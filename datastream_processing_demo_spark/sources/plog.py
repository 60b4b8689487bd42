"""Custom Python DataSource stream READER: a partitioned log with
offset/ack semantics — the sandbox-faithful stand-in for the reference's
Pulsar source (PulsarSource.java:22-214), whose connector jar does not
exist here (SURVEY.md §2.2 row S1). It is the package's one message
source: the job CLI, the live `stream_plog_source` query and the
benchmark all read it.

What a log broker gives a streaming job, reproduced as a first-class
`readStream.format("plog")` source:

- **Fixed partitions** (`partition=N` ↔ Pulsar topic partitions): each
  is an independent append-only record sequence; Spark plans one input
  split per log partition per micro-batch, so source parallelism =
  partition count, exactly like the reference's
  `setParallelism(source_parallelism)` (DataStreamProcessingJob.java).
- **Monotonic per-partition offsets**: `latestOffset()` reads each
  partition's high-watermark sidecar (metadata-scale — O(partitions)
  tiny file reads, never a data scan, the shape that survives a
  100k-segment log). A micro-batch is the half-open offset/byte range
  (start, end]; `read()` seeks straight to the start byte — no rescan
  of already-consumed data.
- **Ack on commit** (PulsarSource acks message ids only after the
  checkpoint completes, so an unacked crash replays): `commit(end)`
  atomically publishes the acked offsets to `_acks/committed.json`.
  A restart from a Spark checkpoint resumes from the CHECKPOINTED
  offset (Spark passes it back as `start`), and the ack file trails it
  — monitoring/retention can trim segments below the acked watermark,
  the same contract brokers derive from cumulative acks.

At-least-once into idempotent sinks = effective exactly-once, matching
the pipeline's bulk-sink `_id` upsert story (streaming/sinks.py).

Wire format per record: one JSON line `{"key": ..., "value": ...}`;
the reader surfaces `(partition int, offset long, key string,
value string)` — the Kafka-shaped projection the rest of the pipeline
(`plans/pipeline_batch.py` parse stage) consumes — as one Arrow record
batch per slice, decoded by `pyarrow.json`.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.json as pj

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)


# ---------------------------------------------------------------------------
# Log layout + producer helper
# ---------------------------------------------------------------------------

def _part_log(log_dir: str, pid: int) -> str:
    return os.path.join(log_dir, f"p{pid:05d}.log")


def _part_hwm(log_dir: str, pid: int) -> str:
    return os.path.join(log_dir, f"p{pid:05d}.hwm")


def _part_bnd(log_dir: str, pid: int) -> str:
    return os.path.join(log_dir, f"p{pid:05d}.bnd")


class PartitionedLogWriter:
    """Producer side: append records to a partition and publish its
    high-watermark atomically (append THEN replace the hwm file, so a
    reader never plans a byte range past durable data — torn tail lines
    are invisible until their hwm lands)."""

    def __init__(self, log_dir: str, n_partitions: int) -> None:
        self.log_dir = log_dir
        self.n_partitions = n_partitions
        os.makedirs(log_dir, exist_ok=True)
        for pid in range(n_partitions):
            if not os.path.exists(_part_hwm(log_dir, pid)):
                self._publish_hwm(pid, 0, 0)

    def _publish_hwm(self, pid: int, n: int, nbytes: int) -> None:
        path = _part_hwm(self.log_dir, pid)
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"n": n, "bytes": nbytes}, f)
        os.replace(tmp, path)

    def hwm(self, pid: int) -> dict:
        with open(_part_hwm(self.log_dir, pid), encoding="utf-8") as f:
            return json.load(f)

    def append(self, pid: int, records: list[tuple[str, str]]) -> dict:
        """Append (key, value) records; returns the new high watermark."""
        cur = self.hwm(pid)
        body = "".join(
            json.dumps({"key": k, "value": v}, ensure_ascii=False) + "\n"
            for k, v in records)
        data = body.encode("utf-8")
        with open(_part_log(self.log_dir, pid), "ab") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        new = {"n": cur["n"] + len(records), "bytes": cur["bytes"] + len(data)}
        # segment-boundary log: one line per append round (cumulative
        # hwm). A paced reader (maxRoundsPerTrigger) advances at most k
        # recorded boundaries per micro-batch — rate limiting that costs
        # one tiny metadata file read, never a data scan.
        with open(_part_bnd(self.log_dir, pid), "a", encoding="utf-8") as f:
            f.write(json.dumps(new) + "\n")
        self._publish_hwm(pid, new["n"], new["bytes"])
        return new


# ---------------------------------------------------------------------------
# Stream reader
# ---------------------------------------------------------------------------

_RECORD_SCHEMA = pa.schema([("key", pa.string()), ("value", pa.string())])


@dataclass
class _LogSlice(InputPartition):
    pid: int
    path: str
    start_offset: int
    start_byte: int
    end_byte: int


class _PartitionedLogStreamReader(DataSourceStreamReader):
    def __init__(self, options) -> None:
        self.log_dir = options.get("path")
        if not self.log_dir:
            raise ValueError("plog source requires .option('path', log_dir)")
        n = options.get("partitions")
        if n is not None:
            self.n_partitions = int(n)
        else:
            # discover from existing hwm sidecars
            self.n_partitions = len(
                [f for f in os.listdir(self.log_dir) if f.endswith(".hwm")])
        if self.n_partitions <= 0:
            raise ValueError(
                "plog source found no partitions; pass .option('partitions', n)"
                " or point at an initialized log directory")
        # pacing (the Kafka-source maxOffsetsPerTrigger analogue, in
        # units of producer append rounds = segment boundaries): each
        # latestOffset() advances at most k boundaries past what THIS
        # reader last planned. Driver-side cursor only. On a RESTART the
        # cursor must NOT re-pace from the log head: the plog property
        # fuzz (tests/test_plog_fuzz.py) shrank two real failures of the
        # old head-re-pacing — a paced latestOffset landing exactly on
        # the checkpointed offset stalls processAllAvailable with
        # records unread, and one landing BELOW it makes Spark commit
        # the regressed offset through an empty batch and then RE-READ
        # already-delivered records (duplicate). Since the Python
        # DataSource API has no ReadLimit form of latestOffset, the
        # restarted reader's first latestOffset reports the true
        # high-water mark (one unpaced catch-up batch — same
        # availability semantics processAllAvailable assumes) and
        # pacing resumes from there; a FRESH query (initialOffset was
        # invoked) paces from the head as before.
        mrt = options.get("maxroundspertrigger")
        self.max_rounds = int(mrt) if mrt is not None else None
        self._cursor: dict[str, dict] | None = None
        self._fresh_start = False

    # -- offsets ------------------------------------------------------------
    def initialOffset(self) -> dict:
        self._fresh_start = True
        return {str(pid): {"n": 0, "bytes": 0}
                for pid in range(self.n_partitions)}

    def latestOffset(self) -> dict:
        out = {}
        for pid in range(self.n_partitions):
            try:
                with open(_part_hwm(self.log_dir, pid), encoding="utf-8") as f:
                    out[str(pid)] = json.load(f)
            except FileNotFoundError:
                out[str(pid)] = {"n": 0, "bytes": 0}
        if self.max_rounds is None:
            return out
        if self._cursor is None:
            if not self._fresh_start:
                # restart: catch up unpaced once (see __init__ comment)
                self._cursor = out
                return out
            self._cursor = {str(pid): {"n": 0, "bytes": 0}
                            for pid in range(self.n_partitions)}
        # paced: advance at most max_rounds boundary lines past the
        # cursor, per partition (metadata read, O(boundary lines))
        paced = {}
        for pid_s, hwm in out.items():
            cur = self._cursor.get(pid_s, {"n": 0, "bytes": 0})
            if hwm["bytes"] <= cur["bytes"]:
                paced[pid_s] = cur
                continue
            try:
                with open(_part_bnd(self.log_dir, int(pid_s)),
                          encoding="utf-8") as f:
                    bounds = [json.loads(ln) for ln in f if ln.strip()]
            except FileNotFoundError:
                bounds = []
            ahead = [b for b in bounds if b["bytes"] > cur["bytes"]]
            paced[pid_s] = (ahead[self.max_rounds - 1]
                            if len(ahead) >= self.max_rounds else hwm)
        self._cursor = paced
        return paced

    # -- planning + reading ---------------------------------------------------
    def partitions(self, start: dict, end: dict):
        slices = []
        for pid_s, e in end.items():
            s = start.get(pid_s, {"n": 0, "bytes": 0})
            if e["bytes"] > s["bytes"]:
                pid = int(pid_s)
                slices.append(_LogSlice(
                    pid=pid, path=_part_log(self.log_dir, pid),
                    start_offset=s["n"],
                    start_byte=s["bytes"], end_byte=e["bytes"]))
        return slices

    def read(self, partition: _LogSlice):
        """One `pyarrow.RecordBatch` of the slice: the JSON lines are
        decoded by `pyarrow.json` in one block, with the partition and
        running offset columns alongside."""
        with open(partition.path, "rb") as f:
            f.seek(partition.start_byte)
            blob = f.read(partition.end_byte - partition.start_byte)
        recs = pj.read_json(
            pa.BufferReader(blob),
            read_options=pj.ReadOptions(use_threads=False,
                                        block_size=len(blob) + 1),
            parse_options=pj.ParseOptions(
                explicit_schema=_RECORD_SCHEMA,
                unexpected_field_behavior="ignore"))
        n = recs.num_rows
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.full(n, partition.pid, dtype=np.int32)),
             pa.array(np.arange(partition.start_offset,
                                partition.start_offset + n, dtype=np.int64)),
             recs.column("key").combine_chunks(),
             recs.column("value").combine_chunks()],
            names=["partition", "offset", "key", "value"])

    # -- ack ------------------------------------------------------------------
    def commit(self, end: dict) -> None:
        ack(self.log_dir, end)


def ack(log_dir: str, end: dict) -> None:
    """Cumulative ack (the Pulsar acknowledgeCumulative analogue) of a
    checkpoint completed through `end` — atomic replace so the acked
    watermark is always a complete, consistent snapshot. Spark calls it
    (through `commit`) as it plans the batch after `end`'s; a query
    that stops after its last batch acks that batch itself (job.py)."""
    ack_dir = os.path.join(log_dir, "_acks")
    os.makedirs(ack_dir, exist_ok=True)
    path = os.path.join(ack_dir, "committed.json")
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(end, f)
    os.replace(tmp, path)


def committed_acks(log_dir: str) -> dict | None:
    """The last offsets acked by `commit` (None before the first ack).
    Retention/monitoring reads this — segments wholly below the acked
    watermark are trimmable, the broker-side contract of cumulative ack."""
    try:
        with open(os.path.join(log_dir, "_acks", "committed.json"),
                  encoding="utf-8") as f:
            return json.load(f)
    except FileNotFoundError:
        return None


class _PartitionedLogBatchReader(DataSourceReader):
    """Batch read of the whole log up to the current high watermark —
    the backfill/bootstrap path every log consumer needs next to the
    stream (the analogue of a batch read of a Kafka topic). One input
    split per log partition; same torn-tail rule (reads only below the
    published hwm)."""

    def __init__(self, options) -> None:
        self._r = _PartitionedLogStreamReader(options)

    def partitions(self):
        return self._r.partitions(self._r.initialOffset(),
                                  self._r.latestOffset())

    def read(self, partition: _LogSlice):
        return self._r.read(partition)


class PartitionedLogDataSource(DataSource):
    """`spark.dataSource.register(PartitionedLogDataSource)` then
    `spark.readStream.format("plog").option("path", d).load()` (live,
    offsets + ack-on-commit) or `spark.read.format("plog")...` (batch
    backfill of everything below the high watermark)."""

    @classmethod
    def name(cls) -> str:
        return "plog"

    def schema(self) -> str:
        return "partition int, offset long, key string, value string"

    def streamReader(self, schema) -> _PartitionedLogStreamReader:
        return _PartitionedLogStreamReader(self.options)

    def reader(self, schema) -> _PartitionedLogBatchReader:
        return _PartitionedLogBatchReader(self.options)
