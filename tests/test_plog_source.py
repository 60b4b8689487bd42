"""Partitioned-log stream source (sources/plog.py): the S1 row's live
e2e — partitions, per-partition offsets, incremental micro-batches,
checkpoint-restart resume WITHOUT re-reading, and ack-on-commit
(reference PulsarSource.java:22-214 acks message ids on checkpoint
complete; `plog` publishes the acked watermark in _acks/committed.json)."""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

from datastream_processing_demo_spark.sources.plog import (
    PartitionedLogDataSource,
    PartitionedLogWriter,
    committed_acks,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(PartitionedLogDataSource)


def _tuples(batches) -> list[tuple]:
    """Flatten the Arrow record batches `read()` yields to row tuples."""
    return [tuple(row.values()) for b in batches for row in b.to_pylist()]


def _read_sink(spark, out_dir: str) -> list:
    return (spark.read.parquet(out_dir)
            .select("partition", "offset", "key", "value").collect())


def test_plog_offsets_partitions_acks_and_restart(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    w = PartitionedLogWriter(log_dir, n_partitions=3)
    # produce an uneven spread — p0:4, p1:2, p2:0 records
    w.append(0, [(f"k{i}", f"a{i}") for i in range(4)])
    w.append(1, [("k0", "b0"), ("k1", "b1")])

    def start():
        src = (spark.readStream.format("plog")
               .option("path", log_dir).option("partitions", 3).load())
        return (src.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .start())

    # run 1: two micro-batches in one live query
    q = start()
    q.processAllAvailable()                    # batch 0: the 6 records
    rows = _read_sink(spark, out_dir)
    got = {(r["partition"], r["offset"]): (r["key"], r["value"]) for r in rows}
    assert len(rows) == 6 and len(got) == 6
    assert got[(0, 0)] == ("k0", "a0") and got[(0, 3)] == ("k3", "a3")
    assert got[(1, 1)] == ("k1", "b1")

    # append mid-query (including to the previously-empty partition):
    # the next micro-batch picks up ONLY the new byte ranges
    w.append(0, [("k4", "a4")])
    w.append(2, [("kz", "c0")])
    q.processAllAvailable()                    # batch 1: the 2 new records
    rows2 = _read_sink(spark, out_dir)
    assert len(rows2) == 8
    got2 = {(r["partition"], r["offset"]): (r["key"], r["value"])
            for r in rows2}
    assert got2[(0, 4)] == ("k4", "a4")        # offset continues, no re-read
    assert got2[(2, 0)] == ("kz", "c0")

    # ack-on-commit: commit(end) fires once a batch's checkpoint is
    # durable (Spark invokes it as the NEXT batch is planned — acks
    # trail the checkpoint exactly like broker cumulative acks trail
    # consumption). After batch 1 planned, batch 0 must be acked.
    acks = committed_acks(log_dir)
    assert acks is not None, "batch 0 must be acked after batch 1 planned"
    assert acks["0"]["n"] >= 4 and acks["1"]["n"] >= 2
    q.stop()

    # restart from the checkpoint: resumes from checkpointed offsets —
    # nothing new to read, nothing re-read
    w.append(1, [("k2", "b2")])
    q2 = start()
    q2.processAllAvailable()
    rows3 = _read_sink(spark, out_dir)
    assert len(rows3) == 9, "restart must resume from checkpointed offsets"
    got3 = {(r["partition"], r["offset"]): (r["key"], r["value"])
            for r in rows3}
    assert got3[(1, 2)] == ("k2", "b2")
    q2.stop()


def test_plog_parallelism_matches_partitions(spark, tmp_path):
    # one task per log partition per micro-batch — source parallelism =
    # partition count, the reference's setParallelism(source_parallelism)
    log_dir = str(tmp_path / "log")
    w = PartitionedLogWriter(log_dir, n_partitions=4)
    for pid in range(4):
        w.append(pid, [(f"p{pid}", f"v{i}") for i in range(3)])
    from datastream_processing_demo_spark.sources.plog import (
        _PartitionedLogStreamReader,
    )
    r = _PartitionedLogStreamReader({"path": log_dir})
    assert r.n_partitions == 4                 # discovered from sidecars
    start, end = r.initialOffset(), r.latestOffset()
    slices = r.partitions(start, end)
    assert len(slices) == 4
    # byte-ranged read: a second batch seeks past consumed data
    w.append(1, [("p1", "late")])
    mid, end2 = end, r.latestOffset()
    tail = r.partitions(mid, end2)
    assert len(tail) == 1 and tail[0].pid == 1
    recs = _tuples(r.read(tail[0]))
    assert recs == [(1, 3, "p1", "late")]


def test_plog_torn_tail_invisible_until_hwm(tmp_path):
    # writer appends data THEN publishes hwm: a reader planning against
    # the stale hwm never sees the torn tail
    log_dir = str(tmp_path / "log")
    w = PartitionedLogWriter(log_dir, n_partitions=1)
    w.append(0, [("k", "v0")])
    from datastream_processing_demo_spark.sources.plog import (
        _PartitionedLogStreamReader,
        _part_log,
    )
    r = _PartitionedLogStreamReader({"path": log_dir, "partitions": "1"})
    hwm_before = r.latestOffset()
    # simulate a torn append: bytes on disk, hwm not yet published
    with open(_part_log(log_dir, 0), "ab") as f:
        f.write(b'{"key": "torn", "val')
    assert r.latestOffset() == hwm_before
    slices = r.partitions(r.initialOffset(), r.latestOffset())
    recs = [rec for s in slices for rec in _tuples(r.read(s))]
    assert recs == [(0, 0, "k", "v0")]


def test_plog_batch_backfill(spark, tmp_path):
    # spark.read.format("plog"): batch backfill of everything below the
    # published hwm — one split per partition, torn tails excluded
    log_dir = str(tmp_path / "log")
    w = PartitionedLogWriter(log_dir, n_partitions=2)
    w.append(0, [("a", "1"), ("b", "2")])
    w.append(1, [("c", "3")])
    df = (spark.read.format("plog")
          .option("path", log_dir).option("partitions", 2).load())
    assert df.rdd.getNumPartitions() == 2
    rows = {(r["partition"], r["offset"]): (r["key"], r["value"])
            for r in df.collect()}
    assert rows == {(0, 0): ("a", "1"), (0, 1): ("b", "2"),
                    (1, 0): ("c", "3")}
    # batch agg over the log matches the producer's view
    assert df.count() == 3


def test_executor_side_producer_byte_identical(spark, sf_dir, tmp_path):
    """The foreachPartition plog producer (VERDICT r8 task #7) must lay
    down byte-identical segments/boundaries/hwms to the retired
    driver-serial writer — same records, same per-round chunking, same
    per-pid event_id order. The reference writer is reimplemented here
    driver-side (collect is fine at test sf)."""
    import os

    from pyspark.sql import functions as F

    from datastream_processing_demo_spark.catalog import load_table
    from datastream_processing_demo_spark.plans.streaming_live import (
        write_plog_partitions,
    )
    from datastream_processing_demo_spark.sources.plog import (
        PartitionedLogWriter,
    )

    n_parts, n_rounds = 4, 4
    rows = (load_table(spark, sf_dir, "events")
            .select("event_id", "event_type",
                    F.floor(F.col("value") * 100.0).cast("long")
                    .alias("cents"),
                    (F.col("event_id") % n_parts).cast("int").alias("pid")))
    counts = {r["pid"]: r["n"] for r in
              rows.groupBy("pid").agg(F.count(F.lit(1)).alias("n"))
              .collect()}

    # reference: sequential driver-side writer
    ref_dir = str(tmp_path / "ref")
    w = PartitionedLogWriter(ref_dir, n_partitions=n_parts)
    recs = sorted(rows.collect(), key=lambda r: (r["pid"], r["event_id"]))
    by_pid: dict[int, list] = {}
    for r in recs:
        by_pid.setdefault(r["pid"], []).append(
            (f"{r['event_id']}", f"{r['event_type']}|{r['cents']}"))
    for pid in range(n_parts):
        lst = by_pid.get(pid, [])
        step = max(1, (counts.get(pid, 0) + n_rounds - 1) // n_rounds)
        for i in range(0, len(lst), step):
            w.append(pid, lst[i:i + step])

    # under test: executor-side writer
    got_dir = str(tmp_path / "got")
    PartitionedLogWriter(got_dir, n_partitions=n_parts)
    write_plog_partitions(rows, got_dir, n_parts=n_parts,
                          n_rounds=n_rounds, counts=counts)

    ref_files = sorted(os.listdir(ref_dir))
    assert ref_files == sorted(os.listdir(got_dir))
    for name in ref_files:
        a = open(os.path.join(ref_dir, name), "rb").read()
        b = open(os.path.join(got_dir, name), "rb").read()
        assert a == b, f"file {name} differs"


def test_plog_reads_from_any_working_directory(tmp_path):
    """get_session hands the package to the Python workers, which
    unpickle the `plog` source by module path: a driver started outside
    the checkout, with PYTHONPATH unset, reads a micro-batch."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    log_dir = str(tmp_path / "log")
    PartitionedLogWriter(log_dir, 1).append(0, [("k", "v0"), ("k", "v1")])
    script = f"""
import sys
sys.path.insert(0, {root!r})
from datastream_processing_demo_spark.session import EngineConfig, get_session
from datastream_processing_demo_spark.sources.plog import (
    PartitionedLogDataSource)
spark = get_session(EngineConfig(app_name="plog-cwd", master="local[1]"))
spark.dataSource.register(PartitionedLogDataSource)
q = (spark.readStream.format("plog").option("path", {log_dir!r})
     .option("partitions", "1").load()
     .writeStream.format("memory").queryName("got")
     .trigger(availableNow=True).start())
q.awaitTermination(120)
print("rows", spark.table("got").count())
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert "rows 2" in out.stdout.splitlines(), out.stderr[-3000:]
