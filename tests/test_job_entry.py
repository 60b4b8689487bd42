"""The CLI job entry point (job.py = reference main() analogue) wires a
full run from a properties file: `plog` source dir -> three-way
pipeline -> sinks, run-once mode."""

from __future__ import annotations

import glob
import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datastream_processing_demo_spark.job import run
from datastream_processing_demo_spark.sources.plog import (
    PartitionedLogWriter,
    committed_acks,
)


def test_job_runs_from_properties_file(spark, tmp_path):
    src = tmp_path / "src"
    log = PartitionedLogWriter(str(src), n_partitions=2)
    values = [
        f"{'session':<16}{'1700000000000':<16}" + " " * 32 + f"payload-{i}"
        for i in range(20)
    ] + [f"{'other':<16}{'1700000000000':<16}" + " " * 32 + "x"]
    for i, v in enumerate(values):
        log.append(i % 2, [(f"k{i}", v)])

    props = tmp_path / "job.properties"
    props.write_text(f"""
job_name=test-job
parallelism=4
run_once=true
frozen_now_ms=1700000005000
source_dir={src}
checkpoint_location={tmp_path}/ckpt
main_out_dir={tmp_path}/main
bulk_endpoint={tmp_path}/bulk
metric_spool_dir={tmp_path}/metrics
""")
    q = run(["-c", str(props)], await_termination=True)
    assert q.lastProgress is not None

    assert spark.read.parquet(str(tmp_path / "main")).count() == 21
    bulk_lines = []
    for p in glob.glob(f"{tmp_path}/bulk/*.ndjson"):
        bulk_lines += open(p, encoding="utf-8").read().splitlines()
    assert len(bulk_lines) == 20  # session tails only
    metrics = glob.glob(f"{tmp_path}/metrics/*.json")
    assert metrics, "metric reporter produced no batches"
    # the source acks its offsets on commit, as Pulsar's cumulative ack
    assert committed_acks(str(src)) == {str(p): log.hwm(p) for p in range(2)}


def test_stop_and_replace_cancels_then_resubmits(spark, tmp_path):
    """Reference launcher semantics (run_datastream_job.sh:40-52): a
    second submit of the same job name cancels the running incarnation
    and resumes from its checkpoint — old rows NOT reprocessed, new rows
    processed exactly once by the replacement."""
    from datastream_processing_demo_spark.job import (
        find_active_query,
        stop_and_replace,
    )
    from datastream_processing_demo_spark.streaming.pipeline import (
        run_pipeline_stream,
    )
    from datastream_processing_demo_spark.streaming.sinks import (
        HttpBulkWriter,
        MetricAvgReporter,
    )
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()

    def write_msgs(fname: str, tag: str, n: int) -> None:
        msgs = pd.DataFrame({"value": [
            f"{'session':<16}{'1700000000000':<16}" + " " * 32 + f"{tag}-{i}"
            for i in range(n)]})
        pq.write_table(pa.Table.from_pandas(msgs), str(src / fname))

    def start():
        raw = spark.readStream.schema("value string").parquet(str(src))
        return run_pipeline_stream(
            raw, checkpoint_dir=str(tmp_path / "ckpt"),
            main_out_dir=str(tmp_path / "main"),
            bulk_writer=HttpBulkWriter(str(tmp_path / "bulk")),
            metric_reporter=MetricAvgReporter(str(tmp_path / "metrics")),
            now_ms=F.lit(1700000005000),
            trigger={"processingTime": "1 second"})

    write_msgs("a.parquet", "first", 10)
    q1 = start()
    assert find_active_query(spark, "datastream-pipeline") is not None
    # wait until the first incarnation has drained the first file
    import time
    for _ in range(60):
        if os.path.isdir(f"{tmp_path}/main") and \
                glob.glob(f"{tmp_path}/main/*.parquet"):
            if spark.read.parquet(str(tmp_path / "main")).count() >= 10:
                break
        time.sleep(1)
    assert spark.read.parquet(str(tmp_path / "main")).count() == 10

    # deploy the replacement; the old query must be gone, the new active
    q2 = stop_and_replace(spark, "datastream-pipeline", start)
    assert not q1.isActive
    assert q2.isActive
    assert find_active_query(spark, "datastream-pipeline").id == q2.id

    write_msgs("b.parquet", "second", 7)
    for _ in range(60):
        if spark.read.parquet(str(tmp_path / "main")).count() >= 17:
            break
        time.sleep(1)
    q2.stop()
    # 10 from before the deploy + 7 after, nothing duplicated
    assert spark.read.parquet(str(tmp_path / "main")).count() == 17


def test_two_incarnation_deploy_under_load(spark, tmp_path):
    """Two-incarnation concurrency under load (VERDICT r8 task #8,
    reference run_datastream_job.sh:4-52 semantics composed with the
    two-live-queries contract): pipelines A and B run CONCURRENTLY over
    the same source dir with separate names/checkpoints/sinks; A is
    stop-and-replaced mid-stream while B keeps processing. The deploy
    must not touch B (same query id, stays active), A's replacement
    resumes from A's checkpoint (nothing lost, nothing doubled), and
    BOTH main sinks end oracle-exact."""
    import time

    from pyspark.sql import functions as F

    from datastream_processing_demo_spark.job import (
        find_active_query,
        stop_and_replace,
    )
    from datastream_processing_demo_spark.streaming.pipeline import (
        run_pipeline_stream,
    )
    from datastream_processing_demo_spark.streaming.sinks import (
        HttpBulkWriter,
        MetricAvgReporter,
    )

    src = tmp_path / "src"
    src.mkdir()

    def write_msgs(fname: str, tag: str, n: int) -> None:
        msgs = pd.DataFrame({"value": [
            f"{'session':<16}{'1700000000000':<16}" + " " * 32 + f"{tag}-{i}"
            for i in range(n)]})
        pq.write_table(pa.Table.from_pandas(msgs), str(src / fname))

    def start(tag: str):
        def fn():
            raw = spark.readStream.schema("value string").parquet(str(src))
            return run_pipeline_stream(
                raw, checkpoint_dir=str(tmp_path / f"ckpt-{tag}"),
                main_out_dir=str(tmp_path / f"main-{tag}"),
                bulk_writer=HttpBulkWriter(str(tmp_path / f"bulk-{tag}")),
                metric_reporter=MetricAvgReporter(
                    str(tmp_path / f"metrics-{tag}")),
                now_ms=F.lit(1700000005000),
                trigger={"processingTime": "1 second"},
                name=f"datastream-pipeline-{tag}")
        return fn

    def main_count(tag: str) -> int:
        d = str(tmp_path / f"main-{tag}")
        if not glob.glob(f"{d}/*.parquet"):
            return 0
        return spark.read.parquet(d).count()

    def wait_for(tag: str, n: int, secs: int = 90) -> None:
        for _ in range(secs):
            if main_count(tag) >= n:
                return
            time.sleep(1)
        raise AssertionError(
            f"main-{tag} never reached {n} rows (got {main_count(tag)})")

    write_msgs("a.parquet", "first", 10)
    qa = start("a")()
    qb = start("b")()
    try:
        assert qa.isActive and qb.isActive
        wait_for("a", 10)
        wait_for("b", 10)

        # deploy A's replacement while B is live; feed new load around
        # the deploy so B is actively processing THROUGH it
        b_id = qb.id
        write_msgs("b.parquet", "second", 7)
        qa2 = stop_and_replace(spark, "datastream-pipeline-a",
                               start("a"))
        assert not qa.isActive
        assert qa2.isActive
        assert find_active_query(spark, "datastream-pipeline-a").id == qa2.id
        # B was never disturbed: still the same incarnation, still live
        assert qb.isActive and qb.id == b_id

        write_msgs("c.parquet", "third", 5)
        wait_for("a", 22)
        wait_for("b", 22)
    finally:
        for q in spark.streams.active:
            if q.name in ("datastream-pipeline-a", "datastream-pipeline-b"):
                q.stop()

    # oracle-exact: every message exactly once in BOTH mains — the
    # replaced pipeline resumed from its checkpoint, the survivor never
    # hiccuped
    want = {f"{t}-{i}" for t, n in (("first", 10), ("second", 7),
                                    ("third", 5)) for i in range(n)}
    for tag in ("a", "b"):
        got = [r["payload"] for r in
               spark.read.parquet(str(tmp_path / f"main-{tag}"))
               .select(F.trim(F.substring("value", 65, 100))
                       .alias("payload")).collect()]
        assert sorted(got) == sorted(want), f"main-{tag} not exactly-once"
