"""Job entry point — the engine's analogue of the reference's main()
(DataStreamProcessingJob.java:68-176; SURVEY.md §3.1).

The reference parses CLI options (-h/-c/-p/-t), loads a properties
file, configures the environment (checkpointing, parallelism, state
backend), wires source -> process -> sinks, and submits. This module
does the same with Spark idioms:

    python -m datastream_processing_demo_spark.job \
        -c job.properties [-p PARALLELISM] [--source-dir DIR]

Config keys mirror the reference's properties surface (§2.1 config
table): parallelism, checkpoint_interval, checkpoint_location,
source_dir (stands in for pulsar_topics: a `plog` partitioned-log
directory, sources/plog.py, read with the partitions its `.hwm`
sidecars name and acked on each checkpoint; `plog` is the only
message source),
bulk_endpoint (ctsdb_addr analogue), bulk_batch_size (ctsdb_batch_size),
metric_spool_dir (zhiyan analogue), main_out_dir.
"""

from __future__ import annotations

import argparse
import configparser
import json
import sys

from pyspark.sql import functions as F

from .session import EngineConfig, get_session
from .sources.plog import PartitionedLogDataSource, ack
from .streaming.pipeline import run_pipeline_stream
from .streaming.sinks import HttpBulkWriter, MetricAvgReporter

_DEFAULTS = {
    "parallelism": "8",               # reference default (:92)
    "checkpoint_interval": "5000",    # ms (:104)
    "bulk_batch_size": "1000",        # ctsdb_batch_size (:157)
}


def load_config(path: str) -> dict[str, str]:
    """Java-style .properties loader (key=value lines, no sections)."""
    cp = configparser.ConfigParser()
    with open(path, encoding="utf-8") as f:
        cp.read_string("[job]\n" + f.read())
    cfg = dict(_DEFAULTS)
    cfg.update(cp["job"])
    return cfg


def build_parser() -> argparse.ArgumentParser:
    # mirrors the reference's commons-cli options (:70-87)
    p = argparse.ArgumentParser(prog="datastream-job")
    p.add_argument("-c", "--config", required=True, help="properties file")
    p.add_argument("-p", "--parallelism", type=int, default=None,
                   help="override parallelism (reference -p, :94-96)")
    p.add_argument("--source-dir", default=None,
                   help="override source_dir from the properties file")
    return p


def find_active_query(spark, name: str):
    """Job discovery by name — the analogue of the reference launcher's
    `flink list | grep $JOB_NAME` (flink/run_datastream_job.sh:40-46)."""
    for q in spark.streams.active:
        if q.name == name:
            return q
    return None


def stop_and_replace(spark, name: str, start_fn, timeout_s: int = 120):
    """Stop-and-replace deploy: if a streaming query with this name is
    already running, cancel it, then (re)submit — the reference's
    detect-cancel-resubmit loop (flink/run_datastream_job.sh:40-52).

    The new incarnation starts from the same checkpoint, so state and
    source offsets carry over exactly (checkpoint recovery across query
    incarnations is proven by `stream_live_restart`,
    plans/streaming_live.py). Returns the new StreamingQuery.
    """
    existing = find_active_query(spark, name)
    if existing is not None:
        existing.stop()
        existing.awaitTermination(timeout_s)
    return start_fn()


def run(argv: list[str] | None = None, await_termination: bool = True):
    args = build_parser().parse_args(argv)
    cfg = load_config(args.config)
    if args.parallelism:
        cfg["parallelism"] = str(args.parallelism)
    if args.source_dir:
        cfg["source_dir"] = args.source_dir

    spark = get_session(EngineConfig(
        app_name=cfg.get("job_name", "datastream-job"),
        parallelism=int(cfg["parallelism"]),
    ))
    trigger = {"processingTime": f"{int(cfg['checkpoint_interval'])} milliseconds"}
    run_once = cfg.get("run_once", "false").lower() == "true"

    spark.dataSource.register(PartitionedLogDataSource)

    def start_fn():
        raw = (spark.readStream.format("plog")
               .option("path", cfg["source_dir"]).load())
        return run_pipeline_stream(
            raw,
            checkpoint_dir=cfg["checkpoint_location"],
            main_out_dir=cfg["main_out_dir"],
            bulk_writer=HttpBulkWriter(cfg["bulk_endpoint"],
                                       int(cfg["bulk_batch_size"])),
            metric_reporter=MetricAvgReporter(cfg["metric_spool_dir"]),
            now_ms=(F.lit(int(cfg["frozen_now_ms"]))
                    if "frozen_now_ms" in cfg else None),
            trigger=trigger,
        )

    # Stop-and-replace deploy through the tested helper (the reference
    # launcher's detect-cancel-resubmit); the checkpoint carries
    # offsets/state into the new query incarnation.
    query = stop_and_replace(spark, "datastream-pipeline", start_fn)
    if run_once:
        # A drain, not availableNow: Spark runs a Python source's
        # availableNow as one batch, which after a crash is only the
        # planned but uncommitted batch. processAllAvailable returns once
        # every offset present at the call is committed.
        query.processAllAvailable()
        query.stop()
        if query.lastProgress is not None:
            # Spark acks a batch's offsets when it plans the next batch,
            # which a drain-and-stop run never does: ack the last batch,
            # whose checkpoint committed before the query stopped.
            progress = json.loads(query.lastProgress.json)
            ack(cfg["source_dir"], progress["sources"][0]["endOffset"])
    elif await_termination:
        query.awaitTermination()
    return query


if __name__ == "__main__":
    run(sys.argv[1:])
