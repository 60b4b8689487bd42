"""The engine process: one SparkSession running one workload.

perfbench/run.py launches this as a child process, so set-up time is
measured from process launch and the process tree's memory and CPU can
be read from /proc. It talks to run.py through files in the run
directory: it appends events to `engine.jsonl` (`session` once the SparkSession
is up, `ready` once the first result is delivered, `done` once every
result and span is written; run.py then stops the process) and polls for a `stop` file.

Every layer is driven through the program's public functions:
`session.get_session`, the `plog` source, `streaming.pipeline.
run_pipeline_stream` with `HttpBulkWriter` / `MetricAvgReporter`,
`streaming.windows.dedup_within_watermark`, and the registered batch
queries. With `trace` on, the sinks are wrapped by subclasses that time
each call, and extra probe reads time the source and the parser alone.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import Tracer, progress_end, tree_cpu_s  # noqa: E402

# One vector search and the two relational queries. The text pipeline
# and the dedup/similarity lanes take 10-30 s each on a cold engine and
# 4-10 s warm, more than the benchmark's time budget allows.
BATCH_MIX = ("sim_bruteforce_topk", "q1_pricing_summary", "join_inner_3way")


class Run:
    def __init__(self, run_dir: str, params: dict) -> None:
        self.dir = run_dir
        self.p = params
        self.tracer = Tracer(bool(params.get("trace")))
        self._events = open(os.path.join(run_dir, "engine.jsonl"), "a",
                            encoding="utf-8")

    def emit(self, kind: str, **fields) -> None:
        fields.update(kind=kind, t=time.time())
        self._events.write(json.dumps(fields) + "\n")
        self._events.flush()

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def stop_requested(self) -> bool:
        return os.path.exists(self.path("stop"))

    def done(self, **fields) -> None:
        """Write the spans, then tell run.py that every result is out;
        run.py stops the process from here on."""
        if self.tracer.enabled:
            self.tracer.dump(self.path("spans_engine.json"))
        self.emit("done", **fields)

    def close(self) -> None:
        self._events.close()


def session(run: Run):
    from datastream_processing_demo_spark.session import (
        EngineConfig,
        get_session,
    )
    from datastream_processing_demo_spark.sources.plog import (
        PartitionedLogDataSource,
    )
    with run.tracer.span("session.get_session"):
        a = time.time()
        spark = get_session(EngineConfig(app_name="perfbench"))
        spark.dataSource.register(PartitionedLogDataSource)
        run.emit("session", seconds=time.time() - a)
    return spark


def _progress(q) -> list[dict]:
    """The query's progress records (Spark keeps the last 100)."""
    return [json.loads(p.json) for p in q.recentProgress]


def _sinks(run: Run, tag: str):
    from datastream_processing_demo_spark.streaming.sinks import (
        HttpBulkWriter,
        MetricAvgReporter,
    )
    url, spool = run.p["bulk_url"], run.path(f"spool_{tag}")
    if not run.tracer.enabled:
        return HttpBulkWriter(url), MetricAvgReporter(spool)
    tracer = run.tracer

    class TimedBulkWriter(HttpBulkWriter):
        def write_batch(self, tails, batch_id):
            with tracer.span("streaming.sinks.bulk_write",
                             "streaming.pipeline.batch", f"{tag}-{batch_id}"):
                super().write_batch(tails, batch_id)

    class TimedMetricReporter(MetricAvgReporter):
        def report_batch(self, delays, batch_id):
            with tracer.span("streaming.sinks.metric_report",
                             "streaming.pipeline.batch", f"{tag}-{batch_id}"):
                super().report_batch(delays, batch_id)

    return TimedBulkWriter(url), TimedMetricReporter(spool)


def _start_pipeline(run: Run, spark, log_dir: str, tag: str,
                    max_rounds: int | None):
    from datastream_processing_demo_spark.streaming.pipeline import (
        run_pipeline_stream,
    )
    src = (spark.readStream.format("plog").option("path", log_dir)
           .option("partitions", str(run.p["partitions"])))
    if max_rounds:
        src = src.option("maxRoundsPerTrigger", str(max_rounds))
    bulk, metric = _sinks(run, tag)
    return run_pipeline_stream(
        src.load(), checkpoint_dir=run.path(f"ckpt_{tag}"),
        main_out_dir=run.path("main_out"), bulk_writer=bulk,
        metric_reporter=metric, trigger={"processingTime": "0 seconds"},
        name=f"pipeline_{tag}")


def _check(q) -> None:
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))


def _finish(spark, q) -> dict:
    """Drain what is available, stop, and return the query's record."""
    q.processAllAvailable()
    t_end = time.time()
    jobs = len(spark.sparkContext.statusTracker()
               .getJobIdsForGroup(str(q.runId)))
    prog = _progress(q)
    q.stop()
    return {"end": t_end, "progress": prog, "spark_jobs": jobs}


def _batch_spans(run: Run, prog: list[dict], span: str, tag: str) -> None:
    for p in prog:
        end = progress_end(p)
        run.tracer.add(span, end - p["durationMs"].get("triggerExecution", 0)
                       / 1000.0, end, None, f"{tag}-{p['batchId']}")


def _mark() -> list[float]:
    return [time.time(), tree_cpu_s(os.getpid())]


def _timed(segments: list, work):
    """Run `work()` and append its `[t0, cpu0, t1, cpu1]` segment: wall
    time and the engine process tree's CPU seconds before and after."""
    a = _mark()
    out = work()
    segments.append(a + _mark())
    return out


def pipeline(run: Run, spark) -> None:
    """Phase pipeline_steady: the live log starts with a small warm-up
    set, whose micro-batch is the first result; the open loop then feeds
    it until run.py asks to stop. Phase pipeline_backlog: one fresh query
    per pre-filled backlog log drains it."""
    q = _start_pipeline(run, spark, run.p["log_dir"], "steady", None)
    while not any(p["numInputRows"] > 0 for p in _progress(q)):
        _check(q)
        time.sleep(0.01)
    run.emit("ready")
    seg = {"steady": [_mark()], "backlog": []}
    # CPU at the end of each open-loop batch: batches run back to back,
    # so the difference between two consecutive ones is one batch's CPU
    batch_cpu, last = [], None
    while not run.stop_requested():
        _check(q)
        p = q.lastProgress
        if p is not None and p["batchId"] != last:
            last = p["batchId"]
            batch_cpu.append([last, tree_cpu_s(os.getpid())])
        time.sleep(0.025)
    steady = _finish(spark, q)
    steady["batch_cpu"] = batch_cpu
    seg["steady"][0] += _mark()
    backlog = [_timed(seg["backlog"], lambda: _finish(spark, _start_pipeline(
        run, spark, log_dir, f"backlog{i}", run.p["max_rounds"])))
        for i, log_dir in enumerate(run.p["backlog_log_dirs"])]
    probe = None
    if run.tracer.enabled:
        _batch_spans(run, steady["progress"], "streaming.pipeline.batch",
                     "steady")
        for i, drain in enumerate(backlog):
            _batch_spans(run, drain["progress"], "streaming.pipeline.batch",
                         f"backlog{i}")
        probe = probe_source(run, spark)
    run.done(steady=steady, backlog=backlog, probe=probe, segments=seg)


def probe_source(run: Run, spark) -> dict:
    """Traced run only. The source alone: a read of the first backlog log
    into the noop sink. The parser alone: `parse_messages` over a cached
    copy of all backlog logs into the noop sink, so that the source's own
    cost does not drown it. Best of three each."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from datastream_processing_demo_spark.streaming.messages import (
        parse_messages,
    )

    def read(log_dir: str) -> DataFrame:
        return (spark.read.format("plog").option("path", log_dir)
                .option("partitions", str(run.p["partitions"])).load())

    def best(name: str, make) -> float:
        times = []
        for i in range(3):
            a = time.time()
            make().write.format("noop").mode("overwrite").save()
            times.append(time.time() - a)
            run.tracer.add(f"probe.{name}", a, time.time(), None, i)
        return min(times)

    dirs = run.p["backlog_log_dirs"]
    read_s = best("read", lambda: read(dirs[0]))
    cached = reduce(DataFrame.union, map(read, dirs)).cache()
    rows = cached.count()
    parse_s = best("parse", lambda: parse_messages(cached))
    cached.unpersist()
    return {"read_s": read_s, "parse_s": parse_s, "parse_rows": rows}


def _start_windows(run: Run, spark, tag: str, src_dir: str):
    from pyspark.sql import functions as F

    from datastream_processing_demo_spark.streaming.windows import (
        dedup_within_watermark,
    )
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    events = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src_dir))
    counts = (dedup_within_watermark(events, "1 hour")
              .groupBy(F.window("ts", "6 hours").alias("win"), "user_id")
              .agg(F.count(F.lit(1)).alias("n"))
              .select(F.col("win.start").alias("window_start"),
                      "user_id", "n"))
    out = run.path(f"windows_{tag}")

    def sink(df, batch_id):
        df.withColumn("batch_id", F.lit(batch_id)) \
            .write.mode("append").parquet(out)

    return (counts.writeStream.outputMode("update").foreachBatch(sink)
            .option("checkpointLocation", run.path(f"ckpt_{tag}"))
            .queryName(f"windows_{tag}")
            .trigger(processingTime="0 seconds").start())


def state_batch(run: Run, spark) -> None:
    """Phase batch_llm_corpus: passes over the query mix. The first pass
    is the first result and its answers are kept for the oracle check;
    a fixed number of timed passes follow. Phase state_dedup_window:
    drain the event files."""
    from datastream_processing_demo_spark.plans.registry import all_queries
    specs = all_queries()

    def one_pass(pass_no: int, keep: bool) -> dict:
        times = {}
        with run.tracer.span("plans.pass", None, pass_no):
            for name in BATCH_MIX:
                with run.tracer.span(f"plans.{name}", "plans.pass", pass_no):
                    a = time.time()
                    pdf = specs[name].spark(spark, run.p["corpus_dir"]) \
                        .toPandas()
                    times[name] = (a, time.time())
                if keep:
                    pdf.to_pickle(run.path(f"result_{name}.pkl"))
        return times

    one_pass(-1, True)
    run.emit("ready")
    seg = {"batch": [], "state": []}
    passes = [_timed(seg["batch"], lambda: one_pass(i, False))
              for i in range(run.p["passes"])]
    windows = _timed(seg["state"], lambda: _finish(
        spark, _start_windows(run, spark, "main", run.p["events_dir"])))
    _batch_spans(run, windows["progress"], "streaming.windows.batch", "main")
    run.done(windows=windows, passes=passes, segments=seg)


def main() -> None:
    run_dir = sys.argv[1]
    with open(os.path.join(run_dir, "params.json"), encoding="utf-8") as f:
        params = json.load(f)
    run = Run(run_dir, params)
    try:
        spark = session(run)
        {"pipeline": pipeline,
         "state_batch": state_batch}[params["workload"]](run, spark)
        spark.stop()
    except Exception as exc:  # report, then fail the process
        run.emit("error", error=f"{type(exc).__name__}: {exc}")
        raise
    finally:
        run.close()


if __name__ == "__main__":
    main()
