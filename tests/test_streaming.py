"""Structured Streaming correctness (SURVEY.md §5.2 item 3).

- stream-batch equivalence: replaying events through a file-stream
  source in bounded micro-batches produces the same windowed results as
  the batch computation of the same logic;
- the reference three-way-split pipeline (parse -> route -> delay ->
  sinks) end-to-end under foreachBatch with a frozen clock;
- stateful dedup across micro-batches (dropDuplicatesWithinWatermark);
- checkpoint recovery: re-running with the same checkpoint processes
  new data exactly once into the file sink.
"""

from __future__ import annotations

import glob
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from datastream_processing_demo_spark.catalog import load_table
from datastream_processing_demo_spark.schemas import EVENTS
from datastream_processing_demo_spark.streaming.messages import messages_from_events
from datastream_processing_demo_spark.streaming.pipeline import (
    run_pipeline_stream,
    split_branches,
)
from datastream_processing_demo_spark.streaming.sinks import (
    HttpBulkWriter,
    MetricAvgReporter,
)
from datastream_processing_demo_spark.streaming.windows import (
    dedup_within_watermark,
    session_windows,
    tumbling_counts,
)

N_CHUNKS = 5


def _write_chunks(pdf, out_dir: str, n_chunks: int = N_CHUNKS) -> None:
    """Write a pandas frame as n ts-ordered parquet files (µs timestamps,
    so the stream source needs no nanos handling)."""
    os.makedirs(out_dir, exist_ok=True)
    step = (len(pdf) + n_chunks - 1) // n_chunks
    for i in range(0, len(pdf), step):
        table = pa.Table.from_pandas(pdf.iloc[i:i + step], preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"chunk-{i:06d}.parquet"),
                       coerce_timestamps="us", allow_truncated_timestamps=True)


@pytest.fixture(scope="module")
def events_pdf(spark, sf_dir):
    df = load_table(spark, sf_dir, "events").orderBy("ts", "event_id").toPandas()
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df


@pytest.fixture()
def stream_dir(events_pdf, tmp_path):
    d = str(tmp_path / "events_stream")
    _write_chunks(events_pdf, d)
    return d


def _run_to_memory(stream_df, name: str, mode: str) -> None:
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    q.awaitTermination(timeout=120)


def test_stream_batch_equivalence_tumbling(spark, stream_dir):
    src = (spark.readStream.schema(EVENTS)
           .option("maxFilesPerTrigger", 1).parquet(stream_dir))
    _run_to_memory(tumbling_counts(src), "tumbling_stream", "complete")
    got = spark.sql("SELECT * FROM tumbling_stream").toPandas()

    batch = tumbling_counts(spark.read.schema(EVENTS).parquet(stream_dir)).toPandas()
    key = ["window_start", "event_type"]
    got = got.sort_values(key, ignore_index=True)
    batch = batch.sort_values(key, ignore_index=True)
    assert got.equals(batch), "streamed tumbling windows != batch computation"


def test_stream_batch_equivalence_sliding(spark, stream_dir):
    from datastream_processing_demo_spark.streaming.windows import sliding_counts

    src = (spark.readStream.schema(EVENTS)
           .option("maxFilesPerTrigger", 1).parquet(stream_dir))
    _run_to_memory(sliding_counts(src), "sliding_stream", "complete")
    got = spark.sql("SELECT * FROM sliding_stream").toPandas()
    batch = sliding_counts(spark.read.schema(EVENTS).parquet(stream_dir)).toPandas()
    got = got.sort_values(["window_start"], ignore_index=True)
    batch = batch.sort_values(["window_start"], ignore_index=True)
    assert got.equals(batch), "streamed sliding windows != batch computation"


def test_stream_batch_equivalence_session_append(spark, events_pdf, tmp_path):
    # sentinel event far in the future advances the watermark so append
    # mode finalizes every real session before the stream ends
    sentinel = events_pdf.iloc[[-1]].copy()
    sentinel["ts"] = sentinel["ts"] + pd_timedelta_days(10)
    sentinel["user_id"] = -1
    sentinel["event_id"] = 10_000_000
    d = str(tmp_path / "events_sentinel")
    _write_chunks(events_pdf, d)
    _write_chunks(sentinel, str(tmp_path / "sentinel_tmp"), 1)
    os.rename(glob.glob(str(tmp_path / "sentinel_tmp" / "*.parquet"))[0],
              os.path.join(d, "zz-sentinel.parquet"))  # lexically last

    src = (spark.readStream.schema(EVENTS)
           .option("maxFilesPerTrigger", 1).parquet(d))
    _run_to_memory(session_windows(src), "session_stream", "append")
    got = spark.sql("SELECT * FROM session_stream WHERE user_id >= 0").toPandas()

    batch = session_windows(
        spark.read.schema(EVENTS).parquet(d).filter(F.col("user_id") >= 0)
    ).toPandas()
    key = ["user_id", "session_start"]
    got = got.sort_values(key, ignore_index=True)
    batch = batch.sort_values(key, ignore_index=True)
    assert got.equals(batch), "streamed session windows != batch computation"


def pd_timedelta_days(days: int):
    import pandas as pd
    return pd.Timedelta(days=days)


def test_pipeline_three_way_split_end_to_end(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    frozen_now = events.agg((F.max(F.unix_millis("ts")) + 60000).alias("v")) \
        .collect()[0]["v"]

    # materialize messages as a 2-file stream source
    msgs_pdf = messages_from_events(events).toPandas()
    src_dir = str(tmp_path / "msgs")
    _write_chunks(msgs_pdf, src_dir, n_chunks=2)

    main_dir = str(tmp_path / "main_out")
    bulk_dir = str(tmp_path / "bulk_out")
    metric_dir = str(tmp_path / "metric_spool")

    src = spark.readStream.schema("value string") \
        .option("maxFilesPerTrigger", 1).parquet(src_dir)
    q = run_pipeline_stream(
        src, checkpoint_dir=str(tmp_path / "ckpt"), main_out_dir=main_dir,
        bulk_writer=HttpBulkWriter(bulk_dir, batch_size=100),
        metric_reporter=MetricAvgReporter(metric_dir),
        now_ms=F.lit(frozen_now))
    q.awaitTermination(timeout=180)

    # golden: batch evaluation of the same branches
    golden = split_branches(messages_from_events(events), now_ms=F.lit(frozen_now))

    # main branch: every message passes through exactly once
    main_rows = spark.read.parquet(main_dir).count()
    assert main_rows == golden.main.count() == events.count()

    # bulk sink: session payloads minus the literal 'error', idempotent ids
    docs = []
    for path in glob.glob(os.path.join(bulk_dir, "*.ndjson")):
        with open(path, encoding="utf-8") as f:
            docs += [json.loads(line) for line in f if line.strip()]
    golden_tails = sorted(
        r["payload"] for r in golden.session_tails
        .filter(F.col("payload") != "error").collect())
    assert sorted(d["doc"] for d in docs) == golden_tails
    assert len({d["_id"] for d in docs}) == len(docs), "bulk doc ids not unique"

    # metric sink: per-batch avg delays combine to the golden global avg
    metrics = [json.load(open(p, encoding="utf-8"))
               for p in glob.glob(os.path.join(metric_dir, "*.json"))]
    n_total = sum(m["n"] for m in metrics)
    golden_delays = golden.delays.agg(
        F.count(F.lit(1)).alias("n"), F.sum("delay_ms").alias("s")).collect()[0]
    assert n_total == golden_delays["n"]
    weighted = sum(m["avg_delay_ms"] * m["n"] for m in metrics) / n_total
    assert abs(weighted - golden_delays["s"] / golden_delays["n"]) < 1e-6


def test_stream_stream_join_equivalence(spark, stream_dir):
    from datastream_processing_demo_spark.streaming.joins import (
        view_purchase_attribution,
    )

    src = (spark.readStream.schema(EVENTS)
           .option("maxFilesPerTrigger", 1).parquet(stream_dir))
    _run_to_memory(view_purchase_attribution(src), "ss_join", "append")
    got = spark.sql("SELECT * FROM ss_join").toPandas()
    batch = view_purchase_attribution(
        spark.read.schema(EVENTS).parquet(stream_dir)).toPandas()
    key = ["view_id", "purchase_id"]
    got = got.sort_values(key, ignore_index=True)
    batch = batch.sort_values(key, ignore_index=True)
    assert len(batch) > 0, "test data produced no view->purchase pairs"
    assert got.equals(batch), "streamed interval join != batch join"


def test_stream_stream_left_outer_join_equivalence(spark, events_pdf, tmp_path):
    """Left-outer interval join: unconverted views emit NULL-extended
    rows once the watermark passes them. The watermark a batch runs
    with lags one batch behind the data (it is computed from the
    previous batch's max event time), so several far-future sentinel
    batches follow the data — the later ones give Spark batches in
    which the advanced watermark actually evicts (= emits) the
    remaining unmatched views."""
    from datastream_processing_demo_spark.streaming.joins import (
        view_purchase_attribution,
    )

    d = str(tmp_path / "outer_stream")
    _write_chunks(events_pdf, d)
    for i in (1, 2):
        # the query's watermark is min(view wm, purchase wm) — each
        # sentinel batch must advance BOTH sides or neither advances
        sent = events_pdf.iloc[[-1, -1]].copy()
        sent["ts"] = sent["ts"] + pd_timedelta_days(10 + i)
        sent["user_id"] = -1
        sent["event_id"] = [10_000_000 + 2 * i, 10_000_001 + 2 * i]
        sent["event_type"] = ["view", "purchase"]
        _write_chunks(sent, str(tmp_path / f"sent{i}"), 1)
        os.rename(glob.glob(str(tmp_path / f"sent{i}" / "*.parquet"))[0],
                  os.path.join(d, f"zz-sentinel{i}.parquet"))

    src = (spark.readStream.schema(EVENTS)
           .option("maxFilesPerTrigger", 1).parquet(d))
    _run_to_memory(view_purchase_attribution(src, how="left_outer"),
                   "ss_outer", "append")
    got = spark.sql("SELECT * FROM ss_outer WHERE user_id >= 0").toPandas()
    batch = view_purchase_attribution(
        spark.read.schema(EVENTS).parquet(d).filter(F.col("user_id") >= 0),
        how="left_outer").toPandas()
    key = ["view_id", "purchase_id"]
    got = got.sort_values(key, ignore_index=True)
    batch = batch.sort_values(key, ignore_index=True)
    assert batch["purchase_id"].isna().any(), "no unconverted views in data"
    assert got.equals(batch), "streamed left-outer join != batch join"


def test_stateful_running_totals_apply_in_pandas_with_state(spark, stream_dir):
    from datastream_processing_demo_spark.streaming.stateful import (
        batch_user_totals,
        running_user_totals,
    )

    src = (spark.readStream.schema(EVENTS)
           .option("maxFilesPerTrigger", 1).parquet(stream_dir))
    _run_to_memory(running_user_totals(src), "stateful_totals", "update")
    got = spark.sql("""
        SELECT user_id, n_events, total_value, n_purchases FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY n_events DESC) AS rn
            FROM stateful_totals) WHERE rn = 1
    """).toPandas()

    batch = batch_user_totals(
        spark.read.schema(EVENTS).parquet(stream_dir)).toPandas()
    got = got.sort_values("user_id", ignore_index=True)
    batch = batch.sort_values("user_id", ignore_index=True)
    assert got.equals(batch), "final per-user state != batch totals"
    # update mode emitted intermediate rows too (one per key per batch seen)
    n_emitted = spark.sql("SELECT COUNT(*) AS n FROM stateful_totals") \
        .collect()[0]["n"]
    assert n_emitted > len(batch), "no intermediate per-batch emissions seen"


def test_stateful_idle_timeout_evicts_state(spark, tmp_path):
    """A key idle past watermark+timeout is evicted; when it reappears
    its running total restarts from zero instead of resuming."""
    import pandas as pd
    from datastream_processing_demo_spark.streaming.stateful import (
        running_user_totals,
    )

    def mk(ids, ts_h, user):
        return pd.DataFrame({
            "event_id": ids,
            "ts": pd.to_datetime([f"2024-01-01 {h:02d}:00:00" for h in ts_h]),
            "user_id": [user] * len(ids),
            "event_type": ["view"] * len(ids),
            "value": [1.0] * len(ids),
            "props": ["{}"] * len(ids),
        })

    d = str(tmp_path / "evict_stream")
    os.makedirs(d)
    # file order = trigger order (maxFilesPerTrigger=1, lexicographic):
    # b1: user 7 twice; b2/b3: user 8 far ahead (advances watermark, then
    # fires user 7's timeout); b4: user 7 again -> fresh state
    chunks = [mk([1, 2], [0, 1], 7), mk([3], [10], 8),
              mk([4], [11], 8), mk([5], [12], 7)]
    for i, c in enumerate(chunks):
        pq.write_table(pa.Table.from_pandas(c, preserve_index=False),
                       os.path.join(d, f"chunk-{i}.parquet"),
                       coerce_timestamps="us")

    src = (spark.readStream.schema(EVENTS)
           .option("maxFilesPerTrigger", 1).parquet(d))
    totals = running_user_totals(src, watermark="0 seconds",
                                 idle_timeout_ms=3_600_000)  # 1h idle
    _run_to_memory(totals, "evict_totals", "update")
    got = spark.sql("""
        SELECT n_events FROM evict_totals WHERE user_id = 7
        ORDER BY n_events""").toPandas()["n_events"].tolist()
    # emissions: 2 (batch 1), then 1 (fresh state after eviction) — a
    # surviving state would have emitted 3
    assert got == [1, 2], f"expected eviction restart, got {got}"


def test_dedup_within_watermark(spark, events_pdf, tmp_path):
    d = str(tmp_path / "dup_stream")
    _write_chunks(events_pdf, d, n_chunks=2)
    # duplicate the FIRST chunk's rows as a third file (cross-batch dups)
    first = events_pdf.iloc[:len(events_pdf) // 2]
    _write_chunks(first, str(tmp_path / "dup_tmp"), 1)
    os.rename(glob.glob(str(tmp_path / "dup_tmp" / "*.parquet"))[0],
              os.path.join(d, "chunk-zz-dup.parquet"))

    src = (spark.readStream.schema(EVENTS)
           .option("maxFilesPerTrigger", 1).parquet(d))
    deduped = dedup_within_watermark(src, watermark="30 days")
    _run_to_memory(deduped.select("event_id"), "dedup_stream", "append")
    got = spark.sql("SELECT event_id FROM dedup_stream").toPandas()["event_id"]
    assert len(got) == len(events_pdf)
    assert got.is_unique


def test_checkpoint_recovery_exactly_once_file_sink(spark, events_pdf, tmp_path):
    src_dir = str(tmp_path / "msgs2")
    out = {"main": str(tmp_path / "main2"), "ckpt": str(tmp_path / "ckpt2"),
           "bulk": str(tmp_path / "bulk2"), "metric": str(tmp_path / "metric2")}
    half = len(events_pdf) // 2

    def start_and_wait():
        src = spark.readStream.schema("value string").parquet(src_dir)
        q = run_pipeline_stream(
            src, checkpoint_dir=out["ckpt"], main_out_dir=out["main"],
            bulk_writer=HttpBulkWriter(out["bulk"]),
            metric_reporter=MetricAvgReporter(out["metric"]),
            now_ms=F.lit(0))
        q.awaitTermination(timeout=180)

    import pandas as pd
    first = pd.DataFrame({"value": [f"{'session':<16}{'1700000000000':<16}"
                                    + " " * 32 + f'{{"k": {i}}}'
                                    for i in range(half)]})
    _write_chunks(first, src_dir, 1)
    start_and_wait()
    n1 = spark.read.parquet(out["main"]).count()
    assert n1 == half

    second = pd.DataFrame({"value": [f"{'other':<16}{'1700000000000':<16}"
                                     + " " * 32 + "tail"
                                     for _ in range(10)]})
    _write_chunks(second, str(tmp_path / "second_tmp"), 1)
    os.rename(glob.glob(str(tmp_path / "second_tmp" / "*.parquet"))[0],
              os.path.join(src_dir, "zz-second.parquet"))
    start_and_wait()
    # restart from checkpoint: old rows NOT reprocessed, new ones appear once
    assert spark.read.parquet(out["main"]).count() == half + 10


def test_stream_static_broadcast_join(spark, sf_dir, stream_dir):
    """Streaming events joined to a STATIC dimension (broadcast per
    micro-batch, no stream state at all) — the enrich-on-ingest shape."""
    dim = (load_table(spark, sf_dir, "nation")
           .select(F.col("n_nationkey").alias("nk"), "n_name"))
    src = (spark.readStream.schema(EVENTS)
           .option("maxFilesPerTrigger", 2).parquet(stream_dir))
    enriched = (src.withColumn("nk", (F.col("user_id") % 25).cast("int"))
                .join(F.broadcast(dim), "nk")
                .groupBy("n_name")
                .agg(F.count(F.lit(1)).alias("n")))
    _run_to_memory(enriched, "enriched_stream", "complete")
    got = spark.sql("SELECT * FROM enriched_stream").toPandas()

    batch = (spark.read.schema(EVENTS).parquet(stream_dir)
             .withColumn("nk", (F.col("user_id") % 25).cast("int"))
             .join(dim, "nk").groupBy("n_name")
             .agg(F.count(F.lit(1)).alias("n"))).toPandas()
    got = got.sort_values("n_name", ignore_index=True)
    batch = batch.sort_values("n_name", ignore_index=True)
    assert got.equals(batch), "stream-static join != batch join"


def test_failed_metric_report_replays_same_metric_file(spark, tmp_path):
    """Metric-reporter failure path (reference retain-retry,
    ZhiYanSink.java:95-97): the first report attempt dies before the
    metric lands (endpoint outage), the streaming query fails, and the
    checkpoint restart replays the SAME micro-batch — re-emitting
    metric-{batch_id}.json with identical batch_id and values."""
    import pandas as pd

    n_msgs = 24
    values = [f"{'session':<16}{'1700000000000':<16}" + " " * 32
              + f'{{"k": {i}}}' for i in range(n_msgs)]
    src_dir = str(tmp_path / "msgs")
    os.makedirs(src_dir)
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame({"value": values}),
                             preserve_index=False),
        os.path.join(src_dir, "chunk-000000.parquet"))

    metric_dir = str(tmp_path / "metric")
    outage_marker = str(tmp_path / "outage-pending")
    with open(outage_marker, "w") as f:
        f.write("1")

    class OutageThenOkReporter(MetricAvgReporter):
        def report_batch(self, delays, batch_id):
            if os.path.exists(outage_marker):
                os.remove(outage_marker)
                raise IOError("metric endpoint unreachable (simulated)")
            super().report_batch(delays, batch_id)

    def start():
        src = spark.readStream.schema("value string").parquet(src_dir)
        return run_pipeline_stream(
            src, checkpoint_dir=str(tmp_path / "ckpt"),
            main_out_dir=str(tmp_path / "main"),
            bulk_writer=HttpBulkWriter(str(tmp_path / "bulk"), batch_size=8),
            metric_reporter=OutageThenOkReporter(metric_dir),
            now_ms=F.lit(1700000001000))

    q = start()
    with pytest.raises(Exception):
        q.awaitTermination(timeout=180)
        raise AssertionError("query should have failed on the metric outage")
    # nothing was reported by the failed attempt
    assert not glob.glob(os.path.join(metric_dir, "metric-*.json"))

    q2 = start()
    q2.awaitTermination(timeout=180)

    files = glob.glob(os.path.join(metric_dir, "metric-*.json"))
    assert len(files) == 1, files
    with open(files[0]) as f:
        rec = json.load(f)
    # same batch id as the failed attempt (WAL replay), same values:
    # every message carries send_ts 1700000000000 against the frozen
    # clock 1700000001000 -> delay 1000 ms
    assert os.path.basename(files[0]) == f"metric-{rec['batch_id']}.json"
    assert rec["batch_id"] == 0
    assert rec["n"] == n_msgs
    assert rec["avg_delay_ms"] == 1000.0
    # the failed attempt had already written the main file; the replay
    # overwrote it
    assert spark.read.parquet(str(tmp_path / "main")).count() == n_msgs


def test_live_late_drop_fixture_nonvacuous(spark, sf_dir):
    """stream_live_late_drop's oracle compare is meaningful only if the
    replay really holds rows back — guard the fixture builder."""
    from datastream_processing_demo_spark.plans.streaming_live import (
        _stream_chunk_dir_late,
    )
    import pyarrow.parquet as pq

    d = _stream_chunk_dir_late(spark, sf_dir)
    late = pq.read_table(os.path.join(d, "chunk-99999999-late.parquet"))
    assert late.num_rows > 0, "late chunk must hold rows back"


def test_concurrent_queries_share_one_source_dir(spark, stream_dir):
    """The reference deploy runs N INDEPENDENT jobs off one log topic
    (run_datastream_job.sh:4-22), each tracking its own offsets. Same
    contract here (VERDICT r6 task #8): two live queries — tumbling and
    sliding windows — consume the SAME file-source directory
    CONCURRENTLY, with separate checkpoints and sinks, and each must
    still produce exactly its batch-equivalent answer (offset tracking
    is per-query; neither perturbs the other)."""
    from datastream_processing_demo_spark.streaming.windows import sliding_counts

    src1 = (spark.readStream.schema(EVENTS)
            .option("maxFilesPerTrigger", 1).parquet(stream_dir))
    src2 = (spark.readStream.schema(EVENTS)
            .option("maxFilesPerTrigger", 1).parquet(stream_dir))
    q1 = (tumbling_counts(src1).writeStream.format("memory")
          .queryName("conc_tumbling").outputMode("complete")
          .trigger(availableNow=True).start())
    q2 = (sliding_counts(src2).writeStream.format("memory")
          .queryName("conc_sliding").outputMode("complete")
          .trigger(availableNow=True).start())
    # both queries are live at the same time before either is awaited
    assert q1.isActive and q2.isActive
    assert q1.awaitTermination(timeout=120)
    assert q2.awaitTermination(timeout=120)

    batch_src = spark.read.schema(EVENTS).parquet(stream_dir)
    for name, fn, key in (
            ("conc_tumbling", tumbling_counts, ["window_start", "event_type"]),
            ("conc_sliding", sliding_counts, ["window_start"])):
        got = (spark.table(name).toPandas()
               .sort_values(key, ignore_index=True))
        want = fn(batch_src).toPandas().sort_values(key, ignore_index=True)
        assert got.equals(want), f"{name}: concurrent result != batch"


def test_stream_chunk_dir_invariants(spark, sf_dir, tmp_path, monkeypatch):
    """Pin the contract source_file_lineage's oracle reconstructs:
    chunk id = (unix_micros(ts)-mn)*n div (mx-mn+1), exactly one
    top-level chunk-{k:08d}.parquet per non-empty chunk, rows inside
    each file (ts, event_id)-sorted, and mtimes strictly increasing in
    k order (FileStreamSource replay order)."""
    from datastream_processing_demo_spark.plans import streaming_live as sl

    monkeypatch.setattr(sl, "_CACHE_ROOT", str(tmp_path))
    d = sl._stream_chunk_dir(spark, sf_dir)
    files = sorted(glob.glob(os.path.join(d, "chunk-*.parquet")))
    assert files, "no chunk files written"
    # replay order == k order
    mtimes = [os.path.getmtime(f) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    # no leftover partition dirs
    assert not glob.glob(os.path.join(d, "chunk=*"))

    ev = load_table(spark, sf_dir, "events")
    rng = ev.agg(F.min(F.unix_micros("ts")).alias("mn"),
                 F.max(F.unix_micros("ts")).alias("mx")).collect()[0]
    span = rng["mx"] - rng["mn"] + 1
    total = 0
    for f in files:
        k = int(os.path.basename(f)[len("chunk-"):-len(".parquet")])
        pdf = pq.read_table(f).to_pandas()
        total += len(pdf)
        us = (pdf["ts"].astype("datetime64[us]").astype("int64")
              if pdf["ts"].dtype != "int64" else pdf["ts"])
        chunk_ids = (us - rng["mn"]) * 5 // span
        assert (chunk_ids == k).all(), f"row in {f} outside its time slice"
        # in-file order = (ts, event_id) sorted — what row_index encodes
        key = list(zip(us.tolist(), pdf["event_id"].tolist()))
        assert key == sorted(key), f"{f} not (ts, event_id)-sorted"
    assert total == ev.count()


_STORE_KEY = "spark.sql.streaming.stateStore.providerClass"
HDFS_STORE = ("org.apache.spark.sql.execution.streaming.state."
              "HDFSBackedStateStoreProvider")
ROCKSDB_STORE = ("org.apache.spark.sql.execution.streaming.state."
                 "RocksDBStateStoreProvider")


def test_default_state_store_is_hdfs_backed(spark):
    # conftest's SPARK_GRAFT_STATESTORE sweep replaces the default
    want = os.environ.get("SPARK_GRAFT_STATESTORE", HDFS_STORE)
    assert spark.conf.get(_STORE_KEY) == want


def _dedup_window_counts(spark, src_dir: str, ckpt: str, counts: dict,
                         store: str | None = None):
    """Run dedup_within_watermark + a 6 h window x user count over the
    files in `src_dir` (one per micro-batch) to the end, in update mode;
    each update lands in `counts`, keyed by (window start in epoch
    seconds, user_id). `store` sets the state store the query starts
    with; the session's setting is restored afterwards."""
    events = (spark.readStream.schema(EVENTS)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    agg = (dedup_within_watermark(events, watermark="30 days")
           .groupBy(F.window("ts", "6 hours").alias("win"), "user_id")
           .agg(F.count(F.lit(1)).alias("n"))
           .select(F.col("win.start").cast("long").alias("start"),
                   "user_id", "n"))

    def sink(df, _batch_id):
        counts.update(((r["start"], r["user_id"]), r["n"])
                      for r in df.collect())

    before = spark.conf.get(_STORE_KEY)
    if store is not None:
        spark.conf.set(_STORE_KEY, store)
    try:
        q = (agg.writeStream.outputMode("update").foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
    finally:
        spark.conf.set(_STORE_KEY, before)
    q.awaitTermination(timeout=180)
    assert q.exception() is None
    return q


def _state_custom_metrics(q) -> set[str]:
    return {k for p in q.recentProgress for op in p["stateOperators"]
            for k in op["customMetrics"]}


def test_rocksdb_checkpoint_restarts_under_default_store(
        spark, events_pdf, tmp_path):
    """A query checkpointed under RocksDB restarts, now that the session
    default is the HDFS-backed store, on RocksDB (the provider is in the
    checkpoint's offset metadata) and ends with the counts of an
    uninterrupted HDFS-backed run, which match pandas."""
    src = str(tmp_path / "events")
    _write_chunks(events_pdf, src, n_chunks=3)
    # the first chunk's events again, as a fourth file: cross-batch dups
    first = events_pdf.iloc[:len(events_pdf) // 3]
    _write_chunks(first, str(tmp_path / "dup_tmp"), 1)
    files = sorted(glob.glob(os.path.join(src, "*.parquet")))
    files.append(os.path.join(src, "chunk-zz-dup.parquet"))
    os.rename(glob.glob(str(tmp_path / "dup_tmp" / "*.parquet"))[0],
              files[-1])
    # hide the last two files from the first incarnation
    held = str(tmp_path / "held")
    os.makedirs(held)
    for f in files[2:]:
        os.rename(f, os.path.join(held, os.path.basename(f)))

    restarted: dict = {}
    ckpt = str(tmp_path / "ckpt_restart")
    q1 = _dedup_window_counts(spark, src, ckpt, restarted,
                              store=ROCKSDB_STORE)
    assert any(k.startswith("rocksdb") for k in _state_custom_metrics(q1))
    for f in files[2:]:
        os.rename(os.path.join(held, os.path.basename(f)), f)
    q2 = _dedup_window_counts(spark, src, ckpt, restarted)
    assert q2.recentProgress, "the restart processed no batch"
    assert any(k.startswith("rocksdb") for k in _state_custom_metrics(q2))

    uninterrupted: dict = {}
    q3 = _dedup_window_counts(spark, src, str(tmp_path / "ckpt_hdfs"),
                              uninterrupted, store=HDFS_STORE)
    assert not any(k.startswith("rocksdb")
                   for k in _state_custom_metrics(q3))

    ev = events_pdf.drop_duplicates("event_id")
    start = (ev["ts"].dt.floor("6h").astype("int64") // 1_000_000)
    want = ev.groupby([start, ev["user_id"]]).size()
    assert restarted == uninterrupted == {
        (int(s), int(u)): int(n) for (s, u), n in want.items()}
