"""Failed-batch replay through the HTTP bulk sink (SURVEY.md §3.3).

The reference retains failed batches for resend (ZhiYanSink.java:95-97,
111); the Spark analogue is: a failed bulk POST raises inside the
micro-batch, the streaming query errors, and a restart from the
checkpoint replays the batch from the WAL. Idempotent doc ids
`(batch_id, partition_id, ordinal)` make the replay effectively
exactly-once at the endpoint: the receiving store keys by `_id`, so
re-posted docs overwrite themselves instead of duplicating.

The endpoint here is a real local HTTP server that fails the first
bulk request with a 503 and accepts everything after — exercising the
executor-side Arrow post path end-to-end (driver never touches
payloads). After a replay the main parquet rows and the metric files
must also be there exactly once.
"""

from __future__ import annotations

import http.server
import json
import os
import sys
import threading

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from datastream_processing_demo_spark.streaming.pipeline import run_pipeline_stream
from datastream_processing_demo_spark.streaming.sinks import (
    HttpBulkWriter,
    MetricAvgReporter,
)


def _start_bulk_server(fail_first_n: int = 1):
    """Idempotent bulk store over HTTP: keeps docs keyed by `_id`; the
    first `fail_first_n` POSTs return 503 (transient outage). Records
    the body of every failed and successful request so tests can assert
    exactly WHICH chunks were retransmitted."""
    state = {"fail_remaining": fail_first_n, "docs": {}, "n_posts": 0,
             "failed_bodies": [], "ok_bodies": []}
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802 — http.server API
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n).decode("utf-8")
            with lock:
                state["n_posts"] += 1
                if state["fail_remaining"] > 0:
                    state["fail_remaining"] -= 1
                    state["failed_bodies"].append(body)
                    self.send_response(503)
                    self.end_headers()
                    return
                state["ok_bodies"].append(body)
                for line in body.splitlines():
                    if line.strip():
                        rec = json.loads(line)
                        state["docs"][rec["_id"]] = rec["doc"]
            self.send_response(200)
            self.end_headers()

        def log_message(self, *args):  # silence per-request stderr noise
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, state


def _write_messages(values: list[str], out_dir: str,
                    n_files: int = 1) -> None:
    """One parquet file per stream partition, so a batch of `n_files`
    files runs `n_files` tasks."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(values) // n_files)
    for i in range(n_files):
        table = pa.Table.from_pandas(
            pd.DataFrame({"value": values[i * step:(i + 1) * step]}),
            preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"chunk-{i:06d}.parquet"))


def _assert_main_and_metric_once(root: str, n_msgs: int) -> None:
    """Main rows and metric records each exactly once after a replay:
    every message is one main row, and each batch has one metric file
    whose `n` counts its messages once."""
    import glob

    main = glob.glob(os.path.join(root, "main", "*.parquet"))
    assert sum(pq.read_metadata(f).num_rows for f in main) == n_msgs
    metrics = []
    for path in glob.glob(os.path.join(root, "metric", "metric-*.json")):
        with open(path, encoding="utf-8") as f:
            metrics.append(json.load(f))
    batch_ids = [m["batch_id"] for m in metrics]
    assert len(batch_ids) == len(set(batch_ids)) >= 1
    assert sum(m["n"] for m in metrics) == n_msgs


def test_failed_bulk_post_replays_to_exactly_once_effective(spark, tmp_path):
    n_msgs = 40
    payloads = [f'{{"k": {i}}}' for i in range(n_msgs)]
    values = [f"{'session':<16}{'1700000000000':<16}" + " " * 32 + p
              for p in payloads]
    src_dir = str(tmp_path / "msgs")
    # two partitions: while one task's first POST gets the 503, the
    # other can finish and publish its main file before the restart
    _write_messages(values, src_dir, n_files=2)

    srv, state = _start_bulk_server(fail_first_n=1)
    endpoint = f"http://127.0.0.1:{srv.server_address[1]}/bulk"
    try:
        def start():
            src = spark.readStream.schema("value string").parquet(src_dir)
            return run_pipeline_stream(
                src, checkpoint_dir=str(tmp_path / "ckpt"),
                main_out_dir=str(tmp_path / "main"),
                # retry_attempts=1 disables the chunk-level retain-retry
                # so this test keeps exercising the coarse WAL-replay
                # fallback (the in-task retry path has its own test below).
                bulk_writer=HttpBulkWriter(endpoint, batch_size=8,
                                           retry_attempts=1),
                metric_reporter=MetricAvgReporter(str(tmp_path / "metric")),
                now_ms=F.lit(1700000001000))

        # First run: the endpoint 503s the first bulk request -> the task
        # raises -> the streaming query fails (at-least-once, no ack).
        q = start()
        with pytest.raises(Exception):
            q.awaitTermination(timeout=180)
            raise AssertionError("query should have failed on the 503")

        # Restart from the same checkpoint: the WAL replays the batch.
        q2 = start()
        q2.awaitTermination(timeout=180)

        # Effective exactly-once: every payload present exactly once,
        # even though some partitions posted in BOTH attempts.
        assert sorted(state["docs"].values()) == sorted(payloads)
        assert len(state["docs"]) == n_msgs
        # The replay actually re-posted (more requests than a clean run
        # would need: ceil-per-partition chunks, two attempts).
        assert state["n_posts"] > 1
        # Ids carry (query, batch_id, partition_id, ordinal) — all unique.
        assert all(len(i.split("-")) == 4 for i in state["docs"])
        # The main file and the metric were written by both attempts
        # too; the replay overwrote them instead of adding to them.
        _assert_main_and_metric_once(str(tmp_path), n_msgs)
    finally:
        srv.shutdown()


def test_two_queries_on_one_id_keyed_store_keep_every_doc(spark, tmp_path):
    # Both queries start at batch 0 with the same partitioning, so ids
    # without the query key would collide and the store would keep only
    # one query's docs.
    srv, state = _start_bulk_server(fail_first_n=0)
    endpoint = f"http://127.0.0.1:{srv.server_address[1]}/bulk"
    want = []
    try:
        for tag in ("a", "b"):
            payloads = [f'{{"q": "{tag}", "k": {i}}}' for i in range(20)]
            want += payloads
            src_dir = str(tmp_path / f"msgs_{tag}")
            _write_messages([f"{'session':<16}{'1700000000000':<16}"
                             + " " * 32 + p for p in payloads], src_dir)
            run_pipeline_stream(
                spark.readStream.schema("value string").parquet(src_dir),
                checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
                main_out_dir=str(tmp_path / "main"),
                bulk_writer=HttpBulkWriter(endpoint),
                metric_reporter=MetricAvgReporter(
                    str(tmp_path / f"metric_{tag}")),
                now_ms=F.lit(1700000001000)).awaitTermination(timeout=180)
        assert sorted(state["docs"].values()) == sorted(want)
    finally:
        srv.shutdown()


def test_transient_503_retained_chunk_retries_in_task(spark, tmp_path):
    """Within-batch partial retry retain (ZhiYanSink.java:95-97,111):
    a transiently-503'd chunk is resent in-task after backoff — the
    query never fails, no WAL replay happens, and chunks that already
    succeeded are NOT retransmitted (only the failed sub-batch is
    retained for resend)."""
    n_msgs = 40
    payloads = [f'{{"k": {i}}}' for i in range(n_msgs)]
    values = [f"{'session':<16}{'1700000000000':<16}" + " " * 32 + p
              for p in payloads]
    src_dir = str(tmp_path / "msgs")
    _write_messages(values, src_dir)

    srv, state = _start_bulk_server(fail_first_n=2)
    endpoint = f"http://127.0.0.1:{srv.server_address[1]}/bulk"
    try:
        src = spark.readStream.schema("value string").parquet(src_dir)
        q = run_pipeline_stream(
            src, checkpoint_dir=str(tmp_path / "ckpt"),
            main_out_dir=str(tmp_path / "main"),
            bulk_writer=HttpBulkWriter(endpoint, batch_size=8,
                                       retry_attempts=3, backoff_s=0.05),
            metric_reporter=MetricAvgReporter(str(tmp_path / "metric")),
            now_ms=F.lit(1700000001000))
        # Single run, no restart: the two 503s are absorbed in-task.
        q.awaitTermination(timeout=180)

        assert sorted(state["docs"].values()) == sorted(payloads)
        assert len(state["docs"]) == n_msgs
        # Each failed body was later re-posted verbatim (the retained
        # sub-batch), and every successful body landed exactly once —
        # already-acknowledged chunks were never retransmitted.
        ok = state["ok_bodies"]
        assert len(ok) == len(set(ok)), "an acknowledged chunk was re-sent"
        for failed in state["failed_bodies"]:
            assert failed in ok, "failed chunk was not resent"
        # Total request count = unique chunks + the two failed attempts.
        assert state["n_posts"] == len(ok) + 2
    finally:
        srv.shutdown()


def test_bulk_post_basic_auth_required():
    """CTSDBSink parity (CTSDBSink.java user/passwd, SURVEY §2.1 config
    surface): the bulk endpoint requires HTTP Basic auth. Without
    credentials the POST is a non-retryable 401 -> the poster raises;
    with user/passwd the writer sends `Authorization: Basic ...` and
    every doc lands."""
    import base64

    expected = "Basic " + base64.b64encode(b"ctsdb_user:s3cret").decode()
    state = {"docs": {}, "n_unauth": 0}
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802 — http.server API
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n).decode("utf-8")
            with lock:
                if self.headers.get("Authorization") != expected:
                    state["n_unauth"] += 1
                    self.send_response(401)
                    self.end_headers()
                    return
                for line in body.splitlines():
                    if line.strip():
                        rec = json.loads(line)
                        state["docs"][rec["_id"]] = rec["doc"]
            self.send_response(200)
            self.end_headers()

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    endpoint = f"http://127.0.0.1:{srv.server_address[1]}/metric/doc/_bulk"
    payloads = [f'{{"k": {i}}}' for i in range(10)]
    try:
        # without credentials: 401 is a non-retryable client error
        with pytest.raises(Exception, match="401"):
            HttpBulkWriter(endpoint, batch_size=4, retry_attempts=1) \
                .poster("q-0").post([pa.array(payloads)], 0)
        assert state["n_unauth"] >= 1 and not state["docs"]
        # with credentials: every doc lands exactly once
        HttpBulkWriter(endpoint, batch_size=4, retry_attempts=1,
                       user="ctsdb_user", passwd="s3cret") \
            .poster("q-1").post([pa.array(payloads)], 0)
        assert sorted(state["docs"].values()) == sorted(payloads)
    finally:
        srv.shutdown()


def test_stale_keep_alive_gets_one_free_reconnect():
    """A server that closes each keep-alive connection after one
    response, as an idle timeout would, stales the connection between
    two chunks of a partition. The poster reconnects once for free, so
    every chunk lands even with retry_attempts=1, which disables only
    the HTTP-level retain-retry."""
    import socket

    srv = socket.create_server(("127.0.0.1", 0))
    srv.settimeout(0.1)
    stop = threading.Event()
    state = {"conns": 0, "bodies": []}

    def serve():
        while not stop.is_set():
            try:
                c, _ = srv.accept()
            except TimeoutError:
                continue
            state["conns"] += 1
            with c, c.makefile("rb") as f:
                n = 0
                while (line := f.readline()) not in (b"\r\n", b""):
                    if line.lower().startswith(b"content-length:"):
                        n = int(line.split(b":")[1])
                state["bodies"].append(f.read(n).decode("utf-8"))
                # keep-alive response (no `Connection: close`), then drop
                c.sendall(b"HTTP/1.1 200 OK\r\nContent-Length: 0\r\n\r\n")

    server = threading.Thread(target=serve, daemon=True)
    server.start()
    endpoint = f"http://127.0.0.1:{srv.getsockname()[1]}/bulk"
    payloads = [f'{{"k": {i}}}' for i in range(7)]
    try:
        posted = HttpBulkWriter(endpoint, batch_size=2, retry_attempts=1) \
            .poster("q-0").post([pa.array(payloads)], 0)
    finally:
        stop.set()
        server.join()
        srv.close()
    assert posted == 7
    assert len(state["bodies"]) == state["conns"] == 4
    assert sorted(json.loads(line)["doc"] for body in state["bodies"]
                  for line in body.splitlines()) == sorted(payloads)


def _start_scheduled_server(fail_ordinals: set[int]):
    """Like _start_bulk_server, but 503s exactly the POSTs whose global
    arrival ordinal (0-based) is in `fail_ordinals` — a hypothesis-
    drawn outage schedule instead of a fixed first-N."""
    state = {"docs": {}, "n_posts": 0, "failed_bodies": [],
             "ok_bodies": []}
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802 — http.server API
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n).decode("utf-8")
            with lock:
                ordinal = state["n_posts"]
                state["n_posts"] += 1
                if ordinal in fail_ordinals:
                    state["failed_bodies"].append(body)
                    self.send_response(503)
                    self.end_headers()
                    return
                state["ok_bodies"].append(body)
                for line in body.splitlines():
                    if line.strip():
                        rec = json.loads(line)
                        state["docs"][rec["_id"]] = rec["doc"]
            self.send_response(200)
            self.end_headers()

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, state


def _start_counting_server():
    """Keep-alive bulk endpoint that tracks its concurrently open
    connections (HTTP/1.1: a connection stays open until the client
    closes it)."""
    state = {"active": 0, "max_active": 0, "opened": 0, "docs": set()}
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def setup(self):
            super().setup()
            with lock:
                state["active"] += 1
                state["opened"] += 1
                state["max_active"] = max(state["max_active"],
                                          state["active"])

        def finish(self):
            try:
                super().finish()
            finally:
                with lock:
                    state["active"] -= 1

        def do_POST(self):  # noqa: N802 — http.server API
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n).decode("utf-8")
            with lock:
                state["docs"].update(json.loads(line)["doc"]
                                     for line in body.splitlines() if line)
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, state


def test_bulk_connections_close_with_their_task(spark, tmp_path):
    """Each task closes its bulk connection when its posts finish, so
    over several micro-batches the endpoint never holds more open
    connections than there are task slots, and none stay open after
    the query ends. Two queries share one main directory, each starting
    at batch 0, and neither overwrites the other's main files."""
    import glob
    import time

    slots = spark.sparkContext.defaultParallelism
    src_dir = tmp_path / "msgs"
    src_dir.mkdir()
    payloads = []
    for i in range(3 * slots):
        chunk = [f'{{"f": {i}, "k": {k}}}' for k in range(20)]
        payloads += chunk
        pq.write_table(pa.table({"value": [
            f"{'session':<16}{'1700000000000':<16}" + " " * 32 + p
            for p in chunk]}), str(src_dir / f"chunk-{i:06d}.parquet"))

    srv, state = _start_counting_server()
    endpoint = f"http://127.0.0.1:{srv.server_address[1]}/bulk"
    try:
        for tag in ("a", "b"):
            src = (spark.readStream.schema("value string")
                   .option("maxFilesPerTrigger", slots).parquet(str(src_dir)))
            q = run_pipeline_stream(
                src, checkpoint_dir=str(tmp_path / f"ckpt-{tag}"),
                main_out_dir=str(tmp_path / "main"),
                bulk_writer=HttpBulkWriter(endpoint, batch_size=8),
                metric_reporter=MetricAvgReporter(
                    str(tmp_path / f"metric-{tag}")),
                now_ms=F.lit(1700000001000))
            q.awaitTermination(timeout=180)
            assert sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 3
        deadline = time.time() + 10
        while state["active"] and time.time() < deadline:
            time.sleep(0.05)
    finally:
        srv.shutdown()

    assert state["docs"] == set(payloads)
    assert state["opened"] > 0
    assert state["max_active"] <= slots, state
    assert state["active"] == 0, "a bulk connection outlived its task"
    main = glob.glob(str(tmp_path / "main" / "*.parquet"))
    assert sum(pq.read_metadata(f).num_rows for f in main) == \
        2 * len(payloads)


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_FUZZ_EXAMPLES = min(
    int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "10")), 15)


@settings(max_examples=_FUZZ_EXAMPLES, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(n_msgs=st.integers(1, 40),
       batch_size=st.sampled_from([3, 8, 40]),
       fail_ordinals=st.sets(st.integers(0, 11), max_size=4))
def test_random_outage_schedule_is_effectively_exactly_once(
        spark, n_msgs, batch_size, fail_ordinals):
    """Property form of the two fixed tests above: under ANY outage
    schedule of <= 4 transient 503s (hitting arbitrary request
    ordinals — mid-batch, back-to-back on one chunk, or none), the
    endpoint converges to every payload exactly once. In-task retries
    (3 attempts) absorb what they can; a chunk that exhausts them
    fails the query and ONE checkpoint restart must finish the job —
    <= 4 total failures cannot exhaust retries twice."""
    import tempfile

    import shutil as _shutil
    root = tempfile.mkdtemp(prefix="bulk_fuzz_")
    payloads = [f'{{"k": {i}}}' for i in range(n_msgs)]
    values = [f"{'session':<16}{'1700000000000':<16}" + " " * 32 + p
              for p in payloads]
    src_dir = os.path.join(root, "msgs")
    _write_messages(values, src_dir, n_files=2)
    srv, state = _start_scheduled_server(fail_ordinals)
    endpoint = f"http://127.0.0.1:{srv.server_address[1]}/bulk"
    try:
        def start():
            src = spark.readStream.schema("value string").parquet(src_dir)
            return run_pipeline_stream(
                src, checkpoint_dir=os.path.join(root, "ckpt"),
                main_out_dir=os.path.join(root, "main"),
                bulk_writer=HttpBulkWriter(endpoint, batch_size=batch_size,
                                           retry_attempts=3,
                                           backoff_s=0.05),
                metric_reporter=MetricAvgReporter(
                    os.path.join(root, "metric")),
                now_ms=F.lit(1700000001000))

        q = start()
        try:
            q.awaitTermination(timeout=180)
        except Exception:
            q2 = start()           # WAL replay after retry exhaustion
            q2.awaitTermination(timeout=180)

        assert sorted(state["docs"].values()) == sorted(payloads), (
            f"endpoint diverged: schedule={sorted(fail_ordinals)} "
            f"n={n_msgs} bs={batch_size}")
        assert len(state["docs"]) == n_msgs
        for failed in state["failed_bodies"]:
            assert failed in state["ok_bodies"], (
                "failed chunk never landed")
        _assert_main_and_metric_once(root, n_msgs)
    finally:
        srv.shutdown()
        _shutil.rmtree(root, ignore_errors=True)
