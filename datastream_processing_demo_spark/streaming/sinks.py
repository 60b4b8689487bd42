"""Per-partition sinks of the pipeline (streaming/pipeline.py): main
parquet file, HTTP bulk docs (CTSDB analogue) and the delay metric's
count and sum (ZhiYan analogue), all written in ONE Arrow pass over a
micro-batch partition (`PartitionSink.write`), plus the driver-side
metric reporter.

Reference behaviors reproduced:
- CTSDBSink.java: buffered batch POST of concatenated records to
  `{addr}/{metric}/doc/_bulk` (:143-160,185-210), literal "error"
  records dropped (:120-123), keep-alive HTTP connections (:98-106),
  batch-size cap (:128-135). Errors were logged-and-swallowed in the
  reference (`// todo throw exception`, :165,170); here a failed post
  RAISES so Structured Streaming retries the micro-batch — upgrading
  silently-lossy to at-least-once.
- ZhiYanSink.java: per-batch avg of the delay metric (:100-115): each
  partition returns its delay count and sum, the driver combines them
  and `MetricAvgReporter` writes `metric-{batch_id}.json`.

Every output is idempotent under a WAL replay of a failed micro-batch,
which re-reads the same source offsets, so partition contents and
order recur:
- main rows go to `part-<query>-<batch_id>-<pid>.parquet`, written
  under a dot-prefixed temp name and moved into place with
  `os.replace`, so a replay overwrites the file instead of appending;
- bulk doc ids are `<query>-<batch_id>-<pid>-<ordinal>`, so a replay
  rewrites the same ids at an `_id`-keyed store, and queries sharing the
  store (each starts at batch 0) never collide;
- the metric file is keyed by batch id and replaced the same way.

Bulk transport is injectable: an `http(s)://` endpoint posts one
partition's chunks over one keep-alive connection, opened by its first
post and closed when the partition's posts end (the analogue of the
reference's pooled HTTP client, CTSDBSink.java:98-106); a filesystem
path spools request bodies to files (used by tests; also a
reasonable dead-letter pattern). The data path never touches the
driver, matching the reference's parallel sink subtasks
(CTSDBSink.java:118-183 at sink_parallelism,
DataStreamProcessingJob.java:167).
"""

from __future__ import annotations

import glob
import http.client
import json
import os
import time
from dataclasses import dataclass
from typing import Iterable, Iterator
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.compute as pc


_BULK_DROP_LITERAL = "error"  # CTSDBSink.java:120-123


def _post(conn: http.client.HTTPConnection | None, endpoint: str, body: str,
          timeout_s: float = 5.0, retry_attempts: int = 3,
          backoff_s: float = 0.2, auth_header: str | None = None,
          ) -> http.client.HTTPConnection:
    """POST one chunk on the keep-alive connection `conn` (None opens
    one), retaining THIS chunk for in-task resend on transient failure;
    returns the connection for the next chunk. On a raise the
    connection is already closed.

    The reference sink keeps only the *failed* sub-batch and resends it
    on the next flush (ZhiYanSink.java:95-97,111) — earlier, already-
    acknowledged sub-batches are never retransmitted. The Spark analogue:
    a chunk that fails with a retryable signal (transport error, HTTP 429
    or 5xx) is posted up to `retry_attempts` times TOTAL with exponential
    backoff between attempts, executor-side, without touching the chunks
    that already succeeded. Only when the budget is exhausted (or the
    status is a non-retryable 4xx) does the task raise, falling back to
    the coarser WAL micro-batch replay — where idempotent `_id`s keep
    the endpoint exactly-once-effective.
    """
    u = urlparse(endpoint)
    last_err: str | Exception | None = None
    # One FREE immediate reconnect per chunk, outside the backoff budget
    # — but only for a connection that already served a chunk and so
    # could go stale (server closed the keep-alive between two chunks, a
    # benign case; it must not sleep, and must survive retry_attempts=1,
    # which disables only the HTTP-level retain-retry). A fresh
    # connection that fails outright gets no freebie: a hard-down
    # endpoint should consume the budget, not double-hammer.
    free_reconnect = 1 if conn is not None else 0
    attempts_left = max(1, retry_attempts)
    n_backoffs = 0
    while True:
        if conn is None:
            cls = (http.client.HTTPSConnection if u.scheme == "https"
                   else http.client.HTTPConnection)
            conn = cls(u.netloc, timeout=timeout_s)
        try:
            headers = {"Content-Type": "application/x-ndjson"}
            if auth_header is not None:
                headers["Authorization"] = auth_header
            conn.request("POST", u.path or "/", body=body.encode("utf-8"),
                         headers=headers)
            resp = conn.getresponse()
            resp.read()
        except (http.client.HTTPException, OSError) as exc:
            # Transport error (stale keep-alive, refused, reset): rebuild
            # the connection and retry the same chunk.
            last_err = exc
            conn.close()
            conn = None
            if free_reconnect > 0:
                free_reconnect -= 1
                continue
            attempts_left -= 1
            if attempts_left <= 0:
                break
            n_backoffs += 1
            time.sleep(backoff_s * (2 ** (n_backoffs - 1)))
            continue
        if resp.status in (429,) or resp.status >= 500:
            # Transient server-side failure: retain this chunk and retry
            # after backoff (reference retain-for-resend).
            last_err = f"HTTP {resp.status}"
            attempts_left -= 1
            if attempts_left <= 0:
                break
            n_backoffs += 1
            time.sleep(backoff_s * (2 ** (n_backoffs - 1)))
            continue
        if resp.status >= 300:
            # Non-retryable client error: raise immediately so the task
            # fails and Structured Streaming replays the micro-batch from
            # the WAL.
            conn.close()
            raise IOError(f"bulk post failed: HTTP {resp.status}")
        return conn
    if conn is not None:
        conn.close()
    raise IOError(
        f"bulk post failed after {max(1, retry_attempts)} attempts: {last_err}")


def task_partition_id() -> int:
    """The running Spark task's partition id (0 outside a task)."""
    from pyspark import TaskContext
    ctx = TaskContext.get()
    return ctx.partitionId() if ctx is not None else 0


@dataclass(frozen=True)
class BulkPoster:
    """The executor side of `HttpBulkWriter` for one micro-batch: plain
    values only, so it pickles into the task. `batch_key` names the
    micro-batch: `<query>-<batch_id>` in the pipeline."""
    endpoint: str
    batch_key: str
    batch_size: int
    retry_attempts: int
    backoff_s: float
    auth_header: str | None

    @property
    def is_http(self) -> bool:
        return self.endpoint.startswith(("http://", "https://"))

    def post(self, payloads: Iterable[pa.Array], pid: int) -> int:
        """Post one partition's session payloads (nulls and the literal
        'error' skipped) as `batch_size`-doc chunks; returns docs posted.
        Doc ids are `{batch_key}-{pid}-{ordinal}`, the ordinal counting
        posted docs in partition order."""
        buf: list[str] = []
        chunk_no = 0
        ordinal = 0
        conn = None  # one keep-alive connection for this partition's posts

        def flush() -> None:
            nonlocal chunk_no, conn
            body = "\n".join(buf) + "\n"
            if self.is_http:
                conn = _post(conn, self.endpoint, body,
                             retry_attempts=self.retry_attempts,
                             backoff_s=self.backoff_s,
                             auth_header=self.auth_header)
            else:
                # os.replace: a replayed batch overwrites its own chunk
                # file atomically instead of appending a duplicate.
                path = os.path.join(
                    self.endpoint,
                    f"bulk-{self.batch_key}-{pid}-{chunk_no}.ndjson")
                tmp = f"{path}.tmp-{os.getpid()}"
                with open(tmp, "w", encoding="utf-8") as f:
                    f.write(body)
                os.replace(tmp, path)
            buf.clear()
            chunk_no += 1

        try:
            for arr in payloads:
                for doc in arr.to_pylist():
                    if doc is None or doc == _BULK_DROP_LITERAL:
                        continue
                    buf.append(json.dumps(
                        {"_id": f"{self.batch_key}-{pid}-{ordinal}",
                         "doc": doc}))
                    ordinal += 1
                    if len(buf) >= self.batch_size:
                        flush()
            if buf:
                flush()
        finally:
            if conn is not None:
                conn.close()
        return ordinal


class HttpBulkWriter:
    """Batched bulk writer with count-capped requests (A1/K1 analogue).

    batch_size mirrors the reference's ctsdb_batch_size (default 1000,
    DataStreamProcessingJob.java:157); the time threshold is subsumed by
    the micro-batch trigger cadence (SURVEY.md §2.1 A1 mapping).
    """

    def __init__(self, endpoint: str, batch_size: int = 1000,
                 retry_attempts: int = 3, backoff_s: float = 0.2,
                 user: str | None = None, passwd: str | None = None) -> None:
        self.endpoint = endpoint
        self.batch_size = batch_size
        # HTTP Basic auth (reference CTSDBSink.java builds the client
        # with ctsdb_user/ctsdb_passwd credentials on the _bulk POST;
        # config surface SURVEY.md §2.1). Precomputed driver-side: the
        # header is a plain string the executors reuse.
        if user is not None:
            import base64
            token = base64.b64encode(
                f"{user}:{passwd or ''}".encode("utf-8")).decode("ascii")
            self.auth_header: str | None = f"Basic {token}"
        else:
            self.auth_header = None
        # Chunk-level retain-retry budget (ZhiYanSink.java:95-97,111):
        # transient HTTP failures resend only the failed chunk in-task;
        # retry_attempts=1 disables and falls straight to WAL replay.
        self.retry_attempts = retry_attempts
        self.backoff_s = backoff_s

    def poster(self, batch_key: str) -> BulkPoster:
        """Driver side, once per micro-batch: the poster its tasks run."""
        poster = BulkPoster(self.endpoint, batch_key, self.batch_size,
                            self.retry_attempts, self.backoff_s,
                            self.auth_header)
        if not poster.is_http:
            os.makedirs(self.endpoint, exist_ok=True)
            # A replay of this batch may partition differently than the
            # failed attempt (e.g. shuffle-partitions changed across
            # restarts), which would leave the first attempt's chunk
            # files for partition/chunk ids the replay never rewrites —
            # duplicated docs downstream. Clear the batch's spool files
            # before the executors write. The HTTP path gets the same
            # guarantee from _id-keyed upserts only when partitioning is
            # deterministic across attempts — true for WAL replay (same
            # offsets, same splits), which is the supported replay mode.
            # The trailing * also catches .ndjson.tmp-{pid} orphans from
            # an attempt that died between open() and os.replace().
            for stale in glob.glob(os.path.join(
                    self.endpoint, f"bulk-{batch_key}-*.ndjson*")):
                os.remove(stale)
        return poster


@dataclass(frozen=True)
class PartitionSink:
    """One micro-batch's outputs, written per partition in one pass over
    Arrow batches of `value`, `payload` (NULL unless a valid session
    record) and `delay_ms` (NULL where there is no delay)."""
    main_dir: str
    main_prefix: str  # part-<query>-<batch_id>
    bulk: BulkPoster

    def write(self, batches: Iterable[pa.RecordBatch],
              pid: int) -> tuple[int, int, int]:
        """Write the main file, post the bulk docs; returns
        (delay count, delay sum, docs posted)."""
        import pyarrow.parquet as pq

        path = os.path.join(self.main_dir, f"{self.main_prefix}-{pid}.parquet")
        tmp = os.path.join(self.main_dir, f".{os.path.basename(path)}.tmp")
        writer = None
        n_delay = sum_delay = 0

        def payloads() -> Iterator[pa.Array]:
            nonlocal writer, n_delay, sum_delay
            for b in batches:
                if b.num_rows == 0:
                    continue
                main = b.select(["value"])
                if writer is None:
                    os.makedirs(self.main_dir, exist_ok=True)
                    writer = pq.ParquetWriter(tmp, main.schema)
                writer.write(main)
                delay = b.column("delay_ms")
                n_delay += len(delay) - delay.null_count
                sum_delay += pc.sum(delay).as_py() or 0
                yield b.column("payload")

        try:
            docs = self.bulk.post(payloads(), pid)
        finally:
            if writer is not None:
                writer.close()
        if writer is not None:
            os.replace(tmp, path)
        return n_delay, sum_delay, docs


class MetricAvgReporter:
    """Per-batch avg of delay_ms (ZhiYan A2 analogue), spooled as JSON
    `{batch_id, n, avg_delay_ms, reported_at}` to `metric-{batch_id}.json`
    through a dot-prefixed temp file and `os.replace`: a reader never
    sees a partial file, and a replayed batch replaces its own."""

    def __init__(self, spool_dir: str) -> None:
        self.spool_dir = spool_dir

    def report_batch(self, stats: tuple[int, float | None],
                     batch_id: int) -> None:
        """`stats` is the batch's (delay count, average delay in ms);
        a batch without delays reports nothing."""
        n, avg = stats
        if n == 0:
            return
        os.makedirs(self.spool_dir, exist_ok=True)
        rec = {"batch_id": batch_id, "n": n, "avg_delay_ms": avg,
               "reported_at": time.time()}
        name = f"metric-{batch_id}.json"
        path = os.path.join(self.spool_dir, name)
        tmp = os.path.join(self.spool_dir, f".{name}.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(rec, f)
        os.replace(tmp, path)
