"""Load generator: one process, two threads.

- The main thread runs the send schedule. It appends messages to the
  partitioned log through the program's own producer
  (`PartitionedLogWriter.append`) on a fixed clock that never waits for
  the engine: every message has a due time `t0 + i / rate`, the due time
  is stamped into the message's send-time field, and each tick sends
  everything that has come due, so a stalled tick is followed by a
  larger one rather than a slower schedule. The same thread reads
  commands (`go`, `stop`) from stdin and publishes a status file.
- The endpoint thread runs an asyncio HTTP/1.1 server that stands in
  for the bulk store. It keeps at most `--max-conns` connections, and
  records the receipt time, connection and raw body of every POST.

Run by perfbench/run.py; not meant to be started by hand.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import select
import sys
import threading
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datastream_processing_demo_spark.sources.plog import (  # noqa: E402
    PartitionedLogWriter,
)
from perfbench.datagen import MessagePlan  # noqa: E402

_RESP = (b"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n"
         b"Content-Length: 2\r\n\r\n{}")


class BulkEndpoint:
    """The bulk store stand-in, run on its own event loop thread."""

    def __init__(self, max_conns: int) -> None:
        self.max_conns = max_conns
        self.active = 0
        self.opened = 0
        self.refused = 0
        self.posts: list[tuple[float, int, bytes, float]] = []
        self.received_lines = 0
        self.port = None
        self._ready = threading.Event()
        self._loop: asyncio.AbstractEventLoop | None = None
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self._thread.start()
        if not self._ready.wait(10):
            raise RuntimeError("bulk endpoint did not start")

    def _run(self) -> None:
        self._loop = asyncio.new_event_loop()
        server = self._loop.run_until_complete(
            asyncio.start_server(self._handle, "127.0.0.1", 0))
        self.port = server.sockets[0].getsockname()[1]
        self._ready.set()
        try:
            self._loop.run_forever()
        finally:
            server.close()
            self._loop.run_until_complete(server.wait_closed())
            self._loop.close()

    def stop(self) -> None:
        if self._loop is not None:
            self._loop.call_soon_threadsafe(self._loop.stop)
        self._thread.join(timeout=10)

    async def _handle(self, reader: asyncio.StreamReader,
                      writer: asyncio.StreamWriter) -> None:
        if self.active >= self.max_conns:
            self.refused += 1
            writer.close()
            return
        self.active += 1
        self.opened += 1
        conn_id = self.opened
        try:
            while True:
                line = await reader.readline()
                if not line:
                    break
                t_in = time.time()
                clen = 0
                while True:
                    h = await reader.readline()
                    if h in (b"\r\n", b"\n", b""):
                        break
                    name, _, val = h.partition(b":")
                    if name.strip().lower() == b"content-length":
                        clen = int(val.strip())
                body = await reader.readexactly(clen) if clen else b""
                t_recv = time.time()
                writer.write(_RESP)
                await writer.drain()
                self.posts.append((t_recv, conn_id, body, time.time() - t_in))
                self.received_lines += body.count(b"\n")
        except (ConnectionError, asyncio.IncompleteReadError):
            pass
        finally:
            self.active -= 1
            writer.close()


def open_loop(n: int, rate: float, tick_s: float, t0: float, send,
              clock=time.time, sleep=time.sleep, on_tick=None) -> None:
    """Send messages 0..n-1, message j due at `t0 + j / rate`. Wake on a
    fixed tick clock and send everything due so far as one batch,
    `send(lo, hi, due_times)`. A late wake-up (a stall in `send` or in
    the scheduler) makes the next batch bigger; it never shifts the due
    times of later messages."""
    nxt, k = 0, 0
    while nxt < n:
        k += 1
        delay = t0 + k * tick_s - clock()
        if delay > 0:
            sleep(delay)
        hi = min(n, int((clock() - t0) * rate) + 1)
        if hi > nxt:
            send(nxt, hi, t0 + np.arange(nxt, hi) / rate)
            nxt = hi
        if on_tick is not None:
            on_tick(k, nxt)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--log-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--status", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--partitions", type=int, default=4)
    ap.add_argument("--rate", type=float, default=0.0,
                    help="open-loop msgs/s after `go` (0: no open loop)")
    ap.add_argument("--send-seconds", type=float, default=0.0)
    ap.add_argument("--warm-msgs", type=int, default=0,
                    help="messages appended to --log-dir at start")
    ap.add_argument("--prefill-log-dir", action="append", default=[])
    ap.add_argument("--prefill-msgs", type=int, action="append", default=[],
                    help="messages appended to the matching "
                    "--prefill-log-dir before `go`, in --prefill-rounds "
                    "appends per partition")
    ap.add_argument("--prefill-rounds", type=int, default=1)
    ap.add_argument("--tick-ms", type=float, default=10.0)
    ap.add_argument("--max-conns", type=int, default=os.cpu_count() or 4)
    args = ap.parse_args()

    n_open = int(round(args.rate * args.send_seconds))
    n_prefill = sum(args.prefill_msgs)
    n_total = args.warm_msgs + n_prefill + n_open
    plan = MessagePlan(args.seed, n_total)
    sched = np.zeros(n_total)          # due time of every seq
    sent_at = np.zeros(n_total)        # append-complete time of every seq
    append_ms: list[float] = []
    P = args.partitions

    endpoint = BulkEndpoint(args.max_conns)
    endpoint.start()

    def send(writer: PartitionedLogWriter, lo: int, hi: int,
             due: np.ndarray) -> None:
        per: dict[int, list] = {p: [] for p in range(P)}
        for seq in range(lo, hi):
            per[seq % P].append(
                (str(seq), plan.message(seq, int(due[seq - lo] * 1000))))
        for p, recs in per.items():
            if recs:
                a = time.time()
                writer.append(p, recs)
                append_ms.append((time.time() - a) * 1000.0)
        sched[lo:hi] = due
        sent_at[lo:hi] = time.time()

    main_log = PartitionedLogWriter(args.log_dir, P)
    if args.warm_msgs:
        send(main_log, 0, args.warm_msgs, np.full(args.warm_msgs, time.time()))
    lo = args.warm_msgs
    for log_dir, n in zip(args.prefill_log_dir, args.prefill_msgs):
        prefill_log = PartitionedLogWriter(log_dir, P)
        step = -(-n // args.prefill_rounds)
        for r in range(args.prefill_rounds):
            a, b = lo + r * step, min(lo + (r + 1) * step, lo + n)
            send(prefill_log, a, b, np.full(b - a, time.time()))
        lo += n

    status = {"port": endpoint.port, "sent": args.warm_msgs + n_prefill,
              "received_lines": 0, "done_sending": False,
              "n_total": n_total}

    def publish() -> None:
        status["received_lines"] = endpoint.received_lines
        tmp = args.status + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(status, f)
        os.replace(tmp, args.status)

    def command(timeout: float) -> str | None:
        r, _, _ = select.select([sys.stdin], [], [], timeout)
        if r:
            return sys.stdin.readline().strip() or "stop"
        return None

    publish()
    t0 = None
    while True:                                 # wait for `go` / `stop`
        cmd = command(0.05)
        publish()
        if cmd == "go":
            t0 = time.time()
            break
        if cmd == "stop":
            break

    late_ms = np.zeros(0)
    if t0 is not None and n_open:
        base = args.warm_msgs + n_prefill

        def on_tick(k: int, n_sent: int) -> None:
            if k % 5 == 0:
                status["sent"] = base + n_sent
                publish()

        open_loop(n_open, args.rate, args.tick_ms / 1000.0, t0,
                  lambda lo, hi, due: send(main_log, base + lo, base + hi,
                                           due),
                  on_tick=on_tick)
        late_ms = (sent_at[base:] - sched[base:]) * 1000.0
        status["sent"] = n_total
    status["done_sending"] = True
    publish()

    while command(0.05) != "stop":
        publish()
    publish()
    endpoint.stop()

    recv_t, recv_seq_body, conn, endpoint_ms = [], [], [], []
    docs_per_post = []
    for t_recv, cid, body, dur in endpoint.posts:
        lines = body.splitlines()
        docs_per_post.append(len(lines))
        endpoint_ms.append(dur * 1000.0)
        for ln in lines:
            recv_t.append(t_recv)
            conn.append(cid)
            recv_seq_body.append(ln.decode("utf-8"))
    out = {
        "t0": t0, "rate": args.rate, "n_open": n_open,
        "warm_msgs": args.warm_msgs, "prefill_msgs": args.prefill_msgs,
        "n_total": n_total,
        "sched": sched.tolist(), "sent_at": sent_at.tolist(),
        "late_ms": late_ms.tolist(), "append_ms": append_ms,
        "docs": recv_seq_body, "recv_t": recv_t, "conn": conn,
        "docs_per_post": docs_per_post, "endpoint_ms": endpoint_ms,
        "connections_opened": endpoint.opened, "refused": endpoint.refused,
    }
    tmp = args.out + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(out, f)
    os.replace(tmp, args.out)


if __name__ == "__main__":
    main()
