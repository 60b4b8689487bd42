"""Benchmark entry point: runs one or more workloads against the program and
prints, as its last stdout line, one JSON object
`{"correct", "attempted", "failed", "metrics"}`.

    python3 perfbench/run.py --workload pipeline --seed 1 \
        --seconds 4 --trace 0

`--workload` takes `pipeline`, `state_batch`, a comma-separated list,
or `all`; see perfbench/README.md for what each runs. With
`--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` the run records spans and reports the per-layer
metrics instead. Run it from the repository root. Everything it writes
goes under `.perfbench_tmp/` (deleted at the end of each run),
`.perfbench_cache/` (seeded inputs and oracle answers) and
`.perfbench_out/` (spans of traced runs).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# Each workload runs two phases in one engine process; the phases carry
# the names the per-layer metrics and the docs refer to.
WORKLOADS = ("pipeline", "state_batch")

# Engine pinning: all cores of this host, a heap that fits a shared
# 15 GB machine (committed up front, see engine_env), 4 log partitions
# like the reference's source.
HEAP = "2g"
PARTITIONS = 4

# pipeline, phase pipeline_steady: open loop into the live log
WARM_MSGS = 2000            # pre-written; their batch is the first result
STEADY_RATE = 1000.0        # msgs/s
STEADY_LEAD_S = 1.0         # open-loop lead-in excluded from latency
# pipeline, phase pipeline_backlog: drain of a pre-filled log
BACKLOG_MSGS_PER_S = 24000  # backlog size per --seconds
BACKLOG_DRAINS = 3          # logs the backlog is split into, one query each
BACKLOG_ROUNDS = 16
BACKLOG_ROUNDS_PER_TRIGGER = 4
# state_batch, phase state_dedup_window
STATE_EVENTS_PER_S = 170_000  # distinct events per --seconds
STATE_SPAN_HOURS = 24.0
STATE_USERS = 200_000
STATE_FILES = 3
# state_batch, phase batch_llm_corpus
CORPUS = {"n_lineitem": 120_000, "n_vecs": 800}
BATCH_PASSES = 3            # timed passes after the first


def _missing_program() -> str | None:
    for rel in ("datastream_processing_demo_spark/session.py",
                "datastream_processing_demo_spark/streaming/pipeline.py",
                "datastream_processing_demo_spark/sources/plog.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return rel
    return None


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def engine_env(run_dir: str, cpus: int) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        # the whole heap committed and touched at launch: left to grow,
        # it moved the JVM's resident memory by ~500 MB between identical
        # runs, as garbage collection happened to decide
        "SPARK_GRAFT_EXTRA_CONF":
            f"spark.driver.extraJavaOptions=-Xms{HEAP} -XX:+AlwaysPreTouch",
        # Python workers unpickle the plog source by module path
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    return env


class Engine:
    """The engine child process and the sampler of its process tree."""

    def __init__(self, run_dir: str, params: dict, cpus: int) -> None:
        from perfbench.common import HostProbe, TreeSampler
        self.run_dir = run_dir
        with open(os.path.join(run_dir, "params.json"), "w",
                  encoding="utf-8") as f:
            json.dump(params, f)
        self.log = open(os.path.join(run_dir, "engine.log"), "wb")
        self.t_launch = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), run_dir],
            cwd=run_dir, env=engine_env(run_dir, cpus), stdout=self.log,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            start_new_session=True)
        self.sampler = TreeSampler(self.proc.pid).start()
        self.host = HostProbe().start()
        self._seen = 0
        self.events: dict[str, dict] = {}

    def poll_events(self) -> None:
        path = os.path.join(self.run_dir, "engine.jsonl")
        if not os.path.exists(path):
            return
        with open(path, encoding="utf-8") as f:
            lines = f.read().split("\n")
        for line in lines[self._seen:-1]:       # last piece may be partial
            ev = json.loads(line)
            self.events[ev["kind"]] = ev
        self._seen = max(self._seen, len(lines) - 1)
        if "error" in self.events:
            raise RuntimeError("engine failed: " + self.events["error"]
                               ["error"] + "\n" + self.tail())

    def wait_for(self, kind: str, timeout: float) -> dict:
        end = time.time() + timeout
        while time.time() < end:
            self.poll_events()
            if kind in self.events:
                return self.events[kind]
            if self.proc.poll() is not None:
                self.poll_events()
                if kind in self.events:
                    return self.events[kind]
                raise RuntimeError(f"engine exited ({self.proc.returncode}) "
                                   f"before {kind!r}\n{self.tail()}")
            time.sleep(0.01)
        raise TimeoutError(f"engine: no {kind!r} within {timeout}s\n"
                           + self.tail())

    def tail(self) -> str:
        self.log.flush()
        try:
            with open(os.path.join(self.run_dir, "engine.log"), "rb") as f:
                return f.read()[-3000:].decode("utf-8", "replace")
        except OSError:
            return ""

    def kill(self) -> None:
        """Stop the engine: once it reported `done` its results are all
        written, so its own shutdown is not waited for."""
        if self.sampler.stopped is not None:
            return
        if self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGTERM)
                self.proc.wait(timeout=10)
            except (ProcessLookupError, subprocess.TimeoutExpired):
                pass
        try:                    # JVM or Python workers left behind
            os.killpg(self.proc.pid, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass
        self.proc.wait()
        end = time.time() + 10
        while time.time() < end:    # until the whole group has ended
            try:
                os.killpg(self.proc.pid, 0)
            except (ProcessLookupError, PermissionError):
                break
            time.sleep(0.05)
        self.sampler.stop()
        self.host.stop()
        self.log.close()


class LoadGen:
    def __init__(self, run_dir: str, args: list[str]) -> None:
        self.out = os.path.join(run_dir, "loadgen_out.json")
        self.status_path = os.path.join(run_dir, "loadgen_status.json")
        self.log = open(os.path.join(run_dir, "loadgen.log"), "wb")
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in [env.get("PYTHONPATH")] if p])
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "loadgen.py"),
             "--out", self.out, "--status", self.status_path,
             "--max-conns", str(_cpus())] + args,
            cwd=run_dir, env=env, stdin=subprocess.PIPE, stdout=self.log,
            stderr=subprocess.STDOUT, start_new_session=True)

    def status(self, timeout: float = 120) -> dict:
        end = time.time() + timeout
        while time.time() < end:
            try:
                with open(self.status_path, encoding="utf-8") as f:
                    return json.load(f)
            except (OSError, ValueError):
                if self.proc.poll() is not None:
                    raise RuntimeError("load generator exited early")
                time.sleep(0.01)
        raise TimeoutError("load generator did not report status")

    def send(self, cmd: str) -> None:
        self.proc.stdin.write((cmd + "\n").encode())
        self.proc.stdin.flush()

    def finish(self) -> dict:
        try:
            self.send("stop")
            self.proc.wait(timeout=60)
            with open(self.out, encoding="utf-8") as f:
                return json.load(f)
        finally:
            self.kill()

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.log.close()


# --- workloads ----------------------------------------------------------------

def _lag_sampler(log_dir: str, stop, out: list) -> None:
    """Backlog of the source: high watermark minus acked offsets."""
    from datastream_processing_demo_spark.sources.plog import committed_acks
    while not stop.is_set():
        hwm = 0
        for p in range(PARTITIONS):
            try:
                with open(os.path.join(log_dir, f"p{p:05d}.hwm"),
                          encoding="utf-8") as f:
                    hwm += json.load(f)["n"]
            except (OSError, ValueError):
                pass
        acks = committed_acks(log_dir) or {}
        out.append(hwm - sum(v["n"] for v in acks.values()))
        stop.wait(0.1)


def run_pipeline(ctx: dict) -> dict:
    import threading

    from perfbench.datagen import MessagePlan
    run_dir, seed, seconds = ctx["run_dir"], ctx["seed"], ctx["seconds"]
    log_dir = os.path.join(run_dir, "log")
    backlog_dirs = [os.path.join(run_dir, f"backlog{i}_log")
                    for i in range(BACKLOG_DRAINS)]
    n_drain = int(BACKLOG_MSGS_PER_S * seconds / BACKLOG_DRAINS)
    prefill = []
    for d in backlog_dirs:
        prefill += ["--prefill-log-dir", d, "--prefill-msgs", str(n_drain)]
    lg = LoadGen(run_dir, prefill + [
        "--log-dir", log_dir, "--seed", str(seed),
        "--partitions", str(PARTITIONS),
        "--rate", str(STEADY_RATE),
        "--send-seconds", str(STEADY_LEAD_S + seconds),
        "--warm-msgs", str(WARM_MSGS),
        "--prefill-rounds", str(BACKLOG_ROUNDS)])
    engine = None
    lag: list[int] = []
    stop_lag = threading.Event()
    lag_thread = threading.Thread(
        target=_lag_sampler, args=(log_dir, stop_lag, lag), daemon=True)
    try:
        st = lg.status()
        n_total = st["n_total"]
        expected = MessagePlan(seed, n_total).expected(n_total)
        engine = Engine(run_dir, {
            "workload": "pipeline", "trace": ctx["trace"],
            "partitions": PARTITIONS, "log_dir": log_dir,
            "backlog_log_dirs": backlog_dirs,
            "bulk_url": f"http://127.0.0.1:{st['port']}/bulk",
            "max_rounds": BACKLOG_ROUNDS_PER_TRIGGER}, ctx["cpus"])
        engine.wait_for("ready", 600)
        lag_thread.start()
        lg.send("go")
        # every live-log message delivered, or give up after a grace time
        seqs = expected["bulk_seqs"]
        n_live = int((seqs < WARM_MSGS).sum() + (
            seqs >= WARM_MSGS + BACKLOG_DRAINS * n_drain).sum())
        deadline = time.time() + STEADY_LEAD_S + seconds + 60
        while time.time() < deadline:
            st = lg.status()
            if st["done_sending"] and st["received_lines"] >= n_live:
                break
            engine.poll_events()
            time.sleep(0.02)
        stop_lag.set()
        open(os.path.join(run_dir, "stop"), "w").close()
        engine.wait_for("done", 150)
        engine.kill()
        ctx["spans"] = _load_spans(run_dir)
        lg_out = lg.finish()
    finally:
        stop_lag.set()
        if engine is not None:
            engine.kill()
        lg.kill()
    return _pipeline_metrics(ctx, engine, lg_out, expected, lag)


def _pipeline_metrics(ctx, engine, lg, expected, lag) -> dict:
    import numpy as np

    from perfbench import checks
    from perfbench.common import (
        batch_cpu_s,
        percentile,
        phase_ms,
        progress_end,
        progress_start,
    )
    run_dir = ctx["run_dir"]
    done = engine.events["done"]
    bulk = checks.check_bulk(expected["bulk_seqs"], lg["docs"])
    main_rows = checks.check_count(
        "main parquet rows", expected["main_rows"],
        checks.parquet_rows(os.path.join(run_dir, "main_out")))
    n_steady, avgs = checks.spool_n(os.path.join(run_dir, "spool_steady"))
    n_other, _ = checks.spool_n(*(
        os.path.join(run_dir, f"spool_backlog{i}")
        for i in range(len(done["backlog"]))))
    metric = checks.check_count("metric spool n", expected["metric_n"],
                                n_steady + n_other)

    # latency of each open-loop message: due time -> first bulk receipt
    seqs, recv_t = bulk["seqs"], np.asarray(lg["recv_t"])
    first: dict[int, float] = {}
    for s, t in zip(seqs.tolist(), recv_t.tolist()):
        if t < first.get(s, float("inf")):
            first[s] = t
    sched = np.asarray(lg["sched"])
    open_lo = lg["warm_msgs"] + sum(lg["prefill_msgs"])
    t_meas = lg["t0"] + STEADY_LEAD_S
    lat = [(t - sched[s]) * 1000.0 for s, t in first.items()
           if s >= open_lo and sched[s] >= t_meas]
    # a drain: first trigger start -> last trigger end (the query's own
    # start-up is a per-query cost, not per-record work)
    drains = [[p for p in d["progress"] if p["numInputRows"] > 0]
              for d in done["backlog"]]
    drain_s = [progress_end(d[-1]) - progress_start(d[0]) for d in drains]
    back = [p for d in drains for p in d]
    wall = {
        "latency_p50_ms": percentile(lat, 50),
        "latency_p95_ms": percentile(lat, 95),
        "throughput_msgs_per_s": percentile(
            [n / s for n, s in zip(lg["prefill_msgs"], drain_s)], 50),
        "batch_pass_s": percentile(drain_s, 50),
    }
    steady = [p for p in done["steady"]["progress"] if p["numInputRows"] > 0]
    trig = phase_ms(steady, "triggerExecution")
    late = lg["late_ms"]
    layer = {
        "loadgen.sent_msgs": lg["n_total"],
        "loadgen.late_p99_ms": percentile(late, 99),
        "loadgen.late_max_ms": max(late),
        "sources.plog.append_ms_p50": percentile(lg["append_ms"], 50),
        "sources.plog.lag_msgs_p50": percentile(lag, 50),
        "sources.plog.lag_msgs_max": max(lag),
        "sources.plog.latest_offset_ms_p50": percentile(
            phase_ms(steady + back, "latestOffset"), 50),
        "streaming.pipeline.batches": len(steady),
        "streaming.pipeline.rows_per_batch_p50": percentile(
            [p["numInputRows"] for p in steady], 50),
        "streaming.pipeline.trigger_ms_p50": percentile(trig, 50),
        "streaming.pipeline.trigger_ms_max": max(trig),
        "streaming.pipeline.add_batch_ms_p50": percentile(
            phase_ms(steady, "addBatch"), 50),
        "streaming.pipeline.query_planning_ms_p50": percentile(
            phase_ms(steady, "queryPlanning"), 50),
        "streaming.pipeline.wal_commit_ms_p50": percentile(
            phase_ms(steady, "walCommit"), 50),
        "streaming.pipeline.commit_offsets_ms_p50": percentile(
            phase_ms(steady, "commitOffsets"), 50),
        "streaming.pipeline.spark_jobs_per_batch":
            done["steady"]["spark_jobs"] / len(done["steady"]["progress"]),
        "streaming.pipeline.reported_delay_avg_ms": float(np.mean(avgs)),
        "streaming.pipeline.backlog_batches": len(back),
        "streaming.pipeline.backlog_add_batch_ms_p50": percentile(
            phase_ms(back, "addBatch"), 50),
        "streaming.sinks.bulk_posts": len(lg["docs_per_post"]),
        "streaming.sinks.docs_per_post": float(np.mean(lg["docs_per_post"])),
        "streaming.sinks.dup_docs": bulk["dup_docs"],
        "streaming.sinks.connections_opened": lg["connections_opened"],
        "streaming.sinks.endpoint_ms_p50": percentile(lg["endpoint_ms"], 50),
    }
    probe = done["probe"]
    if probe is not None:
        layer["sources.plog.batch_read_s"] = probe["read_s"]
        layer["streaming.messages.parse_s"] = probe["parse_s"]
    if ctx.get("spans"):
        sink_ms = _sink_ms_by_batch(ctx["spans"])
        for short in ("bulk_write", "metric_report"):
            vals = [v.get(f"streaming.sinks.{short}", 0.0)
                    for k, v in sink_ms.items() if k.startswith("steady-")]
            layer[f"streaming.sinks.{short}_ms_p50"] = percentile(vals, 50)
        main_write = [p["durationMs"].get("addBatch", 0)
                      - sum(sink_ms.get(f"steady-{p['batchId']}",
                                        {}).values())
                      for p in steady]
        layer["streaming.pipeline.main_write_ms_p50"] = \
            percentile(main_write, 50)
    notes = {"latency_tail": _tail(lat), "steady_trigger_ms": trig,
             "steady_rows": [p["numInputRows"] for p in steady],
             "backlog_drain_s": drain_s,
             "backlog_rows": [[p["numInputRows"] for p in d] for d in drains],
             "bulk": {k: bulk[k] for k in ("attempted", "missing", "extra",
                                           "dup_docs")},
             "main_rows": main_rows, "metric_spool": metric,
             "refused_conns": lg["refused"]}
    per_batch = batch_cpu_s(done["steady"]["batch_cpu"])
    notes["steady_batch_cpu_s"] = per_batch
    if per_batch:
        layer["streaming.pipeline.batch_cpu_s_p50"] = percentile(per_batch, 50)
    return {"outcome": [bulk, main_rows, metric], "wall": wall,
            "layer": layer, "notes": notes, "engine": engine}


def _tail(lat: list[float]) -> dict:
    """Sample count and the highest percentile it supports (at least ten
    samples beyond it), with that percentile's value."""
    from perfbench.common import percentile, tail_percentile
    p = tail_percentile(len(lat))
    return {"samples": len(lat), "p": p,
            "ms": percentile(lat, p) if p is not None else None}


def _load_spans(run_dir: str) -> list[dict] | None:
    path = os.path.join(run_dir, "spans_engine.json")
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def _sink_ms_by_batch(spans: list[dict]) -> dict:
    out: dict = {}
    for s in spans:
        if s["name"].startswith("streaming.sinks."):
            d = out.setdefault(s["id"], {})
            d[s["name"]] = d.get(s["name"], 0.0) + \
                (s["end"] - s["start"]) * 1000.0
    return out


def _cached(cache: str, make) -> str:
    """Build a cache directory once (atomically) and return its path."""
    if not os.path.exists(os.path.join(cache, "complete")):
        tmp = cache + f".tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        make(tmp)
        open(os.path.join(tmp, "complete"), "w").close()
        shutil.rmtree(cache, ignore_errors=True)
        os.replace(tmp, cache)
    return cache


def _state_inputs(ctx: dict) -> str:
    from perfbench import checks, datagen
    n_unique = int(STATE_EVENTS_PER_S * ctx["seconds"])

    def make(d: str) -> None:
        datagen.write_event_files(
            datagen.events_table(ctx["seed"], n_unique, STATE_SPAN_HOURS,
                                 STATE_USERS),
            os.path.join(d, "events"), STATE_FILES)
        with open(os.path.join(d, "expected.json"), "w",
                  encoding="utf-8") as f:
            json.dump(checks.expected_windows(
                os.path.join(d, "events", "*.parquet")), f)

    return _cached(os.path.join(ctx["cache"],
                                f"events-{ctx['seed']}-{n_unique}"), make)


def _corpus(ctx: dict) -> str:
    """Seeded batch corpus plus its DuckDB oracle answers."""
    from perfbench import checks, datagen
    from perfbench.engine import BATCH_MIX

    def make(d: str) -> None:
        rows = datagen.write_corpus(ctx["seed"], os.path.join(d, "tables"),
                                    **CORPUS)
        for name, pdf in checks.oracle_results(
                os.path.join(d, "tables"), BATCH_MIX).items():
            pdf.to_pickle(os.path.join(d, f"oracle_{name}.pkl"))
        with open(os.path.join(d, "rows.json"), "w", encoding="utf-8") as f:
            json.dump(rows, f)

    return _cached(os.path.join(ctx["cache"], f"corpus-{ctx['seed']}-"
                                + "-".join(map(str, CORPUS.values()))), make)


def run_state_batch(ctx: dict) -> dict:
    import pandas as pd

    from perfbench import checks
    from perfbench.common import (
        percentile,
        phase_ms,
        progress_end,
    )
    from perfbench.engine import BATCH_MIX
    run_dir = ctx["run_dir"]
    events, corpus = _state_inputs(ctx), _corpus(ctx)
    engine = Engine(run_dir, {
        "workload": "state_batch", "trace": ctx["trace"],
        "events_dir": os.path.join(events, "events"),
        "corpus_dir": os.path.join(corpus, "tables"),
        "passes": BATCH_PASSES}, ctx["cpus"])
    try:
        engine.wait_for("ready", 600)
        done = engine.wait_for("done", 170)
        engine.kill()
        ctx["spans"] = _load_spans(run_dir)
    finally:
        engine.kill()

    with open(os.path.join(events, "expected.json"), encoding="utf-8") as f:
        expected = json.load(f)
    win = checks.check_windows(expected, os.path.join(run_dir,
                                                      "windows_main"))
    bad = [q for q in BATCH_MIX if not checks.results_match(
        pd.read_pickle(os.path.join(run_dir, f"result_{q}.pkl")),
        pd.read_pickle(os.path.join(corpus, f"oracle_{q}.pkl")))]
    with open(os.path.join(corpus, "rows.json"), encoding="utf-8") as f:
        rows = json.load(f)

    prog = [p for p in done["windows"]["progress"] if p["numInputRows"] > 0]
    n_events = sum(p["numInputRows"] for p in prog)
    passes = done["passes"]
    lat = [(b - a) * 1000.0 for p in passes for a, b in p.values()]
    pass_s = [max(b for _, b in p.values()) - min(a for a, _ in p.values())
              for p in passes]
    wall = {
        "latency_p50_ms": percentile(lat, 50),
        "latency_p95_ms": percentile(lat, 95),
        # the drain's first batch also pays the query's one-time costs
        "throughput_msgs_per_s": sum(p["numInputRows"] for p in prog[1:])
        / (progress_end(prog[-1]) - progress_end(prog[0])),
        "batch_pass_s": percentile(pass_s, 50),
    }
    ops = [p.get("stateOperators", []) for p in prog]
    layer = {
        "streaming.windows.state_rows_total":
            sum(o["numRowsTotal"] for o in ops[-1]),
        "streaming.windows.state_memory_bytes":
            sum(o["memoryUsedBytes"] for o in ops[-1]),
        "streaming.windows.state_commit_ms_p50": percentile(
            [sum(o["commitTimeMs"] for o in b) for b in ops], 50),
        "streaming.windows.state_update_ms_p50": percentile(
            [sum(o["allUpdatesTimeMs"] for o in b) for b in ops], 50),
        "streaming.windows.rows_dropped_by_watermark":
            sum(o["numRowsDroppedByWatermark"] for b in ops for o in b),
        "streaming.windows.trigger_ms_p50": percentile(
            phase_ms(prog, "triggerExecution"), 50),
    }
    layer.update({f"plans.{q}_s": percentile(
        [p[q][1] - p[q][0] for p in passes], 50) for q in BATCH_MIX})
    notes = {"windows_check": win, "events_in": n_events,
             "distinct_ids": expected["distinct_ids"],
             "state_rows_by_operator": [
                 [o["operatorName"], o["numRowsTotal"]] for o in ops[-1]],
             "state_trigger_ms": phase_ms(prog, "triggerExecution"),
             "passes": len(passes), "pass_s": pass_s,
             "latency_tail": _tail(lat), "mismatched_queries": bad,
             "corpus_rows": rows}
    outcome = [win, {"attempted": len(BATCH_MIX), "failed": len(bad)}]
    return {"outcome": outcome, "wall": wall, "layer": layer,
            "notes": notes, "engine": engine}


RUNNERS = {"pipeline": run_pipeline, "state_batch": run_state_batch}

# The engine's phases whose CPU is the gated work_cpu_ref_s: fixed
# amounts of work, each run to completion. The open loop (steady) is
# left out: its batches run back to back for a fixed wall time, so its
# CPU is the engine's busy rate times that time, whatever a batch costs.
GATED = {"pipeline": ("backlog",), "state_batch": ("batch", "state")}

# Per-layer metrics (by name prefix) each workload must produce; a metric
# of a layer the workload does not run reads 0.
LAYERS = {
    "pipeline": ("loadgen.", "sources.", "streaming.messages.",
                 "streaming.pipeline.", "streaming.sinks.", "engine.steady_",
                 "engine.backlog_"),
    "state_batch": ("streaming.windows.", "plans.", "engine.batch_",
                    "engine.state_"),
}
BOTH = ("wall.", "session.", "engine.cpu_s", "engine.cpu_busy_fraction",
        "engine.host_probe_ms")


def _metric_value(name: str, workload: str, values: dict) -> float:
    if name in values:
        return values[name]
    if name == "trace.overhead_pct":
        print("perfbench: no untraced run of this workload in this checkout "
              "yet, so trace.overhead_pct reads 0", file=sys.stderr)
        return 0.0
    if name.startswith(LAYERS[workload] + BOTH):
        raise RuntimeError(f"{workload}: metric {name} was not measured")
    return 0.0


def run_workload(name: str, args, cache: str) -> dict:
    from perfbench.common import (
        PROBE_REF_MS,
        cpu_ticks,
        load1,
        probe_ms,
        reference_cpu_s,
        segment_cpu_s,
        self_times,
    )
    run_dir = os.path.join(ROOT, ".perfbench_tmp",
                           f"{name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ctx = {"workload": name, "seed": args.seed, "seconds": args.seconds,
           "trace": bool(args.trace), "cpus": args.cpus or _cpus(),
           "run_dir": run_dir, "cache": cache}
    t_start = time.time()
    load_start, ticks_start = load1(), cpu_ticks()
    try:
        res = RUNNERS[name](ctx)
        engine = res["engine"]
        ev = engine.events
        segments = ev["done"]["segments"]
        gated = [s for k in GATED[name] for s in segments[k]]
        host = engine.host.samples
        t_ready = ev["ready"]["t"]
        setup_wall = t_ready - engine.t_launch
        # set-up is CPU-bound (JVM start, class loading, the first query's
        # code generation), so it is scaled to reference speed like the
        # gated work
        res["e2e"] = {"setup_s": setup_wall * PROBE_REF_MS
                      / probe_ms(host, engine.t_launch, t_ready),
                      "work_cpu_ref_s": reference_cpu_s(gated, host),
                      "peak_rss_mb": engine.sampler.peak_rss / 2**20}
        cpu = {k: segment_cpu_s(v) for k, v in segments.items()}
        res["layer"].update({f"wall.{k}": v for k, v in res["wall"].items()})
        res["layer"].update({f"engine.{k}_cpu_s": v for k, v in cpu.items()})
        life = engine.sampler.stopped - engine.t_launch
        res["layer"].update({
            "session.get_session_s": ev["session"]["seconds"],
            "session.first_result_s": t_ready - ev["session"]["t"],
            "session.setup_wall_s": setup_wall,
            "engine.cpu_s": engine.sampler.cpu_s,
            "engine.cpu_busy_fraction":
                engine.sampler.cpu_s / (life * ctx["cpus"]),
            "engine.host_probe_ms": probe_ms(
                host, min(s[0] for s in gated), max(s[2] for s in gated)),
        })
        ticks = cpu_ticks()
        res["notes"].update(
            # per gated segment: engine CPU s, wall s, host probe ms
            work_segments=[[s[3] - s[1], s[2] - s[0],
                            probe_ms(host, s[0], s[2])] for s in gated],
            load1_start=load_start, load1_end=load1(),
            cpu_steal_fraction=(ticks[0] - ticks_start[0])
            / max(1, ticks[1] - ticks_start[1]),
            engine_cpus=ctx["cpus"],
            # MB and process count by kind at the peak of peak_rss_mb
            peak_rss_by_kind=engine.sampler.peak_by_kind,
            # where the run's wall time went: inputs and load generator
            # before the launch, the engine's life, checks after it
            timeline_s={"launch": engine.t_launch - t_start,
                        "engine": engine.sampler.stopped - engine.t_launch,
                        "total": time.time() - t_start})
        if args.trace:
            spans = ctx.get("spans") or []
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"spans-{name}-{args.seed}.json"),
                      "w", encoding="utf-8") as f:
                json.dump({"spans": spans, "self_times_s": self_times(spans)},
                          f)
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _overhead_pct(name: str, e2e: dict, cache: str, traced: bool,
                  cpus: int):
    """Traced run: how much more engine CPU (at reference speed) its fixed
    work took than in the latest untraced run of the same workload and
    engine cores in this checkout."""
    path = os.path.join(cache, f"untraced-{name}-{cpus}.json")
    metric = "work_cpu_ref_s"
    if not traced:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(e2e, f)
        return None
    try:
        with open(path, encoding="utf-8") as f:
            base = json.load(f)[metric]
    except (OSError, ValueError, KeyError):
        return None
    return (e2e[metric] - base) / base * 100.0


def main() -> int:
    # a terminated run still stops its engine and load generator
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    help="one of %s, a comma list, or all" % ", ".join(
                        WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=4.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=0,
                    help="engine cores (default: all of this host)")
    args = ap.parse_args()
    names = WORKLOADS if args.workload == "all" else \
        tuple(args.workload.split(","))
    unknown = [n for n in names if n not in WORKLOADS]
    if unknown:
        ap.error(f"unknown workload(s): {unknown}")
    missing = _missing_program()
    if missing:
        print(f"perfbench: program file {missing} not found; run from the "
              f"repository root", file=sys.stderr)
        return 2
    cache = os.path.join(ROOT, ".perfbench_cache")
    os.makedirs(cache, exist_ok=True)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    attempted = failed = 0
    metrics: dict = {}
    for name in names:
        res = run_workload(name, args, cache)
        a = sum(o["attempted"] for o in res["outcome"])
        f = sum(o["failed"] for o in res["outcome"])
        attempted, failed = attempted + a, failed + f
        ovh = _overhead_pct(name, res["e2e"], cache, bool(args.trace),
                            res["notes"]["engine_cpus"])
        if ovh is not None:
            res["layer"]["trace.overhead_pct"] = ovh
        shown, values = (("per_layer", res["layer"]) if args.trace
                         else ("end_to_end", res["e2e"]))
        prefix = "" if len(names) == 1 else name + "."
        for m in spec[shown]:
            metrics[prefix + m["name"]] = {
                "value": _metric_value(m["name"], name, values),
                "unit": m["unit"]}
        print(json.dumps({"workload": name, "seed": args.seed,
                          "failed_fraction": f / max(1, a),
                          "end_to_end": res["e2e"], "per_layer": res["layer"],
                          "notes": res["notes"]}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
