"""Shared helpers for the benchmark: percentiles, /proc sampling of the
engine's process tree, the host-speed probe, and an in-memory span
recorder.

Nothing here imports pyspark, so the orchestrator, the load generator
and the engine process can all use it.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time

# Percentiles a timing may be reported at, highest last.
TAIL_CANDIDATES = (50.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, p: float) -> float:
    """Percentile of `values` (0 <= p <= 100), interpolating linearly
    between the two nearest ranks."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = p / 100.0 * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def tail_percentile(n: int, candidates=TAIL_CANDIDATES) -> float | None:
    """The highest candidate percentile that leaves at least 10 samples
    above it in a sample of `n`, or None if even the median does not."""
    best = None
    for p in candidates:
        if n * (100.0 - p) >= 1000.0 - 1e-6:
            best = p
    return best


# --- /proc sampling ---------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int, reaped: bool = False) -> tuple[int, float] | None:
    """(ppid, cpu seconds) of one process, or None if it is gone. With
    `reaped`, the CPU of its exited and waited-for children is added."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may hold spaces or parens: split after the last ')'
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    ticks = int(fields[11]) + int(fields[12])
    if reaped:
        ticks += int(fields[13]) + int(fields[14])
    return ppid, ticks / _CLK_TCK


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (forked Python workers) split among them, so the sum over
    a process tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _kind(pid: int) -> str:
    """`python` for Python processes, `jvm` for the rest (the JVM)."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            prog = os.path.basename(f.read().split(b"\0")[0])
    except OSError:
        prog = b""
    return "python" if prog.startswith(b"python") else "jvm"


def process_tree(root: int) -> list[int]:
    """`root` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by `root` and its descendants, counting
    children that already exited (forked Python workers) once."""
    total = 0.0
    for pid in process_tree(root):
        st = _stat(pid, reaped=True)
        if st is not None:
            total += st[1]
    return total


class TreeSampler:
    """Polls the process tree under `root` from a daemon thread: peak
    resident memory (summed PSS), and CPU seconds (the last value seen
    for each pid, so workers that exit mid-run still count). Reading
    smaps costs a few ms per sample, hence the half-second interval."""

    def __init__(self, root: int, interval_s: float = 0.5) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak_rss = 0
        self.peak_by_kind: dict[str, float] = {}
        self._cpu: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.stopped = None

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        rss, by_kind = 0, {}
        for pid in process_tree(self.root):
            st = _stat(pid)
            if st is None:
                continue
            self._cpu[pid] = st[1]
            pss = _pss_bytes(pid)
            rss += pss
            kind = _kind(pid)
            by_kind[kind] = by_kind.get(kind, 0) + pss / 2**20
            by_kind["n_" + kind] = by_kind.get("n_" + kind, 0) + 1
        if rss > self.peak_rss:
            self.peak_rss, self.peak_by_kind = rss, by_kind

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.stopped = time.time()

    @property
    def cpu_s(self) -> float:
        return sum(self._cpu.values())


# --- host speed -------------------------------------------------------------

# The host probe's loop and the loop time that defines reference speed.
# On a 4-vCPU guest the loop took 3.6-4.7 ms of thread CPU while the
# engine ran; 4.0 ms is a round figure near the low end.
PROBE_LOOPS = 40_000
PROBE_REF_MS = 4.0


def probe_loop() -> float:
    """Thread CPU milliseconds of one fixed pure-Python loop."""
    a = time.thread_time()
    s = 0
    for i in range(PROBE_LOOPS):
        s += i * i % 7
    return (time.thread_time() - a) * 1000.0


class HostProbe:
    """The host's speed while the engine runs, from a daemon thread of
    the orchestrator: every `interval_s` it times `probe_loop` and keeps
    (wall time, loop ms). On a shared host the CPU time a fixed piece of
    work takes moves with what the other guests do (hyperthread siblings,
    caches, clock), by 20-40% from one second to the next; the loop's
    time moves with it."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "HostProbe":
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.is_set():
            ms = probe_loop()
            self.samples.append((time.time(), ms))
            self._stop.wait(self.interval_s)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def probe_ms(samples: list, lo: float, hi: float) -> float:
    """Mean probe loop time over the wall-time window [lo, hi], or over
    all samples if none fell inside it."""
    xs = [ms for t, ms in samples if lo <= t <= hi] or \
        [ms for _, ms in samples]
    return sum(xs) / len(xs)


def segment_cpu_s(segments: list) -> float:
    """Engine CPU seconds of `[t0, cpu0, t1, cpu1]` segments."""
    return sum(c1 - c0 for _, c0, _, c1 in segments)


def reference_cpu_s(segments: list, samples: list) -> float:
    """Engine CPU seconds of the segments at the host's reference speed:
    each segment's CPU scaled by PROBE_REF_MS over the mean probe loop
    time during that segment."""
    return sum((c1 - c0) * PROBE_REF_MS / probe_ms(samples, t0, t1)
               for t0, c0, t1, c1 in segments)


def batch_cpu_s(marks: list) -> list[float]:
    """CPU of each micro-batch from `[batch_id, cpu_s]` marks taken as
    each batch ended: the difference between marks of consecutive batch
    ids. The first mark only opens the series."""
    return [b[1] - a[1] for a, b in zip(marks, marks[1:])
            if b[0] == a[0] + 1]


def load1() -> float:
    with open("/proc/loadavg", encoding="ascii") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat. Steal is time
    the hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


# --- spans ------------------------------------------------------------------

class Tracer:
    """Spans kept in memory and written out once, at the end of a run.
    A span is (name, start, end, parent, id): `id` is the shared
    identifier of one unit of work (a micro-batch id, or pass/query)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float,
            parent: str | None = None, span_id=None) -> None:
        if not self.enabled:
            return
        with self._lock:
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "id": span_id})

    def span(self, name: str, parent: str | None = None, span_id=None):
        return _Span(self, name, parent, span_id)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name, parent, span_id) -> None:
        self.tracer, self.name, self.parent, self.span_id = \
            tracer, name, parent, span_id

    def __enter__(self):
        self.start = time.time()
        return self

    def __exit__(self, *exc) -> None:
        self.tracer.add(self.name, self.start, time.time(),
                        self.parent, self.span_id)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the
    part of it covered by its children (same id, parent == its name)."""
    by_key: dict[tuple, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            by_key.setdefault((s["parent"], s.get("id")), []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = sorted(
            (max(k["start"], s["start"]), min(k["end"], s["end"]))
            for k in by_key.get((s["name"], s.get("id")), ()))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["name"]] = out.get(s["name"], 0.0) + \
            max(0.0, s["end"] - s["start"] - covered)
    return out


def progress_start(p: dict) -> float:
    """Epoch seconds at which a StreamingQueryProgress's trigger began."""
    from datetime import datetime
    return datetime.fromisoformat(
        p["timestamp"].replace("Z", "+00:00")).timestamp()


def progress_end(p: dict) -> float:
    """Epoch seconds at which a StreamingQueryProgress's trigger ended."""
    return progress_start(p) + \
        p["durationMs"].get("triggerExecution", 0) / 1000.0


def phase_ms(progress: list[dict], phase: str) -> list[float]:
    """One `durationMs` phase (addBatch, walCommit, ...) of every
    progress record, 0 where the trigger did not run that phase."""
    return [float(p.get("durationMs", {}).get(phase, 0)) for p in progress]
