"""Differential fuzz of Structured Streaming watermark semantics.

The e2e streaming tests pin ONE hand-picked scenario each; this lane
drives hypothesis-generated micro-batch sequences through a real
append-mode streaming query (file source, one file per trigger) and
compares the emitted windows against an executable model of Spark's
documented watermark algebra, probed and pinned here:

- TWO watermarks are in effect per batch (Spark >= 3.4 splits
  eventTimeWatermarkForLateEvents from ...ForEviction — this lane's
  first two shrunk divergences rediscovered the split empirically):
  the LATE-ROW FILTER in batch i uses the watermark derived from
  batches 0..i-2 (two-batch lag), while EVICTION/emission in batch i
  uses the one from batches 0..i-1. A batch can therefore admit a row
  for an already-closable window and emit that window in the same
  batch, late row included (shrunk witness: batches [[8],[0]],
  delay 1 h -> window [0,6) emits WITH the h=0 row, filtered under
  W=epoch but evicted under W=07:00);
- both comparisons are inclusive at the boundary: a watermark landing
  EXACTLY on a window end evicts the window (probed directly), and a
  row whose window end equals the LAGGED watermark is dropped — which
  is precisely what makes a second emission of an already-evicted
  window impossible (shrunk witness: [[7],[0],[0]] emits [0,6) once,
  not twice: the third batch's h=0 row hits wend == lagged W and is
  dropped before it can rebuild evicted state);
- after the last file, availableNow runs a trailing no-data batch with
  the final watermark (probed: 2 files -> 3 batches), so windows
  closed by the last batch's own event times DO emit.

Hour-grid event times with a 6 h window and 1 h delay make the
watermark land exactly on window boundaries constantly — the regime
where an off-by-one in any of the three rules above flips results.
Every example is a real streaming query (~4 s), so this lane caps its
example count instead of inheriting the full soak knob.
"""

from __future__ import annotations

import itertools
import os
import shutil
import sys
import tempfile

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datastream_processing_demo_spark.schemas import EVENTS
from datastream_processing_demo_spark.streaming.windows import tumbling_counts

MAX_EXAMPLES = min(int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "25")), 40)

WIDTH_H = 6
BASE = pd.Timestamp("2024-03-01")
_qname = (f"wm_fuzz_{i}" for i in itertools.count())


@pytest.fixture(autouse=True, scope="module")
def _two_state_partitions(spark):
    """Run this lane's queries on 2 shuffle partitions, so 2 state-store
    partitions per stateful operator, instead of the session's 8. The
    rules under test are per key and per query (watermarks are global),
    so the partition count does not change what a query emits; it sets
    how many state-store tasks, delta files and checksum files each
    micro-batch writes, which is most of an example's time here (on 4
    vCPUs the watermark and dedup lanes ran 25-35% faster on 2). A
    restart keeps the count its checkpoint recorded."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield
    spark.conf.set(key, prev)


_BATCHES = st.lists(
    st.lists(st.integers(0, 36), min_size=1, max_size=3),  # event hours
    min_size=2, max_size=4)


def _model_emitted(batches: list[list[int]], delay_h: int,
                   restart_at: int | None = None) -> list[tuple[int, int]]:
    """Executable model of append-mode tumbling counts under the pinned
    watermark rules. Returns sorted (window_start_hour, n_events)
    emissions — a LIST, so a hypothetical double emission of one window
    (state rebuilt by an exact-boundary late row after eviction) would
    diverge loudly instead of being collapsed by a dict.

    restart_at=k models a query kill + checkpoint restart between
    batches k-1 and k: the dying run's trailing no-data batch flushes
    under its eviction watermark, and the restarted run restores that
    single persisted watermark as BOTH its watermarks — the one-batch
    filter lag COLLAPSES across a restart (restart-lane shrunk
    witness: [[7],[0]] split 1 emits nothing, where the unsplit run
    admits the h=0 late row and emits [0,6))."""
    epoch = pd.Timestamp(0)  # engine's initial watermark
    wm_filter = epoch       # lags eviction by one batch
    wm_evict = epoch
    state: dict[int, int] = {}
    emitted: list[tuple[int, int]] = []

    def wend(ws: int) -> pd.Timestamp:
        return BASE + pd.Timedelta(hours=ws + WIDTH_H)

    def flush():
        for ws in sorted(w for w in state if wend(w) <= wm_evict):
            emitted.append((ws, state.pop(ws)))

    for i, batch in enumerate(batches):
        if restart_at is not None and i == restart_at:
            flush()                 # dying run's trailing no-data batch
            wm_filter = wm_evict    # restored watermark: lag collapses
        for h in batch:
            ws = (h // WIDTH_H) * WIDTH_H
            if wend(ws) <= wm_filter:  # late under the LAGGED watermark
                continue
            state[ws] = state.get(ws, 0) + 1
        flush()
        wm_filter = wm_evict
        wm_evict = max(wm_evict,
                       BASE + pd.Timedelta(hours=max(batch) - delay_h))
    flush()  # trailing no-data batch
    return sorted(emitted)


def _events(hours: list[int]) -> pd.DataFrame:
    ts = pd.Series([BASE + pd.Timedelta(hours=h) for h in hours],
                   dtype="datetime64[us]")
    n = len(hours)
    return pd.DataFrame({"event_id": range(n), "ts": ts,
                         "user_id": [1] * n, "event_type": ["click"] * n,
                         "value": [1.0] * n, "props": ["{}"] * n})


@settings(max_examples=MAX_EXAMPLES, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(batches=_BATCHES, delay_h=st.sampled_from([1, 7]))
def test_watermark_emission_matches_model(spark, batches, delay_h):
    d = tempfile.mkdtemp(prefix="wm_fuzz_")
    try:
        for i, batch in enumerate(batches):
            p = os.path.join(d, f"b{i:03d}.parquet")
            pq.write_table(
                pa.Table.from_pandas(_events(batch), preserve_index=False),
                p, coerce_timestamps="us", allow_truncated_timestamps=True)
            os.utime(p, (1_000_000 + 10 * i,) * 2)  # mtime = batch order
        name = next(_qname)
        src = (spark.readStream.schema(EVENTS)
               .option("maxFilesPerTrigger", 1).parquet(d))
        q = (tumbling_counts(src, width=f"{WIDTH_H} hours",
                             watermark=f"{delay_h} hours")
             .writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(timeout=120)
        got = sorted(
            (int((r["window_start"] - BASE).total_seconds() // 3600),
             r["n_events"])
            for r in spark.sql(f"SELECT * FROM {name}").collect())
        want = _model_emitted(batches, delay_h)
        assert got == want, (
            f"watermark divergence: batches={batches!r} delay={delay_h}h\n"
            f"  spark emitted {got}\n  model emitted {want}")
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---- session windows under watermarks ----
# Same dual-watermark algebra, richer state: sessions [ts, ts+gap)
# merge on TOUCH (batch-mode boundary pinned by the r5 sessionization
# fuzz lane; probed here for the streaming path too — a late-admitted
# event at h=6 merged into a live [10,14) session through the exact
# start-touch and emitted as [6,14)). The late filter keys on the
# event's own prospective session end (ts+gap vs the LAGGED watermark)
# — an event whose raw ts is far below the watermark is still admitted
# while ts+gap clears it. Emissions compare (start, end, n_events,
# first_event_id), so merge bookkeeping is checked too.

_SESSION_BATCHES = st.lists(
    st.lists(st.integers(0, 36), min_size=1, max_size=3),
    min_size=2, max_size=4)


def _model_sessions(batches: list[list[int]], gap_h: int, delay_h: int,
                    restart_at: int | None = None
                    ) -> list[tuple[int, int, int, int]]:
    epoch = pd.Timestamp(0)
    wm_filter = epoch
    wm_evict = epoch
    # live sessions: [start_ts, end_ts, n_events, min_event_id]
    live: list[list] = []
    emitted: list[tuple[int, int, int, int]] = []

    def hours(t: pd.Timestamp) -> int:
        return int((t - BASE).total_seconds() // 3600)

    def flush():
        for s in [s for s in live if s[1] <= wm_evict]:
            live.remove(s)
            emitted.append((hours(s[0]), hours(s[1]), s[2], s[3]))

    eid = 0
    for i, batch in enumerate(batches):
        if restart_at is not None and i == restart_at:
            flush()                 # dying run's trailing no-data batch
            wm_filter = wm_evict    # restored watermark: lag collapses
        for h in batch:
            start = BASE + pd.Timedelta(hours=h)
            end = start + pd.Timedelta(hours=gap_h)
            if end <= wm_filter:  # prospective session end vs lagged W
                eid += 1
                continue
            cur = [start, end, 1, eid]
            eid += 1
            merged = []
            for s in live:
                if s[0] <= cur[1] and cur[0] <= s[1]:  # overlap or touch
                    cur = [min(s[0], cur[0]), max(s[1], cur[1]),
                           s[2] + cur[2], min(s[3], cur[3])]
                else:
                    merged.append(s)
            live = merged + [cur]
        flush()
        wm_filter = wm_evict
        wm_evict = max(wm_evict,
                       BASE + pd.Timedelta(hours=max(batch) - delay_h))
    flush()  # trailing no-data batch
    return sorted(emitted)


@settings(max_examples=MAX_EXAMPLES, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(batches=_SESSION_BATCHES, gap_h=st.sampled_from([2, 4]),
       delay_h=st.sampled_from([1, 7]))
def test_session_window_emission_matches_model(spark, batches, gap_h, delay_h):
    from datastream_processing_demo_spark.streaming.windows import (
        session_windows,
    )
    d = tempfile.mkdtemp(prefix="sw_fuzz_")
    try:
        eid = 0
        for i, batch in enumerate(batches):
            pdf = _events(batch)
            pdf["event_id"] = range(eid, eid + len(batch))
            eid += len(batch)
            p = os.path.join(d, f"b{i:03d}.parquet")
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                           p, coerce_timestamps="us",
                           allow_truncated_timestamps=True)
            os.utime(p, (1_000_000 + 10 * i,) * 2)
        name = next(_qname)
        src = (spark.readStream.schema(EVENTS)
               .option("maxFilesPerTrigger", 1).parquet(d))
        q = (session_windows(src, gap=f"{gap_h} hours",
                             watermark=f"{delay_h} hours")
             .writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(timeout=120)
        got = sorted(
            (int((r["session_start"] - BASE).total_seconds() // 3600),
             int((r["session_end"] - BASE).total_seconds() // 3600),
             r["n_events"], r["first_event_id"])
            for r in spark.sql(f"SELECT * FROM {name}").collect())
        want = _model_sessions(batches, gap_h, delay_h)
        assert got == want, (
            f"session divergence: batches={batches!r} gap={gap_h}h "
            f"delay={delay_h}h\n  spark emitted {got}\n  model emitted {want}")
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---- sliding windows under watermarks ----
# Each event lands in every window whose [start, start+width) covers
# it, starts on the epoch-aligned slide grid — including NON-multiple
# width/slide pairs (6h windows every 4h), where per-event window
# counts vary. Same dual-watermark emission rules as the tumbling
# lane, applied per assigned window; the late filter must drop a row
# only from windows already closed under the lagged watermark, so one
# row can be late for its oldest window and on time for its newest.

def _model_sliding(batches: list[list[int]], width_h: int, slide_h: int,
                   delay_h: int) -> list[tuple[int, int]]:
    epoch = pd.Timestamp(0)
    wm_filter = epoch
    wm_evict = epoch
    state: dict[int, int] = {}
    emitted: list[tuple[int, int]] = []

    def wend(ws: int) -> pd.Timestamp:
        return BASE + pd.Timedelta(hours=ws + width_h)

    def windows_of(h: int) -> list[int]:
        first = (h // slide_h) * slide_h  # newest window start <= h
        out = []
        ws = first
        while ws > h - width_h:
            out.append(ws)
            ws -= slide_h
        return out

    for batch in batches:
        for h in batch:
            for ws in windows_of(h):
                if wend(ws) <= wm_filter:
                    continue
                state[ws] = state.get(ws, 0) + 1
        for ws in sorted(w for w in state if wend(w) <= wm_evict):
            emitted.append((ws, state.pop(ws)))
        wm_filter = wm_evict
        wm_evict = max(wm_evict,
                       BASE + pd.Timedelta(hours=max(batch) - delay_h))
    for ws in sorted(w for w in state if wend(w) <= wm_evict):
        emitted.append((ws, state.pop(ws)))
    return sorted(emitted)


@settings(max_examples=MAX_EXAMPLES, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(batches=_BATCHES, geom=st.sampled_from([(12, 6), (6, 4), (4, 2)]),
       delay_h=st.sampled_from([1, 7]))
def test_sliding_window_emission_matches_model(spark, batches, geom, delay_h):
    from datastream_processing_demo_spark.streaming.windows import (
        sliding_counts,
    )
    width_h, slide_h = geom
    d = tempfile.mkdtemp(prefix="sl_fuzz_")
    try:
        for i, batch in enumerate(batches):
            p = os.path.join(d, f"b{i:03d}.parquet")
            pq.write_table(
                pa.Table.from_pandas(_events(batch), preserve_index=False),
                p, coerce_timestamps="us", allow_truncated_timestamps=True)
            os.utime(p, (1_000_000 + 10 * i,) * 2)
        name = next(_qname)
        src = (spark.readStream.schema(EVENTS)
               .option("maxFilesPerTrigger", 1).parquet(d))
        q = (sliding_counts(src, width=f"{width_h} hours",
                            slide=f"{slide_h} hours",
                            watermark=f"{delay_h} hours")
             .writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(timeout=120)
        got = sorted(
            (int((r["window_start"] - BASE).total_seconds() // 3600),
             r["n_events"])
            for r in spark.sql(f"SELECT * FROM {name}").collect())
        want = _model_sliding(batches, width_h, slide_h, delay_h)
        assert got == want, (
            f"sliding divergence: batches={batches!r} width={width_h}h "
            f"slide={slide_h}h delay={delay_h}h\n"
            f"  spark emitted {got}\n  model emitted {want}")
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---- dropDuplicatesWithinWatermark (stateful cross-batch dedup) ----
# Emission is immediate (first sighting of a key emits that row), so
# what the watermark governs here is STATE LIFETIME: a key's dedup
# state survives until the watermark passes its expiry, after which
# the same key is emitted AGAIN as a fresh record — re-emission timing
# is the whole semantics. Probed: state eviction happens at the END of
# a batch under that batch's eviction watermark (equivalently, at the
# next batch's start under its lagged watermark) — a duplicate in the
# same batch where the key's expiry first falls under the eviction
# watermark is still dropped; the key re-emits only one batch later.
# The expiry is FIRST-SEEN ts + delay and duplicates do NOT extend it
# (the restart lane's shrunk witness [[(3,0),(3,15)],[(3,15)]] pinned
# this: with extension the @15 re-occurrence would still be
# suppressed after the restart; Spark re-emits it because the state
# expired at 01:00 + delay regardless of the @15 duplicate).

_DEDUP_BATCHES = st.lists(
    st.lists(st.tuples(st.integers(1, 3),       # event_id (tiny key space)
                       st.integers(0, 36)),     # hour
             min_size=1, max_size=3),
    min_size=2, max_size=4)


def _model_dedup(batches: list[list[tuple[int, int]]],
                 delay_h: int) -> list[tuple[int, int]]:
    """Returns sorted (event_id, hour) rows the query must emit."""
    epoch = pd.Timestamp(0)
    wm_filter = epoch
    wm_evict = epoch
    expiry: dict[int, pd.Timestamp] = {}  # key -> state expiration
    emitted: list[tuple[int, int]] = []

    for batch in batches:
        for key, h in batch:
            ts = BASE + pd.Timedelta(hours=h)
            if ts <= wm_filter:  # late row: dropped outright
                continue
            if key in expiry:    # duplicate: dropped. Does NOT extend
                continue             # the state lifetime (restart-lane
                                     # witness below pinned this)
            expiry[key] = ts + pd.Timedelta(hours=delay_h)
            emitted.append((key, h))
        for key in [k for k, e in expiry.items() if e <= wm_evict]:
            del expiry[key]
        wm_filter = wm_evict
        wm_evict = max(wm_evict, BASE + pd.Timedelta(
            hours=max(h for _, h in batch) - delay_h))
    return sorted(emitted)


@settings(max_examples=MAX_EXAMPLES, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(batches=_DEDUP_BATCHES, delay_h=st.sampled_from([1, 7]))
def test_dedup_within_watermark_matches_model(spark, batches, delay_h):
    from datastream_processing_demo_spark.streaming.windows import (
        dedup_within_watermark,
    )
    d = tempfile.mkdtemp(prefix="dd_fuzz_")
    try:
        for i, batch in enumerate(batches):
            pdf = _events([h for _, h in batch])
            pdf["event_id"] = [k for k, _ in batch]
            p = os.path.join(d, f"b{i:03d}.parquet")
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                           p, coerce_timestamps="us",
                           allow_truncated_timestamps=True)
            os.utime(p, (1_000_000 + 10 * i,) * 2)
        name = next(_qname)
        src = (spark.readStream.schema(EVENTS)
               .option("maxFilesPerTrigger", 1).parquet(d))
        q = (dedup_within_watermark(src, watermark=f"{delay_h} hours")
             .writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(timeout=120)
        got = sorted(
            (r["event_id"], int((r["ts"] - BASE).total_seconds() // 3600))
            for r in spark.sql(f"SELECT * FROM {name}").collect())
        want = _model_dedup(batches, delay_h)
        assert got == want, (
            f"dedup divergence: batches={batches!r} delay={delay_h}h\n"
            f"  spark emitted {got}\n  model emitted {want}")
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---- checkpoint restart: watermark + window state recovery ----
# The single-query lanes above pin the in-run algebra; this lane kills
# the query between two random halves of the batch sequence and
# restarts from the checkpoint (parquet sink — its _spark_metadata
# commit log is the exactly-once boundary). The model treats the
# restart as just another batch boundary: the committed watermark is
# restored, already-emitted windows stay emitted, live state resumes.
# Divergence here would mean watermark reset (lates re-admitted,
# windows double-emitted) or state loss (undercounted windows).

@settings(max_examples=min(MAX_EXAMPLES, 20), deadline=None,
          derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(batches=_BATCHES, delay_h=st.sampled_from([1, 7]),
       data=st.data())
def test_restart_preserves_watermark_and_state(spark, batches, delay_h,
                                               data):
    split = data.draw(st.integers(1, len(batches) - 1), label="split")
    root = tempfile.mkdtemp(prefix="wm_restart_")
    src_dir = os.path.join(root, "src")
    out_dir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src_dir)

    def stage_batches(lo, hi):
        for i in range(lo, hi):
            p = os.path.join(src_dir, f"b{i:03d}.parquet")
            pq.write_table(
                pa.Table.from_pandas(_events(batches[i]),
                                     preserve_index=False),
                p, coerce_timestamps="us", allow_truncated_timestamps=True)
            os.utime(p, (1_000_000 + 10 * i,) * 2)

    def run_once():
        src = (spark.readStream.schema(EVENTS)
               .option("maxFilesPerTrigger", 1).parquet(src_dir))
        q = (tumbling_counts(src, width=f"{WIDTH_H} hours",
                             watermark=f"{delay_h} hours")
             .writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(timeout=120)
        q.stop()

    try:
        stage_batches(0, split)
        run_once()                 # first half, then killed
        stage_batches(split, len(batches))
        run_once()                 # restart from checkpoint
        if os.path.exists(out_dir):
            rows = spark.read.parquet(out_dir).collect()
        else:
            rows = []
        got = sorted(
            (int((r["window_start"] - BASE).total_seconds() // 3600),
             r["n_events"]) for r in rows)
        want = _model_emitted(batches, delay_h, restart_at=split)
        assert got == want, (
            f"restart divergence: batches={batches!r} split={split} "
            f"delay={delay_h}h\n  spark emitted {got}\n  model {want}")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@settings(max_examples=min(MAX_EXAMPLES, 15), deadline=None,
          derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(batches=_SESSION_BATCHES, gap_h=st.sampled_from([2, 4]),
       delay_h=st.sampled_from([1, 7]), data=st.data())
def test_session_restart_recovers_merged_state(spark, batches, gap_h,
                                               delay_h, data):
    """Kill-and-restart for SESSION state: sessions straddling the
    restart must come back merged (state-store recovery of variable
    intervals), under the same restored-watermark lag collapse the
    tumbling restart lane pinned."""
    from datastream_processing_demo_spark.streaming.windows import (
        session_windows,
    )
    split = data.draw(st.integers(1, len(batches) - 1), label="split")
    root = tempfile.mkdtemp(prefix="sw_restart_")
    src_dir = os.path.join(root, "src")
    out_dir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src_dir)

    eid = 0

    def stage_batches(lo, hi):
        nonlocal eid
        for i in range(lo, hi):
            pdf = _events(batches[i])
            pdf["event_id"] = range(eid, eid + len(batches[i]))
            eid += len(batches[i])
            p = os.path.join(src_dir, f"b{i:03d}.parquet")
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                           p, coerce_timestamps="us",
                           allow_truncated_timestamps=True)
            os.utime(p, (1_000_000 + 10 * i,) * 2)

    def run_once():
        src = (spark.readStream.schema(EVENTS)
               .option("maxFilesPerTrigger", 1).parquet(src_dir))
        q = (session_windows(src, gap=f"{gap_h} hours",
                             watermark=f"{delay_h} hours")
             .writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(timeout=120)
        q.stop()

    try:
        stage_batches(0, split)
        run_once()
        stage_batches(split, len(batches))
        run_once()
        rows = (spark.read.parquet(out_dir).collect()
                if os.path.exists(out_dir) else [])
        got = sorted(
            (int((r["session_start"] - BASE).total_seconds() // 3600),
             int((r["session_end"] - BASE).total_seconds() // 3600),
             r["n_events"], r["first_event_id"])
            for r in rows)
        want = _model_sessions(batches, gap_h, delay_h, restart_at=split)
        assert got == want, (
            f"session restart divergence: batches={batches!r} "
            f"gap={gap_h}h delay={delay_h}h split={split}\n"
            f"  spark emitted {got}\n  model {want}")
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---- update output mode: per-batch changed-row emissions ----
# Append mode emits a window once, on close; UPDATE mode emits the
# window's refreshed aggregate in EVERY batch that touches it, and
# eviction by the watermark is silent (no final row). The engine's
# stateful-totals lanes rely on exactly this contract (max-n_events
# row per key = final state), so pin it against the same dual-
# watermark model: per batch, each window receiving admitted rows
# emits its post-batch count; late rows are filtered under the lagged
# watermark; an exact-boundary late row can resurrect an evicted
# window's state at a FRESH count (the append lane proved the row is
# admitted — here the emission makes the reset count observable).

def _model_update_mode(batches: list[list[int]],
                       delay_h: int) -> list[tuple[int, int]]:
    epoch = pd.Timestamp(0)
    wm_filter = epoch
    wm_evict = epoch
    state: dict[int, int] = {}
    emitted: list[tuple[int, int]] = []

    def wend(ws: int) -> pd.Timestamp:
        return BASE + pd.Timedelta(hours=ws + WIDTH_H)

    for batch in batches:
        touched = set()
        for h in batch:
            ws = (h // WIDTH_H) * WIDTH_H
            if wend(ws) <= wm_filter:
                continue
            state[ws] = state.get(ws, 0) + 1
            touched.add(ws)
        for ws in sorted(touched):
            emitted.append((ws, state[ws]))
        for ws in [w for w in state if wend(w) <= wm_evict]:
            del state[ws]  # silent eviction: no emission
        wm_filter = wm_evict
        wm_evict = max(wm_evict,
                       BASE + pd.Timedelta(hours=max(batch) - delay_h))
    return sorted(emitted)


@settings(max_examples=MAX_EXAMPLES, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(batches=_BATCHES, delay_h=st.sampled_from([1, 7]))
def test_update_mode_emissions_match_model(spark, batches, delay_h):
    d = tempfile.mkdtemp(prefix="upd_fuzz_")
    try:
        for i, batch in enumerate(batches):
            p = os.path.join(d, f"b{i:03d}.parquet")
            pq.write_table(
                pa.Table.from_pandas(_events(batch), preserve_index=False),
                p, coerce_timestamps="us", allow_truncated_timestamps=True)
            os.utime(p, (1_000_000 + 10 * i,) * 2)
        name = next(_qname)
        src = (spark.readStream.schema(EVENTS)
               .option("maxFilesPerTrigger", 1).parquet(d))
        q = (tumbling_counts(src, width=f"{WIDTH_H} hours",
                             watermark=f"{delay_h} hours")
             .writeStream.format("memory").queryName(name)
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(timeout=120)
        got = sorted(
            (int((r["window_start"] - BASE).total_seconds() // 3600),
             r["n_events"])
            for r in spark.sql(f"SELECT * FROM {name}").collect())
        want = _model_update_mode(batches, delay_h)
        assert got == want, (
            f"update-mode divergence: batches={batches!r} delay={delay_h}h\n"
            f"  spark emitted {got}\n  model emitted {want}")
    finally:
        shutil.rmtree(d, ignore_errors=True)


@settings(max_examples=min(MAX_EXAMPLES, 15), deadline=None,
          derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(batches=_DEDUP_BATCHES, delay_h=st.sampled_from([1, 7]),
       data=st.data())
def test_dedup_restart_recovers_key_state(spark, batches, delay_h, data):
    """Kill-and-restart for dropDuplicatesWithinWatermark KEYED state:
    keys seen before the kill must still suppress duplicates after it
    (state-store recovery), expiries keep ticking under the restored
    watermark, and the filter-lag collapse applies to the late-row
    drop — the keyed-state sibling of the window restart lanes."""
    from datastream_processing_demo_spark.streaming.windows import (
        dedup_within_watermark,
    )
    split = data.draw(st.integers(1, len(batches) - 1), label="split")
    root = tempfile.mkdtemp(prefix="dd_restart_")
    src_dir = os.path.join(root, "src")
    out_dir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src_dir)

    def stage_batches(lo, hi):
        for i in range(lo, hi):
            batch = batches[i]
            pdf = _events([h for _, h in batch])
            pdf["event_id"] = [k for k, _ in batch]
            p = os.path.join(src_dir, f"b{i:03d}.parquet")
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                           p, coerce_timestamps="us",
                           allow_truncated_timestamps=True)
            os.utime(p, (1_000_000 + 10 * i,) * 2)

    def run_once():
        src = (spark.readStream.schema(EVENTS)
               .option("maxFilesPerTrigger", 1).parquet(src_dir))
        q = (dedup_within_watermark(src, watermark=f"{delay_h} hours")
             .writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(timeout=120)
        q.stop()

    def model() -> list[tuple[int, int]]:
        epoch = pd.Timestamp(0)
        wm_filter = epoch
        wm_evict = epoch
        expiry: dict[int, pd.Timestamp] = {}
        emitted: list[tuple[int, int]] = []
        for i, batch in enumerate(batches):
            if i == split:
                for key in [k for k, e in expiry.items() if e <= wm_evict]:
                    del expiry[key]
                wm_filter = wm_evict  # restored watermark: lag collapses
            for key, h in batch:
                ts = BASE + pd.Timedelta(hours=h)
                if ts <= wm_filter:
                    continue
                if key in expiry:  # dup: dropped, no lifetime extension
                    continue
                expiry[key] = ts + pd.Timedelta(hours=delay_h)
                emitted.append((key, h))
            for key in [k for k, e in expiry.items() if e <= wm_evict]:
                del expiry[key]
            wm_filter = wm_evict
            wm_evict = max(wm_evict, BASE + pd.Timedelta(
                hours=max(h for _, h in batch) - delay_h))
        return sorted(emitted)

    try:
        stage_batches(0, split)
        run_once()
        stage_batches(split, len(batches))
        run_once()
        rows = (spark.read.parquet(out_dir).collect()
                if os.path.exists(out_dir) else [])
        got = sorted(
            (r["event_id"], int((r["ts"] - BASE).total_seconds() // 3600))
            for r in rows)
        want = model()
        assert got == want, (
            f"dedup restart divergence: batches={batches!r} "
            f"delay={delay_h}h split={split}\n"
            f"  spark emitted {got}\n  model {want}")
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---- stream-stream join (view->purchase attribution) ----
# Two-sided state under TWO watermark nodes: each side's watermark
# derives from its OWN filtered rows, and the query's global watermark
# is their MIN (an idle side pins the watermark at epoch and holds
# everything — modeled, and a classic production surprise). Inner
# pairs require both rows admitted and mutually buffered; left-outer
# null rows emit only when the global eviction watermark proves the
# view's horizon closed. Same lag algebra as the aggregation lanes:
# rows filter under the LAGGED global watermark, state evicts under
# the current one, trailing no-data batch included.

_SSJ_HORIZON_H = 6
_SSJ_BATCHES = st.lists(
    st.lists(st.tuples(st.booleans(),           # True = purchase
                       st.integers(0, 18)),     # hour
             min_size=1, max_size=3),
    min_size=2, max_size=4)


def _model_attribution(batches, delay_h: int, outer: bool):
    epoch = pd.Timestamp(0)
    wm_filter = epoch
    wm_evict = epoch
    wm_v = epoch   # per-side watermark inputs to the global min
    wm_p = epoch
    horizon = pd.Timedelta(hours=_SSJ_HORIZON_H)
    views: list[list] = []      # [ts, view_id, matched]
    purchases: list[list] = []  # [ts, purchase_id]
    emitted: list[tuple[int, int]] = []

    def ts_of(h):
        return BASE + pd.Timedelta(hours=h)

    eid = 0
    for batch in batches:
        new_v, new_p = [], []
        for is_p, h in batch:
            ts = ts_of(h)
            if ts <= wm_filter:      # late under lagged global watermark
                eid += 1
                continue
            if is_p:
                new_p.append([ts, eid])
            else:
                new_v.append([ts, eid, False])
            eid += 1
        # join new rows against buffered + new state (order-free within
        # the batch: micro-batch join sees both sides' batch rows)
        for v in views + new_v:
            for p in purchases + new_p:
                if (v in new_v or p in new_p) and \
                        v[0] < p[0] <= v[0] + horizon:
                    emitted.append((v[1], p[1]))
                    v[2] = True
        views.extend(new_v)
        purchases.extend(new_p)
        # evict under the current global watermark
        for v in [v for v in views if v[0] + horizon <= wm_evict]:
            views.remove(v)
            if outer and not v[2]:
                emitted.append((v[1], -1))   # null purchase row
        purchases = [p for p in purchases if not p[0] <= wm_evict]
        # advance: per-side max, then global min, with the pinned lag
        if new_v:
            wm_v = max(wm_v, max(v[0] for v in new_v)
                       - pd.Timedelta(hours=delay_h))
        if new_p:
            wm_p = max(wm_p, max(p[0] for p in new_p)
                       - pd.Timedelta(hours=delay_h))
        wm_filter = wm_evict
        wm_evict = max(wm_evict, min(wm_v, wm_p))
    # trailing no-data batch
    for v in [v for v in views if v[0] + horizon <= wm_evict]:
        views.remove(v)
        if outer and not v[2]:
            emitted.append((v[1], -1))
    return sorted(emitted)


@settings(max_examples=min(MAX_EXAMPLES, 15), deadline=None,
          derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(batches=_SSJ_BATCHES, how=st.sampled_from(["inner", "left_outer"]),
       delay_h=st.sampled_from([1, 7]))
def test_stream_stream_join_matches_model(spark, batches, how, delay_h):
    from datastream_processing_demo_spark.streaming.joins import (
        view_purchase_attribution,
    )
    d = tempfile.mkdtemp(prefix="ssj_fuzz_")
    try:
        eid = 0
        for i, batch in enumerate(batches):
            pdf = _events([h for _, h in batch])
            pdf["event_id"] = range(eid, eid + len(batch))
            eid += len(batch)
            pdf["event_type"] = ["purchase" if is_p else "view"
                                 for is_p, _ in batch]
            p = os.path.join(d, f"b{i:03d}.parquet")
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                           p, coerce_timestamps="us",
                           allow_truncated_timestamps=True)
            os.utime(p, (1_000_000 + 10 * i,) * 2)
        name = next(_qname)
        src = (spark.readStream.schema(EVENTS)
               .option("maxFilesPerTrigger", 1).parquet(d))
        q = (view_purchase_attribution(
                src, horizon=f"{_SSJ_HORIZON_H} hours",
                watermark=f"{delay_h} hours", how=how)
             .writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(timeout=120)
        got = sorted(
            (r["view_id"],
             r["purchase_id"] if r["purchase_id"] is not None else -1)
            for r in spark.sql(f"SELECT * FROM {name}").collect())
        want = _model_attribution(batches, delay_h, how == "left_outer")
        assert got == want, (
            f"stream-join divergence: batches={batches!r} how={how} "
            f"delay={delay_h}h\n  spark emitted {got}\n  model {want}")
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---- dynamic-gap session windows (per-event gap expression) ----
# Each event keeps its session alive for a TYPE-dependent horizon:
# spans [ts, ts+gap(type)) union-merge on touch, so session_end is
# the MAX member end (not last-event + gap) and a long-gap event can
# bridge two short-gap clusters that would otherwise split. The late
# filter keys on the event's OWN prospective end (ts + its gap) — two
# simultaneous events of different types can land on opposite sides
# of the lagged watermark. Model = the session model with per-event
# gaps; same eviction/lag algebra.

_DYN_GAPS_H = {False: 2, True: 4}  # view: 2h, purchase: 4h
_DYN_BATCHES = st.lists(
    st.lists(st.tuples(st.booleans(),        # True = purchase
                       st.integers(0, 36)),  # hour
             min_size=1, max_size=3),
    min_size=2, max_size=4)


def _model_dynamic_sessions(batches, delay_h: int):
    epoch = pd.Timestamp(0)
    wm_filter = epoch
    wm_evict = epoch
    live: list[list] = []  # [start, end, n, min_id]
    emitted: list[tuple[int, int, int, int]] = []

    def hours(t):
        return int((t - BASE).total_seconds() // 3600)

    eid = 0
    for batch in batches:
        for is_p, h in batch:
            start = BASE + pd.Timedelta(hours=h)
            end = start + pd.Timedelta(hours=_DYN_GAPS_H[is_p])
            if end <= wm_filter:
                eid += 1
                continue
            cur = [start, end, 1, eid]
            eid += 1
            merged = []
            for s in live:
                if s[0] <= cur[1] and cur[0] <= s[1]:
                    cur = [min(s[0], cur[0]), max(s[1], cur[1]),
                           s[2] + cur[2], min(s[3], cur[3])]
                else:
                    merged.append(s)
            live = merged + [cur]
        for s in [s for s in live if s[1] <= wm_evict]:
            live.remove(s)
            emitted.append((hours(s[0]), hours(s[1]), s[2], s[3]))
        wm_filter = wm_evict
        wm_evict = max(wm_evict, BASE + pd.Timedelta(
            hours=max(h for _, h in batch) - delay_h))
    for s in [s for s in live if s[1] <= wm_evict]:
        live.remove(s)
        emitted.append((hours(s[0]), hours(s[1]), s[2], s[3]))
    return sorted(emitted)


@settings(max_examples=min(MAX_EXAMPLES, 15), deadline=None,
          derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(batches=_DYN_BATCHES, delay_h=st.sampled_from([1, 7]))
def test_dynamic_gap_session_matches_model(spark, batches, delay_h):
    from pyspark.sql import functions as F
    d = tempfile.mkdtemp(prefix="dg_fuzz_")
    try:
        eid = 0
        for i, batch in enumerate(batches):
            pdf = _events([h for _, h in batch])
            pdf["event_id"] = range(eid, eid + len(batch))
            eid += len(batch)
            pdf["event_type"] = ["purchase" if is_p else "view"
                                 for is_p, _ in batch]
            p = os.path.join(d, f"b{i:03d}.parquet")
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                           p, coerce_timestamps="us",
                           allow_truncated_timestamps=True)
            os.utime(p, (1_000_000 + 10 * i,) * 2)
        name = next(_qname)
        src = (spark.readStream.schema(EVENTS)
               .option("maxFilesPerTrigger", 1).parquet(d))
        gap = F.expr(
            f"CASE event_type WHEN 'purchase' "
            f"THEN '{_DYN_GAPS_H[True]} hours' "
            f"ELSE '{_DYN_GAPS_H[False]} hours' END")
        sess = (src.withWatermark("ts", f"{delay_h} hours")
                .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.min("event_id").alias("first_event_id"))
                .select(F.col("w.start").alias("session_start"),
                        F.col("w.end").alias("session_end"),
                        "n_events", "first_event_id"))
        q = (sess.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(timeout=120)
        got = sorted(
            (int((r["session_start"] - BASE).total_seconds() // 3600),
             int((r["session_end"] - BASE).total_seconds() // 3600),
             r["n_events"], r["first_event_id"])
            for r in spark.sql(f"SELECT * FROM {name}").collect())
        want = _model_dynamic_sessions(batches, delay_h)
        assert got == want, (
            f"dynamic-gap divergence: batches={batches!r} "
            f"delay={delay_h}h\n  spark emitted {got}\n  model {want}")
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---- stateful totals (applyInPandasWithState) under restart schedules ----
# The last unfuzzed stateful surface (VERDICT r5 task #7):
# running_user_totals keeps one (n, cents, purchases) tuple per user in
# GroupState with an EVENT-TIME idle timeout, emitting the refreshed
# running totals for every key a batch touches (update mode). The model
# below pins, under random batch sequences AND a random kill+restart
# point:
# - the dual-watermark row filter (a row is dropped iff ts <= the LAGGED
#   watermark, same rule as the dedup lane);
# - the state lifetime: a key idle past last_event + idle_timeout is
#   evicted when the EVICTION watermark advances STRICTLY past the
#   deadline, in the first batch where the key has no data (a returning
#   key in that same batch wins — data processing precedes timeout
#   processing); a returning key after eviction restarts from zero;
# - the timeout-deadline clamp: the filter lag can deliver a row OLDER
#   than the eviction watermark, so the deadline is
#   max(batch_max_ts + idle, current watermark) — without the clamp
#   Spark throws INVALID_TIMEOUT_TIMESTAMP (this lane's first shrunk
#   witness, fixed in streaming/stateful.py);
# - restart: the single persisted watermark collapses the filter lag,
#   exactly as the tumbling/session restart lanes pinned;
# - the trailing no-data batch of each availableNow run processes
#   timeouts under the final watermark.

_TOTALS_BATCHES = st.lists(
    st.lists(st.tuples(st.integers(1, 2),        # user_id (tiny key space)
                       st.integers(0, 36),       # hour
                       st.integers(1, 3),        # value in whole units
                       st.booleans()),           # is_purchase
             min_size=1, max_size=3),
    min_size=2, max_size=4)


def _model_totals(batches, delay_h: int, idle_h: int,
                  restart_at: int | None = None):
    """Returns the sorted list of (user, n_events, cents, purchases)
    rows the update-mode query must emit across all batches."""
    epoch = pd.Timestamp(0)
    wm_filter = epoch
    wm_evict = epoch
    state: dict[int, tuple[int, int, int]] = {}
    deadline: dict[int, pd.Timestamp] = {}
    emitted: list[tuple[int, int, int, int]] = []

    def fire_timeouts(seen_users=()):
        for u in [u for u, dl in deadline.items() if wm_evict > dl
                  and u not in seen_users]:
            del state[u], deadline[u]

    for i, batch in enumerate(batches):
        if restart_at is not None and i == restart_at:
            fire_timeouts()          # dying run's trailing no-data batch
            wm_filter = wm_evict     # restored watermark: lag collapses
        live = [r for r in batch
                if BASE + pd.Timedelta(hours=r[1]) > wm_filter]
        seen = []
        for u in sorted({r[0] for r in live}):
            rows = [r for r in live if r[0] == u]
            n, cents, purch = state.get(u, (0, 0, 0))
            n += len(rows)
            cents += sum(100 * v for _, _, v, _ in rows)
            purch += sum(1 for _, _, _, p in rows if p)
            state[u] = (n, cents, purch)
            max_ts = BASE + pd.Timedelta(hours=max(h for _, h, _, _ in rows))
            deadline[u] = max(max_ts + pd.Timedelta(hours=idle_h), wm_evict)
            emitted.append((u, n, cents, purch))
            seen.append(u)
        fire_timeouts(seen)
        wm_filter = wm_evict
        wm_evict = max(wm_evict, BASE + pd.Timedelta(
            hours=max(h for _, h, _, _ in batch) - delay_h))
    fire_timeouts()                  # trailing no-data batch
    return sorted(emitted)


# soak knob: SPARK_GRAFT_TOTALS_EXAMPLES=150 for the full recorded run
# (BASELINE.md r6); the in-suite default stays capped like the other
# restart lanes (each example is two real streaming queries).
_TOTALS_EXAMPLES = min(int(os.environ.get(
    "SPARK_GRAFT_TOTALS_EXAMPLES", str(min(MAX_EXAMPLES, 15)))), 300)


@settings(max_examples=_TOTALS_EXAMPLES, deadline=None,
          derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(batches=_TOTALS_BATCHES, delay_h=st.sampled_from([1, 7]),
       idle_h=st.sampled_from([2, 10]), data=st.data())
def test_stateful_totals_restart_matches_model(spark, batches, delay_h,
                                               idle_h, data):
    from datastream_processing_demo_spark.streaming.stateful import (
        running_user_totals,
    )
    split = data.draw(st.integers(1, len(batches) - 1), label="split")
    root = tempfile.mkdtemp(prefix="totals_fuzz_")
    src_dir = os.path.join(root, "src")
    out_dir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src_dir)

    eid = 0

    def stage_batches(lo, hi):
        nonlocal eid
        for i in range(lo, hi):
            batch = batches[i]
            pdf = _events([h for _, h, _, _ in batch])
            pdf["user_id"] = [u for u, _, _, _ in batch]
            pdf["value"] = [float(v) for _, _, v, _ in batch]
            pdf["event_type"] = ["purchase" if p else "view"
                                 for _, _, _, p in batch]
            pdf["event_id"] = range(eid, eid + len(batch))
            eid += len(batch)
            p = os.path.join(src_dir, f"b{i:03d}.parquet")
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                           p, coerce_timestamps="us",
                           allow_truncated_timestamps=True)
            os.utime(p, (1_000_000 + 10 * i,) * 2)

    def log_batch(df, _bid):
        df.write.mode("append").parquet(out_dir)

    def run_once():
        src = (spark.readStream.schema(EVENTS)
               .option("maxFilesPerTrigger", 1).parquet(src_dir))
        q = (running_user_totals(src, watermark=f"{delay_h} hours",
                                 idle_timeout_ms=idle_h * 3_600_000)
             .writeStream.foreachBatch(log_batch)
             .option("checkpointLocation", ckpt)
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(timeout=120)
        q.stop()

    try:
        stage_batches(0, split)
        run_once()                 # first half, then killed
        stage_batches(split, len(batches))
        run_once()                 # restart from checkpoint
        rows = (spark.read.parquet(out_dir).collect()
                if os.path.exists(out_dir) else [])
        got = sorted((r["user_id"], r["n_events"],
                      int(round(r["total_value"] * 100)), r["n_purchases"])
                     for r in rows)
        want = _model_totals(batches, delay_h, idle_h, restart_at=split)
        assert got == want, (
            f"stateful-totals divergence: batches={batches!r} "
            f"delay={delay_h}h idle={idle_h}h split={split}\n"
            f"  spark emitted {got}\n  model {want}")
    finally:
        shutil.rmtree(root, ignore_errors=True)
