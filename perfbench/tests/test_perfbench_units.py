"""Tests of the benchmark's own helpers. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import http.client
import json
import os
import sys
import time

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import checks, datagen  # noqa: E402
from perfbench.common import (  # noqa: E402
    PROBE_REF_MS,
    HostProbe,
    batch_cpu_s,
    percentile,
    phase_ms,
    progress_end,
    progress_start,
    probe_ms,
    reference_cpu_s,
    segment_cpu_s,
    self_times,
    tail_percentile,
)
from perfbench.loadgen import BulkEndpoint, open_loop  # noqa: E402


# --- percentiles -----------------------------------------------------------------

def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("n,expected", [
    (9, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0),
    (9999, 99.0), (10000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    p = tail_percentile(n)
    assert p == expected
    if p is not None:
        assert n * (100 - p) / 100 >= 10 - 1e-9


# --- load generator -------------------------------------------------------------

class FakeClock:
    def __init__(self, t: float) -> None:
        self.t = t

    def __call__(self) -> float:
        return self.t

    def sleep(self, s: float) -> None:
        self.t += s


def test_open_loop_keeps_schedule_through_a_stall():
    clock = FakeClock(100.0)
    batches = []

    def send(lo, hi, due):
        batches.append((lo, hi, due.copy()))
        if lo == 0:
            clock.t += 0.5          # the first send stalls for 500 ms

    open_loop(n=1000, rate=1000.0, tick_s=0.01, t0=100.0, send=send,
              clock=clock, sleep=clock.sleep)
    # every message sent exactly once, in order
    sent = np.concatenate([np.arange(lo, hi) for lo, hi, _ in batches])
    assert sent.tolist() == list(range(1000))
    # due times follow the schedule, whatever the stall did
    due = np.concatenate([d for _, _, d in batches])
    assert np.allclose(due, 100.0 + np.arange(1000) / 1000.0)
    # the stall made the next batch bigger instead of slowing the clock
    sizes = [hi - lo for lo, hi, _ in batches]
    assert sizes[1] >= 490
    assert max(sizes[2:]) <= 11
    assert clock.t < 100.0 + 1.0 + 0.02


def test_messages_stamp_due_time_and_sequence():
    plan = datagen.MessagePlan(seed=5, n=5000)
    again = datagen.MessagePlan(seed=5, n=5000)
    for seq in range(0, 5000, 37):
        msg = plan.message(seq, 1_700_000_123_456)
        assert msg == again.message(seq, 1_700_000_123_456)
        kind = plan.kind[seq]
        module = msg[:16].strip()
        assert module == ("session" if plan.is_session[seq] else "other")
        assert msg[16:32].strip() == "1700000123456"
        payload = msg[64:]
        if kind == datagen.INVALID_LEN:
            assert len(msg) == 64
        elif kind == datagen.ERROR_PAYLOAD:
            assert payload == "error"
        else:
            assert datagen.seq_of_doc(payload) == seq
            json.loads(payload)


def test_message_mix_follows_the_reference_shares():
    plan = datagen.MessagePlan(seed=1, n=200_000)
    assert abs((~plan.is_session).mean() - 1 / 3) < 0.01
    assert abs((plan.kind == datagen.INVALID_LEN).mean() - 1 / 97) < 0.002
    assert abs((plan.kind == datagen.ERROR_PAYLOAD).mean() - 1 / 101) < 0.002
    exp = plan.expected(1000)
    s, k = plan.is_session[:1000], plan.kind[:1000]
    assert exp["main_rows"] == 1000
    assert len(exp["bulk_seqs"]) == int(
        (s & (k == datagen.NORMAL)).sum())
    assert exp["metric_n"] == int((s & (k != datagen.INVALID_LEN)).sum())


def test_endpoint_records_posts_and_caps_connections():
    ep = BulkEndpoint(max_conns=2)
    ep.start()
    conns = []
    try:
        for _ in range(2):
            c = http.client.HTTPConnection("127.0.0.1", ep.port, timeout=5)
            c.request("POST", "/bulk", body=b'{"a": 1}\n{"b": 2}\n')
            assert c.getresponse().read() == b"{}"
            conns.append(c)
        # keep-alive: a second POST on the same connection
        conns[0].request("POST", "/bulk", body=b'{"c": 3}\n')
        assert conns[0].getresponse().status == 200
        third = http.client.HTTPConnection("127.0.0.1", ep.port, timeout=5)
        with pytest.raises((http.client.HTTPException, OSError)):
            third.request("POST", "/bulk", body=b"{}\n")
            third.getresponse()
        third.close()
    finally:
        for c in conns:
            c.close()
        ep.stop()
    assert ep.received_lines == 5
    assert sorted(cid for _, cid, _, _ in ep.posts) == [1, 1, 2]
    assert ep.opened == 2 and ep.refused == 1


# --- output checks --------------------------------------------------------------

def _docs(seqs):
    return [json.dumps({"_id": f"0-0-{i}", "doc": f'{{"seq": {s}, "u": 1}}'})
            for i, s in enumerate(seqs)]


def test_bulk_check_exact_set_passes():
    r = checks.check_bulk([1, 2, 5], _docs([5, 1, 2]))
    assert (r["attempted"], r["failed"], r["dup_docs"]) == (3, 0, 0)


def test_bulk_check_catches_missing_doc():
    r = checks.check_bulk([1, 2, 5], _docs([1, 5]))
    assert r["failed"] == 1 and r["missing"] == 1


def test_bulk_check_catches_extra_doc():
    r = checks.check_bulk([1, 2], _docs([1, 2, 9]))
    assert r["failed"] == 1 and r["extra"] == 1


def test_bulk_check_counts_duplicates_without_failing():
    r = checks.check_bulk([1, 2], _docs([1, 2, 2, 2]))
    assert r["failed"] == 0 and r["dup_docs"] == 2


def test_count_check():
    assert checks.check_count("rows", 10, 10)["failed"] == 0
    assert checks.check_count("rows", 10, 7)["failed"] == 3
    assert checks.check_count("rows", 10, 12)["failed"] == 2


def test_results_match_ignores_order_not_values():
    a = pd.DataFrame({"k": ["x", "y"], "v": [1.0, 2.5]})
    b = pd.DataFrame({"v": [2.5, 1.0], "k": ["y", "x"]})
    assert checks.results_match(a, b)
    assert not checks.results_match(a, b.assign(v=[2.5, 1.5]))
    assert not checks.results_match(a, b.iloc[:1])
    assert not checks.results_match(a, b.rename(columns={"v": "w"}))


# --- progress and spans ---------------------------------------------------------

PROGRESS = {
    "id": "q", "batchId": 3, "numInputRows": 2500,
    "timestamp": "2024-01-01T00:00:10.250Z",
    "durationMs": {"addBatch": 900, "latestOffset": 2, "queryPlanning": 15,
                   "walCommit": 40, "commitOffsets": 35,
                   "triggerExecution": 1000},
}


def test_progress_phases_parse():
    assert progress_start(PROGRESS) == pytest.approx(1704067210.25)
    assert progress_end(PROGRESS) == pytest.approx(1704067211.25)
    assert phase_ms([PROGRESS], "addBatch") == [900.0]
    assert phase_ms([PROGRESS, {"durationMs": {}}], "walCommit") == [40.0,
                                                                     0.0]


def test_batch_cpu_from_marks_at_batch_ends():
    # batch 3's end was not seen: neither 2->4 nor anything across it
    # counts as one batch
    marks = [[0, 10.0], [1, 12.5], [2, 18.0], [4, 30.0], [5, 36.5]]
    assert batch_cpu_s(marks) == pytest.approx([2.5, 5.5, 6.5])
    assert batch_cpu_s(marks[:1]) == []


def test_self_times_subtract_covered_child_time():
    spans = [
        {"name": "batch", "start": 0.0, "end": 10.0, "parent": None,
         "id": 1},
        {"name": "sink.a", "start": 1.0, "end": 4.0, "parent": "batch",
         "id": 1},
        {"name": "sink.b", "start": 3.0, "end": 6.0, "parent": "batch",
         "id": 1},
        # another unit of work: not a child of batch 1
        {"name": "sink.a", "start": 2.0, "end": 9.0, "parent": "batch",
         "id": 2},
    ]
    st = self_times(spans)
    assert st["batch"] == pytest.approx(5.0)      # 10 - union(1..6)
    assert st["sink.a"] == pytest.approx(3.0 + 7.0)
    assert st["sink.b"] == pytest.approx(3.0)


# --- host speed -----------------------------------------------------------------

def test_reference_cpu_scales_each_segment_by_its_own_probe_time():
    # the host ran at reference speed during the first segment and at
    # half speed (probe loop twice as long) during the second
    r = PROBE_REF_MS
    samples = [(0.5, r), (1.5, r), (10.2, 2 * r), (10.8, 2 * r),
               (20.0, 7 * r)]
    segments = [[0.0, 100.0, 2.0, 104.0], [10.0, 104.0, 11.0, 112.0]]
    assert segment_cpu_s(segments) == pytest.approx(12.0)
    assert reference_cpu_s(segments, samples) == pytest.approx(4.0 + 4.0)
    assert probe_ms(samples, 10.0, 11.0) == pytest.approx(2 * r)


def test_probe_window_without_samples_falls_back_to_all():
    samples = [(0.0, 3.0), (5.0, 5.0)]
    assert probe_ms(samples, 1.0, 2.0) == pytest.approx(4.0)


def test_host_probe_samples_until_stopped():
    probe = HostProbe(interval_s=0.01).start()
    deadline = time.time() + 5
    while len(probe.samples) < 3 and time.time() < deadline:
        time.sleep(0.01)
    probe.stop()
    n = len(probe.samples)
    assert n >= 3 and all(ms > 0 for _, ms in probe.samples)
    time.sleep(0.05)
    assert len(probe.samples) == n
