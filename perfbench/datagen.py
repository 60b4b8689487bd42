"""Seeded input generators. The same seed always gives the same inputs;
the program under test only ever sees what these functions produce.

- Messages follow the reference's fixed-width layout (module name,
  send-time millis, 32 reserved bytes, payload tail) and the mix of the
  repository's own generator (`sources/message_gen.py`): one message in
  three from the `other` module, one in 97 structurally invalid (length
  64) and one in 101 with the literal payload `error` (dropped by the
  bulk sink). Here the shares are drawn from the seed rather than taken
  from the index. The payload carries the sequence number, so every bulk
  doc maps back to the message that produced it.
- Events are the `events`-shaped rows of the state workload: Zipf users,
  about 10% replayed duplicate ids, time-ordered within the stream.
- The batch corpus writes the tables the batch query mix reads.
"""

from __future__ import annotations

import os

import numpy as np

SESSION, OTHER = "session", "other"

# message kinds
NORMAL, INVALID_LEN, ERROR_PAYLOAD = 0, 1, 2


class MessagePlan:
    """Per-sequence-number module and kind, drawn once from the seed."""

    def __init__(self, seed: int, n: int) -> None:
        rng = np.random.default_rng([seed, 1])
        self.n = n
        # message_gen.py: i % 3 == 0 -> other, i % 97 == 0 -> invalid
        # length, i % 101 == 0 -> error payload
        self.is_session = rng.random(n) >= 1.0 / 3.0
        u = rng.random(n)
        kind = np.full(n, NORMAL, dtype=np.int8)
        kind[u < 1 / 97] = INVALID_LEN
        kind[(u >= 1 / 97) & (u < 1 / 97 + 1 / 101)] = ERROR_PAYLOAD
        self.kind = kind
        self.user = rng.integers(0, 50_000, n)

    def message(self, seq: int, send_ms: int) -> str:
        module = SESSION if self.is_session[seq] else OTHER
        kind = self.kind[seq]
        if kind == INVALID_LEN:
            payload = ""
        elif kind == ERROR_PAYLOAD:
            payload = "error"
        else:
            payload = (f'{{"seq": {seq}, "user": {self.user[seq]}, '
                       f'"page": "/p/{seq % 997}", "ok": true}}')
        return f"{module:<16}{send_ms:<16}{' ' * 32}{payload}"

    def expected(self, n_sent: int) -> dict:
        """What the pipeline must deliver for sequence numbers [0, n)."""
        s = self.is_session[:n_sent]
        k = self.kind[:n_sent]
        bulk = np.flatnonzero(s & (k == NORMAL))
        metric_n = int(np.count_nonzero(s & (k != INVALID_LEN)))
        return {"bulk_seqs": bulk, "metric_n": metric_n,
                "main_rows": n_sent}


def seq_of_doc(doc: str) -> int:
    """Sequence number of a bulk doc (the payload written above)."""
    head = doc[:24]
    return int(head[head.index(":") + 1:head.index(",")])


# --- events for the state workload -----------------------------------------

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def events_table(seed: int, n_unique: int, span_hours: float,
                 n_users: int, dup_share: float = 0.10):
    """pyarrow Table of events in stream order: `n_unique` distinct ids
    spread evenly over `span_hours`, plus `dup_share` replays of earlier
    ids (identical rows) arriving shortly after their original."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 2])
    span_us = int(span_hours * 3600 * 1_000_000)
    ts = EPOCH_US + np.sort(rng.integers(0, span_us, n_unique))
    # Zipf users, folded into the id range
    users = (rng.zipf(1.3, n_unique) - 1) % n_users
    etype = rng.integers(0, len(EVENT_TYPES), n_unique)
    value = np.round(rng.random(n_unique) * 500.0, 2)
    ids = np.arange(n_unique, dtype=np.int64)
    n_dup = int(n_unique * dup_share)
    src = np.sort(rng.integers(0, n_unique, n_dup))
    # a replay lands up to ~2000 positions after its original
    pos = np.minimum(src + rng.integers(1, 2000, n_dup), n_unique - 1)
    order_key = np.concatenate([ids.astype(np.float64),
                                pos + 0.5 + rng.random(n_dup) * 0.4])
    rows = np.concatenate([ids, src])[np.argsort(order_key, kind="stable")]
    et = np.array(EVENT_TYPES, dtype=object)[etype[rows]]
    return pa.table({
        "event_id": pa.array(rows, pa.int64()),
        "ts": pa.array(ts[rows], pa.timestamp("us")),
        "user_id": pa.array(users[rows].astype(np.int64), pa.int64()),
        "event_type": pa.array(et, pa.string()),
        "value": pa.array(value[rows], pa.float64()),
        "props": pa.array([f'{{"k": {int(i) % 100}}}' for i in rows],
                          pa.string()),
    })


def write_event_files(table, out_dir: str, n_files: int) -> None:
    """Split the stream into `n_files` time-ordered parquet files."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        tmp = os.path.join(out_dir, f".part-{i:04d}.tmp")
        pq.write_table(part, tmp)
        os.replace(tmp, os.path.join(out_dir, f"part-{i:04d}.parquet"))


# --- batch corpus -------------------------------------------------------------

_MKT = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIO = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def write_corpus(seed: int, out_dir: str, n_lineitem: int,
                 n_vecs: int) -> dict[str, int]:
    """Write lineitem/orders/customer/embeddings parquet files shaped like
    the repository's test tables; returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_orders = max(10, n_lineitem // 4)
    n_cust = max(10, n_orders // 10)
    day_ms = 86_400_000
    base_ms = 694_224_000_000  # 1992-01-01

    cust = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.random(n_cust) * 10000 - 999, 2)),
        "c_mktsegment": pa.array(
            np.array(_MKT, dtype=object)[rng.integers(0, 5, n_cust)]),
    })
    o_dates = base_ms + rng.integers(0, 2400, n_orders) * day_ms
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(
            np.array(("O", "F", "P"), dtype=object)[
                rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(
            np.round(rng.random(n_orders) * 400000 + 1000, 2)),
        "o_orderdate": pa.array(o_dates, pa.timestamp("ms")),
        "o_orderpriority": pa.array(
            np.array(_PRIO, dtype=object)[rng.integers(0, 5, n_orders)]),
    })
    l_order = rng.integers(0, n_orders, n_lineitem)
    ship = o_dates[l_order] + rng.integers(1, 120, n_lineitem) * day_ms
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20000, n_lineitem), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n_lineitem), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lineitem), pa.int32()),
        "l_quantity": pa.array(
            rng.integers(1, 51, n_lineitem).astype(np.float64)),
        "l_extendedprice": pa.array(
            np.round(rng.random(n_lineitem) * 100000 + 900, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_lineitem) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lineitem) / 100.0),
        "l_returnflag": pa.array(
            np.array(("A", "N", "R"), dtype=object)[
                rng.integers(0, 3, n_lineitem)]),
        "l_linestatus": pa.array(
            np.array(("O", "F"), dtype=object)[
                rng.integers(0, 2, n_lineitem)]),
        "l_shipdate": pa.array(ship, pa.timestamp("ms")),
    })

    # embeddings: 10 labelled clusters in 64 dims
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)) \
        .astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    tables = {"customer": cust, "orders": orders, "lineitem": lineitem,
              "embeddings": emb}
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tab.num_rows for name, tab in tables.items()}
