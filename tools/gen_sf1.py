"""Scale-rehearsal data generator: synthesize an sf1-shaped dataset
(10x sf0.1) under /tmp so per-query scaling slopes can be measured
instead of argued from plan shape.

NOT a correctness fixture — the driver's oracle gate stays on the real
/root/testdata parquet. This builds 10 key-offset replicas of every
sf0.1 table (region/nation stay single — they're fixed dimensions):

- relational tables: every key column shifted by `replica * 10_000_000`
  consistently across tables, so FK joins (lineitem⋈orders⋈customer,
  part/supplier) keep exactly the same per-replica match structure —
  join/agg work scales linearly by construction.
- events: event_id/user_id offset; ts kept, so each window holds 10x
  rows (the honest streaming-scale axis).
- documents: every token salted with the replica tag (`tok#r3`), making
  replicas DISJOINT corpora of identical shape — dedup/similarity pair
  counts scale ~linearly (replicating identical text would grow true
  near-dup pairs quadratically and poison the slope measurement).
- embeddings: vec_id offset; vectors np.roll'ed by replica (norms and
  within-replica geometry preserved bit-for-bit, cross-replica cosines
  decorrelated) — ANN candidate structure scales linearly.

Usage: python tools/gen_sf1.py [--src /root/testdata/sf0.1]
                               [--out /tmp/spark_graft_sf1] [--copies 10]
Then:  python tools/selfcheck.py --sf /tmp/spark_graft_sf1
       (or point a tools/staged_*_oracle.py sweep's --sf at a --copies 100
       build, e.g. /tmp/spark_graft_sf10)
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_STRIDE = 10_000_000

# key columns to offset, per table (consistent stride keeps FKs aligned)
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY_AS_IS = ("region", "nation")


def _salt_tokens(texts: "np.ndarray", r: int) -> list[str]:
    tag = f"#r{r}"
    return [" ".join(tok + tag for tok in t.split(" ")) for t in texts]


# --- Zipf skew mode (VERDICT r6 task #2) --------------------------------
# The uniform replicas are disjoint by construction, so no rehearsal has
# stressed a HOT key: a hot (band, key) LSH bucket, a corpus-wide
# repeated document, a dominant SemDeDup cell, a skewed join/agg key.
# `--skew zipf` redirects a fraction of rows onto Zipf-α-ranked hot
# values AFTER replication (so the hot keys are global, crossing the
# replica salting). Fractions are sized so the hottest value is a real
# stressor (10^4-10^5 rows on one key; 10^2 identical documents in one
# bucket) without turning any verified-pair stage quadratic-unbounded.

SKEW_KEYS = {
    # table -> [(column, fraction of rows redirected)]
    "orders": [("o_custkey", 0.30)],
    "lineitem": [("l_orderkey", 0.20), ("l_partkey", 0.20),
                 ("l_suppkey", 0.20)],
    "events": [("user_id", 0.30)],
}
SKEW_DOC_FRAC = 0.05        # documents whose text becomes a hot duplicate
SKEW_EMB_FRAC = 0.10        # embeddings pulled into one dominant cell
SKEW_POOL = 1000            # number of distinct hot values (Zipf ranks)
SKEW_SEED = 20260815


def _zipf_pick(rng: "np.random.Generator", candidates: "np.ndarray",
               size: int, alpha: float) -> "np.ndarray":
    """Draw `size` values from the first SKEW_POOL candidates with
    P(rank k) ∝ 1/k^alpha — rank 1 takes ~13% of redirected rows at
    alpha=1.1/K=1000, giving one genuinely hot key."""
    pool = candidates[:SKEW_POOL]
    p = 1.0 / np.arange(1, len(pool) + 1) ** alpha
    return pool[rng.choice(len(pool), size=size, p=p / p.sum())]


def _skew_state(t: str, pdf) -> dict:
    """Skew inputs derived from REPLICA 0 only (streaming-safe).

    The old whole-table spelling sorted unique values and took the first
    SKEW_POOL — replica 0 holds the globally smallest keys, so the hot
    pool is identical; replica-0 keys/texts exist in the final table, so
    FK integrity and the cross-replica hot-duplicate property are
    preserved without ever materializing the concatenated table."""
    import pandas as pd
    st: dict = {}
    for col, frac in SKEW_KEYS.get(t, ()):
        st[col] = np.sort(pd.unique(pdf[col].to_numpy()))
    if t == "documents":
        st["hot_texts"] = pdf["text"].to_numpy()[:SKEW_POOL].copy()
    if t == "embeddings":
        st["hot_vec"] = np.asarray(pdf["embedding"].iloc[0],
                                   dtype=np.float64)
    return st


def _apply_skew(big, t: str, rng, alpha: float, st: dict,
                row0: int) -> "object":
    """Redirect a fraction of this CHUNK's rows onto the global hot pool.
    `row0` = the chunk's offset in the concatenated table, so the
    embedding perturbation pattern matches the old whole-table spelling."""
    n = len(big)
    stats = []
    for col, frac in SKEW_KEYS.get(t, ()):
        mask = rng.random(n) < frac
        # replica-0 values only — FK integrity across tables is preserved
        big.loc[mask, col] = _zipf_pick(rng, st[col], int(mask.sum()), alpha)
        stats.append(f"{col}:{mask.sum()}")
    if t == "documents":
        mask = rng.random(n) < SKEW_DOC_FRAC
        hot_rank = rng.choice(SKEW_POOL, size=int(mask.sum()),
                              p=(lambda p: p / p.sum())(
                                  1.0 / np.arange(1, SKEW_POOL + 1) ** alpha))
        # hot texts = replica-0 (unsalted) texts, so the duplicates CROSS
        # the replica salting — a corpus-wide repeated document
        big.loc[mask, "text"] = st["hot_texts"][hot_rank]
        big["n_chars"] = big["text"].str.len()
        stats.append(f"text:{mask.sum()}")
    if t == "embeddings":
        mask = rng.random(n) < SKEW_EMB_FRAC
        idx = np.flatnonzero(mask)
        hot = st["hot_vec"]
        dim = len(hot)
        # tight deterministic cloud around one vector: every perturbed
        # row lands in the same k-means cell (dominant cell) and every
        # within-cloud cosine clears any sane dup threshold — the
        # union-find and per-cell gram stage see one giant block
        emb = big["embedding"].to_numpy()
        for j, i in enumerate(idx):
            v = hot.copy()
            v[(row0 + j) % dim] += 1e-3 * (1 + (row0 + j) % 97)
            emb[i] = v.tolist()
        big["embedding"] = emb
        stats.append(f"emb:{len(idx)}")
    if stats:
        print(f"  skew {t}: {' '.join(stats)}")
    return big


def replicate(src: str, out: str, copies: int,
              skew: str = "none", alpha: float = 1.1) -> None:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(SKEW_SEED)
    for t in COPY_AS_IS:
        pq.write_table(pq.read_table(os.path.join(src, f"{t}.parquet")),
                       os.path.join(out, f"{t}.parquet"))
        print(f"{t}: copied")
    for t, keys in KEY_COLS.items():
        base = pq.read_table(os.path.join(src, f"{t}.parquet"))
        pdf = base.to_pandas()
        st = _skew_state(t, pdf) if skew == "zipf" else {}
        # stream one replica per row group: memory stays O(one replica)
        # regardless of --copies, which is what makes sf10 (100 copies,
        # 60M-row lineitem) generable on this host
        writer = pq.ParquetWriter(os.path.join(out, f"{t}.parquet"),
                                  base.schema)
        row0 = 0
        for r in range(copies):
            c = pdf.copy()
            for k in keys:
                c[k] = c[k] + r * KEY_STRIDE
            if t == "documents" and r > 0:
                c["text"] = _salt_tokens(c["text"].to_numpy(), r)
                c["n_chars"] = c["text"].str.len()
            if t == "part" and r > 0:
                # suffix of 4 identical replica-specific chars: pairwise
                # suffix edit distance 4 > the fuzzy-match bound (3), so
                # cross-replica name pairs can't match and the TRUE
                # fuzzy-join output scales linearly (unsalted names made
                # it quadratic — every name recurs in all 10 replicas).
                # Repetition code: each base-26 digit of r repeated 4x,
                # so ANY two replica tags differ in a whole 4-run and
                # pairwise edit distance stays >= 4 past 26 replicas.
                tag = " " + "".join(
                    chr(ord("a") + (r // 26**i) % 26) * 4 for i in range(2))
                c["p_name"] = c["p_name"] + tag
            if t == "embeddings" and r > 0:
                c["embedding"] = [np.roll(np.asarray(v), r).tolist()
                                  for v in c["embedding"]]
            if skew == "zipf":
                c = _apply_skew(c, t, rng, alpha, st, row0)
            writer.write_table(pa.Table.from_pandas(
                c, preserve_index=False, schema=base.schema))
            row0 += len(c)
        writer.close()
        print(f"{t}: {len(pdf)} -> {row0} rows x{copies}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/spark_graft_sf1")
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--skew", choices=["none", "zipf"], default="none",
                    help="zipf: redirect a fraction of keys/texts/vectors "
                         "onto Zipf-ranked hot values (skew rehearsal)")
    ap.add_argument("--alpha", type=float, default=1.1)
    args = ap.parse_args()
    replicate(args.src, args.out, args.copies, args.skew, args.alpha)


if __name__ == "__main__":
    main()
