"""Output checks. Each returns (attempted, failed, notes): `attempted`
counts expected outputs, `failed` those missing or wrong, so
failed / attempted is the workload's failed fraction.
"""

from __future__ import annotations

import glob
import json
import math
import os

import numpy as np

from perfbench.datagen import seq_of_doc


def check_bulk(expected_seqs, docs: list[str]) -> dict:
    """Bulk endpoint got exactly the expected sequence numbers.
    A missing or unexpected one fails; a repeat is counted, not failed."""
    got = np.array([seq_of_doc(json.loads(d)["doc"]) for d in docs],
                   dtype=np.int64)
    uniq, counts = np.unique(got, return_counts=True)
    exp = np.asarray(expected_seqs, dtype=np.int64)
    missing = np.setdiff1d(exp, uniq, assume_unique=True)
    extra = np.setdiff1d(uniq, exp, assume_unique=True)
    return {"attempted": int(exp.size),
            "failed": int(missing.size + extra.size),
            "missing": int(missing.size), "extra": int(extra.size),
            "dup_docs": int((counts - 1).sum()), "seqs": got}


def check_count(name: str, expected: int, got: int) -> dict:
    return {"attempted": int(expected), "failed": abs(int(expected) - got),
            "check": name, "expected": int(expected), "got": int(got)}


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq
    files = glob.glob(os.path.join(path, "*.parquet"))
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def spool_n(*dirs: str) -> tuple[int, list[float]]:
    """Sum of `n` over metric spool records, and their avg delays."""
    total, avgs = 0, []
    for d in dirs:
        for f in glob.glob(os.path.join(d, "metric-*.json")):
            with open(f, encoding="utf-8") as fh:
                rec = json.load(fh)
            total += int(rec["n"])
            avgs.append(float(rec["avg_delay_ms"]))
    return total, avgs


# --- windows -------------------------------------------------------------------

EXPECTED_WINDOWS_SQL = """
    SELECT CAST(epoch(time_bucket(INTERVAL 6 HOUR, ts)) AS BIGINT), user_id,
           COUNT(*) AS n
    FROM (SELECT DISTINCT event_id, ts, user_id FROM read_parquet(?))
    GROUP BY 1, 2
"""

EMITTED_WINDOWS_SQL = """
    SELECT CAST(epoch(window_start) AS BIGINT), user_id,
           arg_max(n, batch_id) AS n
    FROM read_parquet(?) GROUP BY 1, 2
"""


def _duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads TO 2")
    return con


def expected_windows(events_glob: str) -> dict:
    con = _duck()
    try:
        rows = con.execute(EXPECTED_WINDOWS_SQL, [events_glob]).fetchall()
        n_ids = con.execute(
            "SELECT COUNT(DISTINCT event_id) FROM read_parquet(?)",
            [events_glob]).fetchone()[0]
    finally:
        con.close()
    return {"counts": {f"{w}|{u}": int(n) for w, u, n in rows},
            "distinct_ids": int(n_ids)}


def check_windows(expected: dict, out_dir: str) -> dict:
    """Each emitted (window, user) count, taken from its latest update,
    equals the exact count over the deduplicated input."""
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    got: dict[str, int] = {}
    if files:
        con = _duck()
        try:
            for w, u, n in con.execute(
                    EMITTED_WINDOWS_SQL,
                    [os.path.join(out_dir, "*.parquet")]).fetchall():
                got[f"{w}|{u}"] = int(n)
        finally:
            con.close()
    exp = expected["counts"]
    wrong = sum(1 for k, v in exp.items() if got.get(k) != v)
    extra = sum(1 for k in got if k not in exp)
    return {"attempted": len(exp), "failed": wrong + extra,
            "wrong_or_missing": wrong, "extra": extra}


# --- batch results ---------------------------------------------------------------

def _canon_rows(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)

    def cell(v):
        if v is None:
            return ("", 0)
        if isinstance(v, float):
            if math.isnan(v):
                return ("", 0)
            return ("f", round(v, 9))
        if hasattr(v, "isoformat"):
            return ("t", v.isoformat())
        if isinstance(v, (np.integer, int, bool, np.bool_)):
            return ("f", round(float(v), 9))
        if isinstance(v, np.floating):
            return ("f", round(float(v), 9))
        return ("s", str(v))

    return sorted(tuple(cell(v) for v in row)
                  for row in pdf[cols].itertuples(index=False, name=None))


def results_match(spark_pdf, oracle_pdf) -> bool:
    """Order-insensitive equality of two result frames: same column
    names, same multiset of rows (floats compared to 9 decimals)."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return False
    if len(spark_pdf) != len(oracle_pdf):
        return False
    return _canon_rows(spark_pdf) == _canon_rows(oracle_pdf)


def oracle_results(corpus_dir: str, queries: tuple[str, ...]) -> dict:
    """Run each query's registered DuckDB oracle over the corpus."""
    from datastream_processing_demo_spark.plans.registry import all_queries
    specs = all_queries()
    con = _duck()
    try:
        for f in glob.glob(os.path.join(corpus_dir, "*.parquet")):
            name = os.path.basename(f)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS "
                        f"SELECT * FROM read_parquet('{f}')")
        return {q: con.execute(specs[q].oracle).fetchdf() for q in queries}
    finally:
        con.close()
