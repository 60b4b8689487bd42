"""Staged evaluator for the production-geometry PQ oracles (and the
composed sim_ann_recall mirror) at large SF.

Why: the registered _pq_oracle/_ivf_pq_oracle encode step ranks every
(vector, subspace) against every codeword with a row_number window —
at sf10 x 8x256 that materializes-and-sorts a 409M-row cross join
(200k x 8 subs x 256 codes), the same window-over-cross-join shape
whose 16-cell cousin OOM'd DuckDB in the r11 semdedup sweep. And
sim_ann_recall's mirror embeds EVERY method's full oracle in one
statement, multiplying the wall.

What this runner changes — and ONLY this; every expression is the same
text as the registered oracles' CTEs (plans/similarity.py _pq_oracle /
_ivf_pq_oracle / _ann_recall_oracle):

1. nearest-codeword picks computed as MIN({'l2': ..., 'cid': ...})
   hash aggregates instead of row_number windows — lexicographic
   struct MIN on (l2, code_id) is the same selection as ORDER BY l2,
   code_id ... rn = 1, streamed instead of materialized (the
   staged_semdedup_oracle trick, applied to PQ training assignment,
   final IVF assignment, and encoding).
2. training / encoding / serving staged through temp tables so each
   pipeline is bounded; serving (LUT joins + top-k rank) is unchanged
   SQL over the staged tables.
3. the recall stats computed from per-method temp tables — each method
   result is its REGISTERED standalone oracle (cheap methods) or the
   staged evaluator here (the two production-geometry PQ methods) —
   then the same COUNT/semi-join arithmetic as the registered mirror.

Equivalence is ASSERTED, not argued: --verify runs staged vs registered
at sf0.001 and sf0.01 for every lane before any large-SF verdict.

Usage:
    python tools/staged_pq_oracle.py --verify
    python tools/staged_pq_oracle.py --sf /tmp/spark_graft_sf10 \
        [--only sim_ann_pq_prod sim_ann_ivf_pq_prod sim_ann_recall]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from datastream_processing_demo_spark.catalog import TABLE_NAMES, table_path
from datastream_processing_demo_spark.plans.similarity import _l2_dot_form

N_QUERIES = 10
K = 5


def _connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    # bounded, spill-to-disk evaluation: the whole point of the staged
    # form is that no single pipeline needs the box's RAM — cap it so a
    # regression in a stage surfaces as spill/slowness, never as a
    # global OOM that takes concurrent work down with it. Half the
    # host's physical RAM: the Spark JVM this tool also runs needs the
    # rest.
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    con.execute(f"SET memory_limit='{phys // 2 // 2**20}MiB'")
    for t in TABLE_NAMES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
    return con


def staged_pq_topk(con: duckdb.DuckDBPyConnection, m_sub: int, k_codes: int,
                   sub_len: int, ivf: bool = False, n_cells: int = 16,
                   n_probe: int = 4, progress: bool = False):
    """Evaluate the (IVF-)PQ oracle in stages; returns a pandas frame
    with the registered output schema (query_id, neighbor_id, score,
    rank)."""
    t0 = time.time()

    def log(msg):
        if progress:
            print(f"  [{time.time()-t0:7.1f}s] {msg}", flush=True)

    con.execute("""CREATE OR REPLACE TEMP TABLE t_e AS
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings""")
    con.execute(f"""CREATE OR REPLACE TEMP TABLE t_subs AS
        SELECT vec_id, t.s,
               list_slice(v, t.s * {sub_len} + 1, (t.s + 1) * {sub_len}) AS sv
        FROM t_e CROSS JOIN (SELECT unnest(range({m_sub})) AS s) t""")
    log("corpus sliced")
    # per-subspace seeds -> one Lloyd round (MIN-struct assignment picks)
    con.execute(f"""CREATE OR REPLACE TEMP TABLE t_seeds AS
        WITH seed_ids AS (
            SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS code_id
            FROM (SELECT vec_id FROM t_e ORDER BY vec_id LIMIT {k_codes}))
        SELECT su.s, si.code_id, su.sv
        FROM t_subs su JOIN seed_ids si USING (vec_id)""")
    # assignment batched per (subspace, vec_id-residue): the unbatched
    # MIN-struct still pipes a corpus x k_codes list-carrying join in
    # one go, and DuckDB's memory accounting misses enough of those
    # intermediates that the sf10 x 8x256 run blew past its
    # memory_limit to a 100 GB OOM kill (measured r12). Batch keys
    # align with the GROUP BY keys, so every group lives entirely in
    # one INSERT and the union is the identical pick set.
    n_rows = con.execute("SELECT COUNT(*) FROM t_e").fetchone()[0]
    n_res = max(1, -(-n_rows // 25_000))
    con.execute("CREATE OR REPLACE TEMP TABLE t_a0 "
                "(vec_id BIGINT, s BIGINT, m STRUCT(l2 DOUBLE, cid BIGINT))")
    for s in range(m_sub):
        for r in range(n_res):
            con.execute(f"""INSERT INTO t_a0
                SELECT su.vec_id, su.s,
                       MIN({{'l2': {_l2_dot_form('su.sv', 'sd.sv')},
                             'cid': sd.code_id}}) AS m
                FROM t_subs su JOIN t_seeds sd ON su.s = sd.s
                WHERE su.s = {s} AND su.vec_id % {n_res} = {r}
                GROUP BY su.vec_id, su.s""")
    log(f"seed assignment done ({m_sub} x {n_res} batches)")
    con.execute("""CREATE OR REPLACE TEMP TABLE t_cvec AS
        WITH elem AS (
            SELECT su.s, a.m.cid AS code_id,
                   generate_subscripts(su.sv, 1) - 1 AS pos,
                   unnest(su.sv) AS x
            FROM t_a0 a JOIN t_subs su ON a.vec_id = su.vec_id
                                       AND a.s = su.s),
        cmean AS (
            SELECT s, code_id, pos,
                   CAST(SUM(CAST(ROUND(x * 1000000.0) AS BIGINT)) AS DOUBLE)
                       / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS m
            FROM elem GROUP BY s, code_id, pos)
        SELECT s, code_id, list(m ORDER BY pos) AS cm
        FROM cmean GROUP BY s, code_id""")
    log("codebooks done")
    # encoding batched the same way as the seed assignment (same
    # corpus x k_codes shape, same OOM failure mode unbatched)
    con.execute("CREATE OR REPLACE TEMP TABLE t_enc "
                "(vec_id BIGINT, s BIGINT, cid BIGINT)")
    for s in range(m_sub):
        for r in range(n_res):
            con.execute(f"""INSERT INTO t_enc
                SELECT su.vec_id, su.s,
                       MIN({{'l2': {_l2_dot_form('su.sv', 'c.cm')},
                             'cid': c.code_id}}).cid AS cid
                FROM t_subs su JOIN t_cvec c ON su.s = c.s
                WHERE su.s = {s} AND su.vec_id % {n_res} = {r}
                GROUP BY su.vec_id, su.s""")
    c_cols = ", ".join(
        f"MAX(CASE WHEN s = {s} THEN cid END) AS c{s}" for s in range(m_sub))
    con.execute(f"""CREATE OR REPLACE TEMP TABLE t_codes AS
        SELECT vec_id, {c_cols} FROM t_enc GROUP BY vec_id""")
    log(f"encoding done ({m_sub} x {n_res} batches)")
    con.execute(f"""CREATE OR REPLACE TEMP TABLE t_lut AS
        SELECT su.vec_id AS query_id, su.s, c.code_id,
               list_dot_product(su.sv, c.cm) AS ip
        FROM t_subs su JOIN t_cvec c ON su.s = c.s
        WHERE su.vec_id < {N_QUERIES}""")

    if not ivf:
        # serving folded STEPWISE through temp tables: handing the
        # optimizer eight materialized t_lut aliases at once invites a
        # lut x lut join order (shared only query_id -> k_codes^m blow-
        # up; measured as an unbounded spill at sf0.001). Each step is
        # one equi-join; acc + l.ip keeps the registered left-to-right
        # l0+l1+...+l{m-1} summation order bit-for-bit.
        con.execute("""CREATE OR REPLACE TEMP TABLE t_sc AS
            SELECT cd.*, l.query_id, l.ip AS acc
            FROM t_codes cd
            JOIN t_lut l ON l.s = 0 AND l.code_id = cd.c0""")
        for s in range(1, m_sub):
            con.execute(f"""CREATE OR REPLACE TEMP TABLE t_sc AS
                SELECT sc.* EXCLUDE (acc), sc.acc + l.ip AS acc
                FROM t_sc sc
                JOIN t_lut l ON l.s = {s} AND l.code_id = sc.c{s}
                            AND l.query_id = sc.query_id""")
        out = con.execute(f"""
            WITH scored AS (
                SELECT query_id, vec_id AS neighbor_id,
                       ROUND(acc, 6) AS score
                FROM t_sc WHERE query_id != vec_id),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id) AS rank
                FROM scored)
            SELECT query_id, neighbor_id, score, rank
            FROM ranked WHERE rank <= {K}""").fetchdf()
        log(f"serving done: {len(out)} rows")
        return out

    if ivf:
        con.execute(f"""CREATE OR REPLACE TEMP TABLE t_ivf_cvec AS
            WITH ivf_seeds AS (
                SELECT row_number() OVER (ORDER BY vec_id) AS cell_id,
                       v AS sv
                FROM (SELECT vec_id, v FROM t_e ORDER BY vec_id
                      LIMIT {n_cells})),
            a0 AS (
                SELECT e.vec_id,
                       MIN({{'l2': {_l2_dot_form('e.v', 's.sv')},
                             'cid': s.cell_id}}).cid AS cell_id
                FROM t_e e CROSS JOIN ivf_seeds s GROUP BY e.vec_id),
            elem AS (
                SELECT a0.cell_id, generate_subscripts(e.v, 1) - 1 AS pos,
                       unnest(e.v) AS x
                FROM a0 JOIN t_e e USING (vec_id)),
            cmean AS (
                SELECT cell_id, pos,
                       CAST(SUM(CAST(ROUND(x * 1000000.0) AS BIGINT))
                            AS DOUBLE)
                           / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS m
                FROM elem GROUP BY cell_id, pos)
            SELECT cell_id, list(m ORDER BY pos) AS cm
            FROM cmean GROUP BY cell_id""")
        # final assignments: rank ALL cells per vector (probes need
        # rn <= n_probe, members need rn = 1) — n_cells is small, so
        # the window here is corpus x 16, not corpus x k_codes
        con.execute(f"""CREATE OR REPLACE TEMP TABLE t_cassign AS
            SELECT e.vec_id, c.cell_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_l2_dot_form('e.v', 'c.cm')}, c.cell_id)
                       AS rn
            FROM t_e e CROSS JOIN t_ivf_cvec c""")
    log("ivf assignment done")
    # cell-pruned candidate set first, then the same stepwise LUT fold
    con.execute(f"""CREATE OR REPLACE TEMP TABLE t_sc AS
        SELECT cd.*, p.query_id, l.ip AS acc
        FROM t_codes cd
        JOIN (SELECT vec_id, cell_id FROM t_cassign WHERE rn = 1) cl
          ON cl.vec_id = cd.vec_id
        JOIN (SELECT vec_id AS query_id, cell_id FROM t_cassign
              WHERE vec_id < {N_QUERIES} AND rn <= {n_probe}) p
          ON p.cell_id = cl.cell_id
        JOIN t_lut l ON l.s = 0 AND l.code_id = cd.c0
                    AND l.query_id = p.query_id""")
    for s in range(1, m_sub):
        con.execute(f"""CREATE OR REPLACE TEMP TABLE t_sc AS
            SELECT sc.* EXCLUDE (acc), sc.acc + l.ip AS acc
            FROM t_sc sc
            JOIN t_lut l ON l.s = {s} AND l.code_id = sc.c{s}
                        AND l.query_id = sc.query_id""")
    out = con.execute(f"""
        WITH scored AS (
            SELECT query_id, vec_id AS neighbor_id,
                   ROUND(acc, 6) AS score
            FROM t_sc WHERE query_id != vec_id),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rank
            FROM scored)
        SELECT query_id, neighbor_id, score, rank
        FROM ranked WHERE rank <= {K}""").fetchdf()
    log(f"serving done: {len(out)} rows")
    return out


def staged_recall(con: duckdb.DuckDBPyConnection, progress: bool = False):
    """sim_ann_recall's mirror from per-method temp tables: cheap
    methods run their REGISTERED standalone oracles; the two
    production-geometry methods run the staged evaluator."""
    from datastream_processing_demo_spark.plans.registry import all_queries
    specs = all_queries()
    t0 = time.time()

    def log(msg):
        if progress:
            print(f"  [{time.time()-t0:7.1f}s] {msg}", flush=True)

    methods = [("bf", "sim_bruteforce_topk"), ("lsh", "sim_lsh_topk"),
               ("lsh2", "sim_lsh_topk_probe2"), ("ivf", "sim_ivf_topk"),
               ("pq", "sim_ann_pq"), ("ivf_pq", "sim_ann_ivf_pq")]
    for m, lane in methods:
        con.execute(f"CREATE OR REPLACE TEMP TABLE t_m_{m} AS "
                    + specs[lane].oracle)
        log(f"method {m} done")
    for m, kwargs in (("pq_prod", dict(ivf=False)),
                      ("ivf_pq_prod", dict(ivf=True))):
        df = staged_pq_topk(con, m_sub=8, k_codes=256, sub_len=8,
                            progress=progress, **kwargs)
        con.register("_staged_tmp", df)
        con.execute(f"CREATE OR REPLACE TEMP TABLE t_m_{m} AS "
                    "SELECT * FROM _staged_tmp")
        con.unregister("_staged_tmp")
        log(f"method {m} done (staged)")
    unions = "\nUNION ALL\n".join(f"""
        SELECT '{m}' AS method,
               (SELECT COUNT(*) FROM t_m_bf) AS n_true,
               (SELECT COUNT(*) FROM t_m_bf
                JOIN t_m_{m} USING (query_id, neighbor_id)) AS n_hits"""
                                  for m in ("lsh", "lsh2", "ivf", "pq",
                                            "ivf_pq", "pq_prod",
                                            "ivf_pq_prod"))
    return con.execute(f"""
        SELECT method, n_true, n_hits,
               ROUND(CAST(n_hits AS DOUBLE) / n_true, 6) AS recall
        FROM ({unions})""").fetchdf()


LANES = {
    "sim_ann_pq_prod": lambda con, progress: staged_pq_topk(
        con, m_sub=8, k_codes=256, sub_len=8, progress=progress),
    "sim_ann_ivf_pq_prod": lambda con, progress: staged_pq_topk(
        con, m_sub=8, k_codes=256, sub_len=8, ivf=True, progress=progress),
    "sim_ann_recall": lambda con, progress: staged_recall(con, progress),
}


def _verify_small(sf_dir: str) -> bool:
    from datastream_processing_demo_spark.plans.registry import all_queries
    from tools.selfcheck import compare
    ok = True
    specs = all_queries()
    con = _connect(sf_dir)
    for lane, fn in LANES.items():
        staged = fn(con, False)
        registered = con.execute(specs[lane].oracle).fetchdf()
        problems = compare(staged, registered)
        status = "OK" if not problems else f"MISMATCH: {problems}"
        print(f"verify {lane} at {sf_dir}: {status}", flush=True)
        ok = ok and not problems
    return ok


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/tmp/spark_graft_sf10")
    ap.add_argument("--only", nargs="*", default=list(LANES))
    ap.add_argument("--verify", action="store_true")
    args = ap.parse_args()

    if args.verify:
        ok = all(_verify_small(sf)
                 for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
        return 0 if ok else 1

    if not all(_verify_small(sf)
               for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01")):
        print("staged evaluator does not match the registered oracle; "
              "refusing the large-SF run")
        return 1

    from datastream_processing_demo_spark.plans.registry import all_queries
    from datastream_processing_demo_spark.session import (
        EngineConfig,
        get_session,
    )
    from tools.selfcheck import compare
    specs = all_queries()
    spark = get_session(EngineConfig(app_name="staged-pq-sweep"))
    con = _connect(args.sf)
    n_fail = 0
    for lane in args.only:
        t0 = time.time()
        spdf = specs[lane].spark(spark, args.sf).toPandas()
        t_spark = time.time() - t0
        print(f"{lane}: spark side {len(spdf)} rows [{t_spark:.1f}s]",
              flush=True)
        t0 = time.time()
        opdf = LANES[lane](con, True)
        t_oracle = time.time() - t0
        problems = compare(spdf, opdf)
        if problems:
            n_fail += 1
            print(f"FAIL {lane}: {problems}", flush=True)
        else:
            print(f"PASS {lane} ({len(spdf)} rows) "
                  f"[spark {t_spark:.1f}s, staged oracle {t_oracle:.1f}s]",
                  flush=True)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
