"""Product-quantization ANN (operators/similarity.py pq_*).

The oracle gate proves bit-exactness of training/encoding/serving; these
pin the operator-level contracts: codebook geometry, code range, and the
ADC approximation's recall against the exact inner-product ranking on
the fixture corpus.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from datastream_processing_demo_spark.catalog import load_table
from datastream_processing_demo_spark.operators.similarity import (
    dot_col,
    pq_codebooks,
    pq_codes,
    pq_topk,
)

SF = "/root/testdata/sf0.01"


def test_codebook_geometry_and_code_range(spark):
    emb = load_table(spark, SF, "embeddings")
    books = pq_codebooks(emb)
    assert [s for s, _ in books] == [0, 1, 2, 3]
    for _, cent in books:
        assert len(cent) == 16
        assert all(len(vec) == 16 for _, vec in cent)
        assert [cid for cid, _ in cent] == sorted(cid for cid, _ in cent)
    codes = pq_codes(emb, books)
    stats = codes.agg(
        *[F.min(f"c{s}").alias(f"lo{s}") for s in range(4)],
        *[F.max(f"c{s}").alias(f"hi{s}") for s in range(4)],
        F.count(F.lit(1)).alias("n")).collect()[0]
    assert stats["n"] == emb.count()
    for s in range(4):
        assert 1 <= stats[f"lo{s}"] and stats[f"hi{s}"] <= 16


def test_codebook_training_is_one_collect(spark):
    """Training collects the corpus once and slices it per subspace, so
    the 8x256 books run no more Spark jobs than the 4x16 ones."""
    emb = load_table(spark, SF, "embeddings")
    sc = spark.sparkContext

    def jobs(group, **geometry):
        sc.setJobGroup(group, group)
        try:
            pq_codebooks(emb, **geometry)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    demo = jobs("pq_codebooks_4x16")
    prod = jobs("pq_codebooks_8x256", m_sub=8, k_codes=256)
    assert 1 <= demo and prod <= demo, (demo, prod)


def test_adc_recall_against_exact_inner_product(spark):
    """PQ is lossy by design, and the synthetic fixture is its worst
    case: i.i.d.-random 64-dim vectors have no low-dimensional
    structure for the 16-dim subquantizers to exploit, so quantization
    error is data-bound, not codebook-bound (measured: recall@5 0.30 at
    16 codes, 0.26 at 64 — more codes don't help; top5-in-exact-top20
    0.58/0.64). Real embedding corpora cluster on low-dimensional
    manifolds where PQ recall is far higher; the standard mitigations
    (OPQ rotation, IVF-PQ residual encoding) address exactly this.
    Contract: floors below the deterministic measured values, so only a
    real regression in training/encoding/serving trips them."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    approx = pq_topk(emb, queries, pq_codebooks(emb), k=5)
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_vec"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("c_vec"))
    w = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), "neighbor_id")
    exact = (c.join(F.broadcast(q),
                    F.col("query_id") != F.col("neighbor_id"))
             .withColumn("score", F.round(dot_col("q_vec", "c_vec"), 6))
             .withColumn("rank", F.row_number().over(w))
             .filter(F.col("rank") <= 5))
    exact20 = (c.join(F.broadcast(q),
                      F.col("query_id") != F.col("neighbor_id"))
               .withColumn("score", F.round(dot_col("q_vec", "c_vec"), 6))
               .withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= 20))
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    e20 = {(r.query_id, r.neighbor_id) for r in exact20.collect()}
    assert len(a & e) / len(e) >= 0.2, "ADC recall@5 collapsed"
    assert len(a & e20) / len(a) >= 0.4, "ADC top5 left the exact top20"


def test_pq_survives_emptied_seed_cell(spark):
    """Regression (r10 sf1-zipf sweep find): two identical vectors among
    the k lowest ids give one subspace two identical seeds; every member
    tiebreaks to the lower code id, the upper codeword gets no members
    and vanishes from the refined codebook — the LUT lookup must handle
    the id gap, not index positionally."""
    import random

    rng = random.Random(3)
    rows = []
    for vid in range(40):
        vec = [rng.uniform(-1, 1) for _ in range(64)]
        rows.append((vid, vec))
    rows[1] = (1, list(rows[0][1]))  # vec 1 duplicates vec 0: seeds collide
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_codebooks(emb)
    assert any(len(cent) < 16 for _, cent in books), \
        "fixture no longer empties a seed cell — rebuild it"
    out = pq_topk(emb, emb.filter(F.col("vec_id") < 3), books, k=5).collect()
    assert len(out) == 15  # 3 queries x top-5, no INVALID_ARRAY_INDEX


def test_ivf_pq_is_pq_restricted_to_probed_cells(spark):
    """The composition contract (r11): ivf_pq_topk must equal pq_topk
    re-ranked over ONLY the candidates whose cell survives the query's
    n_probe filter — i.e. the cell filter composes with ADC scoring
    without perturbing either half."""
    from datastream_processing_demo_spark.operators.similarity import (
        _nearest_cells_expr,
        ivf_centroids,
        ivf_pq_topk,
    )
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cent = ivf_centroids(emb)
    books = pq_codebooks(emb)
    got = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
           for r in ivf_pq_topk(emb, queries, k=5, cent=cent,
                                books=books).collect()}

    # reference: full ADC scores joined with cell membership, pruned to
    # the probe set per query, re-ranked driver-side
    cells = {r["vec_id"]: r["cell"] for r in emb.select(
        "vec_id", F.element_at(
            _nearest_cells_expr("embedding", cent, 1), 1).alias("cell"))
        .collect()}
    probes = {r["vec_id"]: list(r["cells"]) for r in queries.select(
        "vec_id", _nearest_cells_expr("embedding", cent, 4).alias("cells"))
        .collect()}
    full = pq_topk(emb, queries, books, k=10**9).collect()
    by_q: dict = {}
    for r in full:
        if cells[r["neighbor_id"]] in probes[r["query_id"]]:
            by_q.setdefault(r["query_id"], []).append(
                (-r["score"], r["neighbor_id"]))
    want = {}
    for q, cands in by_q.items():
        for rank, (neg, nid) in enumerate(sorted(cands)[:5], start=1):
            want[(q, rank)] = (nid, -neg)
    assert got == want


def test_ivf_pq_prunes_candidates(spark):
    """The point of the composition: the scored candidate set must be a
    strict subset of the full PQ scan's (n_probe=4 of 16 cells)."""
    from datastream_processing_demo_spark.operators.similarity import (
        ivf_pq_topk,
    )
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    n = emb.count()
    # with k unbounded, the output size IS the candidate-set size
    pruned = ivf_pq_topk(emb, queries, k=10**9).count()
    assert pruned < 10 * (n - 1) * 0.5, \
        "cell filter pruned less than half the corpus across 10 queries"


def test_pq_literal_and_joined_forms_are_bit_identical(spark):
    """r12 (sim_ann_pq_prod): the production 8x256 geometry cannot ride
    literal expression trees (a vanilla 1g driver OOMs serializing the
    2048-entry LUT/encode closures), so pq_codes/pq_topk gained
    broadcast data-join forms. The two forms must pick identical codes
    and identical top-k on the SAME books — the dot-form L2, the
    MIN(struct) tiebreak, and the ADC score chain are the same IEEE
    sequences either way."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    books = pq_codebooks(emb)           # demo geometry: runs both forms
    lit_codes = sorted(map(tuple, pq_codes(emb, books,
                                           form="literal").collect()))
    jn_codes = sorted(map(tuple, pq_codes(emb, books,
                                          form="joined").collect()))
    assert lit_codes == jn_codes
    lit = sorted(map(tuple, pq_topk(emb, q, books, k=5,
                                    form="literal").collect()))
    jn = sorted(map(tuple, pq_topk(emb, q, books, k=5,
                                   form="joined").collect()))
    assert lit == jn


def test_pq_form_dispatch_is_geometry_only(spark):
    """The literal/joined switch depends only on m_sub x k_codes, never
    on data — the same lane must take the same form on every corpus."""
    from datastream_processing_demo_spark.operators.similarity import (
        PQ_LITERAL_ENTRY_CAP,
    )
    demo = 4 * 16
    prod = 8 * 256
    assert demo <= PQ_LITERAL_ENTRY_CAP < prod


def test_pq_prod_geometry_codes_and_recall(spark):
    """The production geometry trains 8 books of (up to) 256 codes and
    its ADC ranking must beat the demo geometry's recall@5 against the
    exact inner-product ranking (the executable form of the 'most of
    the recall back at 4x the code size' claim)."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)

    def recall(books):
        exact = {(r["query_id"], r["neighbor_id"])
                 for r in _exact_ip_topk(emb, q, 5).collect()}
        approx = {(r["query_id"], r["neighbor_id"])
                  for r in pq_topk(emb, q, books, k=5).collect()}
        return len(exact & approx) / len(exact)

    r_demo = recall(pq_codebooks(emb))
    r_prod = recall(pq_codebooks(emb, m_sub=8, k_codes=256))
    assert r_prod > r_demo, (r_demo, r_prod)


def _exact_ip_topk(emb, queries, k):
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qv"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("cv"))
    scored = (c.join(F.broadcast(q),
                     F.col("query_id") != F.col("neighbor_id"))
              .withColumn("score", F.round(dot_col("qv", "cv"), 6)))
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(),
                                          "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def test_ivf_pq_literal_and_joined_forms_are_bit_identical(spark):
    """r12 (sim_ann_ivf_pq_prod): the composed serving plan's joined
    form (cell-probe join + per-subspace LUT-row joins) must reproduce
    the literal form exactly on shared books."""
    from datastream_processing_demo_spark.operators.similarity import (
        ivf_pq_topk,
    )
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    lit = sorted(map(tuple, ivf_pq_topk(emb, q, form="literal").collect()))
    jn = sorted(map(tuple, ivf_pq_topk(emb, q, form="joined").collect()))
    assert lit == jn
