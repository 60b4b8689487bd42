"""Similarity search over embedding columns (SURVEY.md §2.2 LLM-ext
similarity row): exact cosine, brute-force top-k, and an LSH-bucketed
approximate variant for the scale path.

Scale design:
- Brute-force top-k is the CORRECTNESS baseline: broadcast the (small)
  query set against the corpus — one narrow pass over the big side, a
  partial top-k per partition via window row_number (no global sort of
  all pairs). Cost O(corpus × queries); right answer, only viable when
  queries are few.
- The SCALE path is sign-LSH: deterministic integer hyperplanes give
  every vector a B-bit bucket code; candidates collide per bucket, so
  the join degenerates to bucket-local comparisons. Recall is tunable
  via B and multi-probe (probe Hamming-1 neighbors of the query code).
- All math is double-precision Column expressions (sequential left
  fold, reproducible); no Python in the data path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from .spread import spread


def _as_double(arr: Column | str) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot_col(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)


def norm_col(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(_as_double(a), F.lit(0.0),
                              lambda acc, x: acc + x * x))


def cosine_col(a: Column | str, b: Column | str) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def bruteforce_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    round_to: int = 6) -> DataFrame:
    """Exact cosine top-k: broadcast queries x corpus, rank per query.

    Scores are rounded before ranking so ordering is reproducible
    cross-engine; ties break on neighbor id.
    """
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_vec"))
    c = spread(corpus).select(F.col(id_col).alias("neighbor_id"),
                              F.col(vec_col).alias("c_vec"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(cosine_col("q_vec", "c_vec"), round_to))
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def cosine_pandas_udf():
    """Arrow-vectorized cosine: one numpy matmul per batch instead of a
    per-row expression fold. Same float64 math as `cosine_col` up to
    summation order (numpy pairwise vs sequential — agree to ~1e-15, so
    a 1e-6-rounded score grid is identical). The Pandas-UDF lane matters
    when scoring logic outgrows Column expressions (learned metrics,
    quantized dot products): Arrow batches in, numpy out, no per-row
    Python."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _cos(a: "pd.Series", b: "pd.Series") -> "pd.Series":
        import numpy as np
        av = np.stack(a.to_numpy()).astype(np.float64)
        bv = np.stack(b.to_numpy()).astype(np.float64)
        num = (av * bv).sum(axis=1)
        den = (np.sqrt((av * av).sum(axis=1))
               * np.sqrt((bv * bv).sum(axis=1)))
        return pd.Series(num / den)

    # resolve the string hints against this frame's globals/locals so
    # pandas_udf sees a SCALAR (Series -> Series) signature
    _cos.__annotations__ = {"a": pd.Series, "b": pd.Series,
                            "return": pd.Series}
    return pandas_udf(_cos, "double")


def bruteforce_topk_pandas(corpus: DataFrame, queries: DataFrame, k: int = 5,
                           id_col: str = "vec_id", vec_col: str = "embedding",
                           round_to: int = 6) -> DataFrame:
    """`bruteforce_topk` with the score computed by the Arrow-batched
    pandas UDF — identical output (same rounded grid, same tiebreak)."""
    cos = cosine_pandas_udf()
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_vec"))
    # width from input size (Arrow-UDF lane): see semdedup_fast note
    c = spread(corpus, bytes_per_task=256 << 10).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(cos("q_vec", "c_vec"), round_to))
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _hyperplane(plane: int, dim: int = 64) -> list[float]:
    """Deterministic integer 'hyperplane': coef j = ((p*31 + j*17) % 13) - 6.
    Integer-valued, so sign decisions are exact in every engine."""
    return [float(((plane * 31 + j * 17) % 13) - 6) for j in range(dim)]


def lsh_bucket_col(vec_col: Column | str, n_planes: int = 12,
                   dim: int = 64, plane_offset: int = 0) -> Column:
    """Sign-LSH bucket code: bit p = 1 iff dot(vec, plane_{p+offset}) > 0.

    ``plane_offset`` selects an INDEPENDENT band of hyperplanes from the
    same deterministic family (band r of width B passes offset r*B) —
    the OR-amplification primitive `embedding_near_dup_pairs_banded`
    builds on. Bit positions stay 0..n_planes-1 regardless of offset,
    so every band's code lands in the same [0, 2^B) space.

    Built as one SQL string (same rationale as _sorted_cell_structs:
    n_planes x dim F.lit py4j round-trips cost ~1 s of driver time per
    build; the JVM parses the text form in milliseconds). Bucket codes
    are exact integers, pinned equal to the Column spelling by a test."""
    if not isinstance(vec_col, str):
        return _lsh_bucket_col_columns(vec_col, n_planes, dim, plane_offset)
    vd = f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"
    bits = []
    for p in range(n_planes):
        plane = "transform(array({}), x -> CAST(x AS DOUBLE))".format(
            ", ".join(f"{c!r}D" for c in _hyperplane(p + plane_offset, dim)))
        dot = (f"aggregate(zip_with({vd}, {plane}, (x, y) -> x * y), "
               f"0.0D, (acc, x) -> acc + x)")
        bits.append(f"(CASE WHEN {dot} > 0 THEN "
                    f"shiftleft(CAST(1 AS BIGINT), {p}) ELSE 0 END)")
    return F.expr("CAST(0 AS BIGINT) + " + " + ".join(bits))


def _lsh_bucket_col_columns(vec_col: Column | str, n_planes: int = 12,
                            dim: int = 64, plane_offset: int = 0) -> Column:
    """Column-API twin of `lsh_bucket_col`, kept for Column-typed
    inputs and as the equality reference the tests compare against."""
    code = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(c) for c in _hyperplane(p + plane_offset,
                                                        dim)])
        bit = F.when(dot_col(vec_col, plane) > 0,
                     F.shiftleft(F.lit(1).cast("long"), p)).otherwise(0)
        code = code + bit
    return code


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             n_planes: int = 12, id_col: str = "vec_id",
             vec_col: str = "embedding", round_to: int = 6,
             multiprobe: bool = True, probe_hamming: int = 1) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket.
    With multiprobe, each query also probes every code within
    `probe_hamming` bit flips of its own (1 + n_planes probes at
    hamming 1; + C(n_planes,2) more at hamming 2) — the standard recall
    lever, and THE dial `sim_ann_recall` measures: it costs a broadcast
    fanout on the tiny query side only, never a corpus rescan."""
    c = spread(corpus).select(F.col(id_col).alias("neighbor_id"),
                              F.col(vec_col).alias("c_vec"),
                              lsh_bucket_col(vec_col, n_planes).alias("bucket"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_vec"),
                       lsh_bucket_col(vec_col, n_planes).alias("bucket"))
    if multiprobe:
        flips = [F.col("bucket").cast("long")]
        flips += [F.expr(f"CAST(bucket AS BIGINT) ^ {1 << p}")
                  for p in range(n_planes)]
        if probe_hamming >= 2:
            flips += [F.expr(f"CAST(bucket AS BIGINT) ^ {(1 << p) | (1 << r)}")
                      for p in range(n_planes) for r in range(p)]
        q = q.select("query_id", "q_vec",
                     F.explode(F.array(*flips)).alias("bucket"))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("score", F.round(cosine_col("q_vec", "c_vec"), round_to))
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _dot_py(a: list, b: list) -> float:
    """Python sequential-fold dot product — the same left-to-right IEEE
    sequence as `dot_col` / DuckDB's list_dot_product, so a value folded
    here is bit-identical to one folded in either engine."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _nearest_cells_expr(vec_col: Column | str, centroids: list,
                        n_probe: int) -> Column:
    """Array of the n_probe nearest cell_ids, as a pure projection: the
    centroid table is index METADATA (n_cells × dim floats), embedded as
    a literal so assignment costs zero shuffle — one codegen'd pass over
    the vectors, exactly how a coarse quantizer should run at 100 TB.

    The squared distance is computed in dot-product form
    ``dot(v,v) - 2*dot(v,c) + dot(c,c)`` with dot(c,c) prefolded in
    Python: every term is a sequential left fold, so an ANSI-SQL oracle
    that writes the same three list_dot_product terms reproduces the
    assignment bit-for-bit (which a zip_with (x-y)^2 fold would not —
    that is a different IEEE op sequence)."""
    # struct sort is lexicographic: by l2, then cell_id as the tiebreak
    return F.transform(F.slice(_sorted_cell_structs(vec_col, centroids),
                               1, n_probe),
                       lambda s: s["cell_id"])


def _sorted_cell_structs(vec_col: Column | str, centroids: list) -> Column:
    """Array of (l2, cell_id) structs sorted nearest-first — the shared
    core of `_nearest_cells_expr` (which keeps only the ids) and
    `semdedup` (which also needs the winning distance).

    Built as ONE SQL string handed to F.expr: the Column-API spelling
    costs thousands of py4j round-trips (n_cells x dim F.lit calls plus
    a fold builder per cell — measured 1.5 s of pure driver time for
    16x64 at r5) for an expression the JVM parses from text in
    milliseconds. `_sorted_cell_structs_columns` keeps the Column
    spelling; tests pin bit-equality of the two, and double literals
    use repr() + the D suffix so Double.parseDouble round-trips every
    bit (shortest-repr guarantee)."""
    if not isinstance(vec_col, str):
        return _sorted_cell_structs_columns(vec_col, centroids)

    def d(x: float) -> str:
        return f"{float(x)!r}D"

    vd = f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"

    def dot(a: str, b: str) -> str:
        return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
                f"0.0D, (acc, x) -> acc + x)")

    dvv = dot(vd, vd)
    cells = ", ".join(
        "named_struct('l2', {dvv} - 2.0D * {dvc} + {cc}, 'cell_id', {cid})"
        .format(
            dvv=dvv,
            dvc=dot(vd, "transform(array({}), x -> CAST(x AS DOUBLE))"
                    .format(", ".join(d(x) for x in vec))),
            cc=d(_dot_py(vec, vec)), cid=int(cid))
        for cid, vec in centroids)
    return F.expr(f"array_sort(array({cells}))")


def _sorted_cell_structs_columns(vec_col: Column | str,
                                 centroids: list) -> Column:
    """Column-API twin of `_sorted_cell_structs` (the r4 spelling):
    semantically identical tree, kept for Column-typed inputs and as
    the bit-equality reference the tests compare against."""
    dvv = dot_col(vec_col, vec_col)
    cells = F.array(*[
        F.named_struct(
            F.lit("l2"),
            dvv - F.lit(2.0) * dot_col(vec_col, F.array(
                *[F.lit(float(x)) for x in vec])) + F.lit(_dot_py(vec, vec)),
            F.lit("cell_id"), F.lit(cid))
        for cid, vec in centroids
    ])
    return F.array_sort(cells)


def _training_matrix(corpus: DataFrame, id_col: str, vec_col: str):
    """The corpus as a (rows x dim) float64 matrix sorted by id: one
    Arrow collect of (id, vector), the CAST(x AS DOUBLE) every engine
    applies before training."""
    import numpy as np
    tbl = corpus.select(F.col(id_col).alias("id"),
                        _as_double(vec_col).alias("v")).toArrow()
    vecs = tbl.column("v").combine_chunks()
    V = vecs.flatten().to_numpy().reshape(len(vecs), -1)
    return V[np.argsort(tbl.column("id").to_numpy(), kind="stable")]


def _lloyd_round(V, n_cells: int) -> list:
    """One Lloyd round over the id-sorted matrix V: seeds are its
    n_cells first rows (cell_ids 1..n_cells), every row goes to its
    nearest seed, and each cell's mean is formed on the 1e-6 integer
    grid. Cells left without members are dropped and the survivors keep
    their ids. Returns [(cell_id, [float])]."""
    import numpy as np
    seeds = [(i + 1, v) for i, v in enumerate(V[:n_cells].tolist())]
    # fixed row blocks keep the rows x cells distance matrix bounded
    block = 8192
    best = np.concatenate([_assign_cells_exact(V[i:i + block], seeds)[0]
                           for i in range(0, len(V), block)])
    q = _round_half_up_int64(V * 1e6)
    sums = np.zeros((len(seeds), V.shape[1]), dtype=np.int64)
    np.add.at(sums, best, q)
    n = np.bincount(best, minlength=len(seeds)).astype(np.float64)
    kept = np.flatnonzero(n)
    means = sums[kept].astype(np.float64) / (n[kept, None] * 1e6)
    return [(int(k) + 1, m) for k, m in zip(kept, means.tolist())]


def ivf_centroids(corpus: DataFrame, n_cells: int = 16,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> list:
    """IVF coarse quantizer, fully deterministic AND engine-portable:
    seeds are the n_cells lowest-id corpus vectors, refined by one round
    of assign-to-nearest + per-dimension mean. Returns
    [(cell_id, [float])], without the cells that lost every member.

    The mean is computed as an exact integer sum on a 1e-6 grid —
    ``CAST(SUM(CAST(ROUND(x*1e6) AS BIGINT)) AS DOUBLE) / (n * 1e6)`` —
    which is order-independent (integer adds commute) and finishes with
    one double division, so this trainer and the DuckDB oracles produce
    bit-identical centroids. A float AVG() would be
    summation-order-dependent and break cross-engine equality for
    vectors near a cell boundary. The assignment makes the same
    decisions as the dot-form fold the oracles and `_nearest_cells_expr`
    compute (`_assign_cells_exact`).

    Training runs on the driver: one Arrow collect of (id, vector), then
    numpy. The driver holds rows x dim doubles, so at 100 TB you train
    once on a sample and persist the centroids; serving never
    re-trains."""
    return _lloyd_round(_training_matrix(corpus, id_col, vec_col), n_cells)


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             n_cells: int = 16, n_probe: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding", round_to: int = 6) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest cell;
    each query scores only the members of its n_probe nearest cells.

    Scale shape: cell assignment is a shuffle-free projection (literal
    centroids); the candidate join broadcasts the exploded query side, so
    per-query cost drops from O(corpus) to O(corpus × n_probe / n_cells).
    A persisted index would be written partitionBy(cell_id) so probes
    prune to n_probe partitions at scan time. Recall is tuned with
    n_probe — the same lever as FAISS nprobe."""
    cent = ivf_centroids(corpus, n_cells, id_col, vec_col)
    c = corpus.select(
        F.element_at(_nearest_cells_expr(vec_col, cent, 1), 1).alias("cell_id"),
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    q = queries.select(
        F.explode(_nearest_cells_expr(vec_col, cent, n_probe)).alias("cell_id"),
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    scored = (
        c.join(F.broadcast(q), "cell_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(cosine_col("q_vec", "c_vec"), round_to))
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def auto_n_planes(n_rows: int, target_bucket_size: int = 1024,
                  min_planes: int = 4, max_planes: int = 48) -> int:
    """Sign-LSH plane count sized to the corpus: 2^B buckets with an
    expected ~target_bucket_size members each, i.e.
    B = ceil(log2(n / target_bucket_size)), clamped to [min, max].

    This is the 100 TB sizing rule: per-bucket candidate work is
    quadratic in bucket size, so a FIXED B melts as the corpus grows
    (16 buckets over 10^9 docs = 10^15 comparisons per bucket-pair
    round). Scaling B with n keeps every bucket's quadratic term bounded
    by ~target_bucket_size^2 while total work stays ~n * target.

    Computed with INTEGER arithmetic, not libm log2 (ADVICE r11): the
    oracle mirrors this derivation in SQL, and two libms could round a
    within-1-ulp log2 to opposite sides of an integer, producing a
    different B and disjoint bucket sets. ceil(log2(ceil(n/t))) ==
    bit_length(ceil(n/t) - 1) exactly, for any t (2^b >= n/t iff
    2^b >= ceil(n/t) because 2^b is an integer)."""
    if n_rows <= target_bucket_size:
        return min_planes
    m = -(-n_rows // target_bucket_size)
    b = (m - 1).bit_length()
    return max(min_planes, min(max_planes, b))


def embedding_near_dup_pairs(corpus: DataFrame, threshold: float = 0.9,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             round_to: int = 6, n_planes: int | None = None,
                             dim: int = 64,
                             target_bucket_size: int = 1024) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, sign-LSH bucketed.

    Candidate generation reuses `lsh_bucket_col`: every vector gets one
    B-bit bucket, candidates come from a bucket equi-join, and the exact
    (rounded) cosine verifies each candidate. This is the scale shape —
    the join shuffles on `bucket`, per-bucket work is quadratic only in
    the (hash-bounded) bucket size, never in any data-correlated block
    like `label` where one hot key melts a task. Recall is the standard
    LSH trade: a true pair at angle θ lands in one bucket with
    probability (1 − θ/π)^B — tune n_planes down for recall, up for
    speed. Deterministic (integer hyperplanes), so an oracle that mirrors
    the bucketing reproduces the result exactly.

    When ``n_planes`` is None (the default) it is derived from the
    corpus size via `auto_n_planes` — one metadata count() job, then
    B = ceil(log2(n / target_bucket_size)) — so the bucket count grows
    with the corpus and per-bucket quadratic work stays bounded. Pass
    ``n_planes`` explicitly when the corpus size is already known (at
    100 TB you know it) or when an oracle mirrors a specific B.
    """
    if n_planes is None:
        n_planes = auto_n_planes(corpus.count(), target_bucket_size)
    e = spread(corpus).select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket_col(vec_col, n_planes, dim).alias("bucket"))
    a = e.select(F.col(id_col).alias("doc_a"),
                 F.col(vec_col).alias("vec_a"), "bucket")
    b = e.select(F.col(id_col).alias("doc_b"),
                 F.col(vec_col).alias("vec_b"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("cosine", F.round(cosine_col("vec_a", "vec_b"), round_to))
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


def embedding_near_dup_pairs_banded(corpus: DataFrame,
                                    threshold: float = 0.9,
                                    n_bands: int = 4,
                                    id_col: str = "vec_id",
                                    vec_col: str = "embedding",
                                    round_to: int = 6,
                                    n_planes: int | None = None,
                                    dim: int = 64,
                                    target_bucket_size: int = 1024
                                    ) -> DataFrame:
    """Embedding-cosine near-dup pairs with corpus-sized, OR-amplified
    sign-LSH blocking — the production geometry (VERDICT r11 task #3).

    Two dials, both scale-safe:
    - B = `auto_n_planes(count)` planes per band (corpus-sized, so
      per-bucket quadratic work stays ~target_bucket_size^2 at ANY
      corpus — no fixed geometry to melt), derived from one COUNT(*)
      when ``n_planes`` is None;
    - ``n_bands`` INDEPENDENT bands of planes (band r uses plane
      indices r*B..r*B+B-1 of the same deterministic family), a true
      pair is a candidate if it collides in ANY band — the banded
      MinHash OR-amplification applied to sign-LSH. Single-band recall
      for a pair at angle θ is p^B with p = 1 - θ/π; n_bands bands lift
      it to 1 - (1-p^B)^R while total work grows only linearly in R.

    Plan shape for 100 TB: candidate generation shuffles ONLY
    (id, band, bucket) integer rows — vectors never ride the band
    explosion; the cross-band DISTINCT dedups candidates before the
    exact-cosine verify, which fetches each side's vector by id
    equi-join. Deterministic end to end (integer hyperplanes, integer B
    derivation), so an ANSI oracle mirrors it exactly."""
    if n_planes is None:
        n_planes = auto_n_planes(corpus.count(), target_bucket_size)
    e = spread(corpus).select(F.col(id_col), F.col(vec_col))
    bands = e.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(F.lit(r).cast("int").alias("band"),
                     lsh_bucket_col(vec_col, n_planes, dim,
                                    plane_offset=r * n_planes)
                     .alias("bucket"))
            for r in range(n_bands)])).alias("bb")
    ).select(F.col(id_col), F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))
    a = bands.select(F.col(id_col).alias("doc_a"), "band", "bucket")
    b = bands.select(F.col(id_col).alias("doc_b"), "band", "bucket")
    cand = (a.join(b, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())
    va = e.select(F.col(id_col).alias("doc_a"),
                  F.col(vec_col).alias("vec_a"))
    vb = e.select(F.col(id_col).alias("doc_b"),
                  F.col(vec_col).alias("vec_b"))
    return (cand.join(va, "doc_a").join(vb, "doc_b")
            .withColumn("cosine",
                        F.round(cosine_col("vec_a", "vec_b"), round_to))
            .filter(F.col("cosine") >= threshold)
            .select("doc_a", "doc_b", "cosine"))


def semdedup_candidates(corpus: DataFrame, threshold: float = 0.35,
                        n_cells: int = 16, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        round_to: int = 6) -> tuple:
    """The candidate stage of `semdedup`, exposed for plan audits:
    returns (member, pairs) where `member` is (vec_id, cell_id, dist_r,
    v) — cell assignment is a shuffle-free literal-centroid projection —
    and `pairs` is the within-cell cosine>=threshold equi-join (shuffles
    on cell_id only; never a cartesian)."""
    cent = ivf_centroids(corpus, n_cells, id_col, vec_col)
    nearest = F.element_at(_sorted_cell_structs(vec_col, cent), 1)
    member = spread(corpus.select(
        F.col(id_col).alias("vec_id"),
        nearest["cell_id"].alias("cell_id"),
        # distance to own centroid on the 1e-6 integer grid: the keep
        # ranking must be order-independent and engine-portable
        F.round(nearest["l2"] * 1e6, 0).cast("long").alias("dist_r"),
        _as_double(vec_col).alias("v")))
    # zero-norm vectors have no defined cosine: exclude them from pair
    # generation (they survive as singletons). Without the guard the
    # lanes diverge on zero vectors — Spark's NaN-greatest comparison
    # keeps the pair, numpy's IEEE >= drops it (ADVICE r5).
    nonzero = member.filter(dot_col("v", "v") > F.lit(0.0))
    a = nonzero.select(F.col("vec_id").alias("id_a"), "cell_id",
                       F.col("v").alias("va"))
    b = nonzero.select(F.col("vec_id").alias("id_b"), "cell_id",
                       F.col("v").alias("vb"))
    pairs = (
        a.join(b, "cell_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(cosine_col("va", "vb"), round_to) >= threshold)
        .select("cell_id", "id_a", "id_b"))
    return member, pairs


def semdedup(corpus: DataFrame, threshold: float = 0.35, n_cells: int = 16,
             id_col: str = "vec_id", vec_col: str = "embedding",
             round_to: int = 6) -> DataFrame:
    """SemDeDup — semantic deduplication over embedding clusters
    (Abbas et al. 2023, arXiv:2303.09540): k-means cells bound the
    candidate space, near-duplicate pairs are cosine >= threshold within
    a cell, duplicates chain into connected components, and per
    component exactly ONE representative survives — the member FARTHEST
    from its cell centroid (the paper's keep-low-centroid-similarity
    rule: of a group of semantic duplicates, keep the most atypical one
    to preserve diversity). The reference has nothing comparable
    (SURVEY.md §2.1.1 — no dedup of any kind).

    Returns (vec_id, cell_id, cluster_id, is_kept) for EVERY corpus row:
    singletons keep themselves; cluster_id = min vec_id reachable
    through within-cell near-dup edges.

    Scale shape: cell assignment is a shuffle-free literal-centroid
    projection (`_sorted_cell_structs`); the pair join shuffles on
    cell_id, so per-cell work is quadratic only in the cell size — size
    `n_cells ~ n_rows / target_cell_size` exactly like the paper (11k
    clusters for LAION-440M) and `auto_n_planes` does for sign-LSH.
    Components: SemDeDup edges are within-cell BY CONSTRUCTION (the
    pair join is keyed on cell_id), so no component spans cells and
    the per-cell union-find (`operators/components.py
    blocked_components`) computes the transitive closure in ONE
    shuffle — replacing the iterative min-label rounds the unblocked
    dedup_cluster_canonical graph still needs (measured r5: ~4
    checkpoint+probe jobs saved per run). Everything is deterministic
    — seeds, integer-grid centroid means, dot-form L2, 1e-6-rounded
    cosines — so an ANSI oracle reproduces the output exactly,
    keep-decisions included.
    """
    from .components import blocked_components
    member, pairs = semdedup_candidates(corpus, threshold, n_cells,
                                        id_col, vec_col, round_to)
    comp = blocked_components(pairs, block_col="cell_id",
                              src="id_a", dst="id_b")
    labeled = (
        member.join(comp, member.vec_id == comp.node, "left")
        .select(member.vec_id, "cell_id",
                F.coalesce("cluster_id", member.vec_id).alias("cluster_id"),
                "dist_r"))
    w = W.partitionBy("cluster_id").orderBy(F.col("dist_r").desc(), "vec_id")
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .select("vec_id", "cell_id", "cluster_id",
                (F.col("rn") == 1).alias("is_kept")))


def _seq_dot_rows(V, W):
    """Per-row dot product with the sequential left-to-right fold order,
    vectorized ACROSS rows: each `acc + V[:,j] * W[:,j]` step is an
    elementwise correctly-rounded IEEE op, so every row's result is
    bit-identical to the scalar fold `_dot_py` / `dot_col` / DuckDB's
    list_dot_product — at numpy speed (dim vector ops, not n*dim scalar
    ops)."""
    import numpy as np
    acc = np.zeros(len(V), dtype=np.float64)
    for j in range(V.shape[1]):
        acc = acc + V[:, j] * W[:, j]
    return acc


def _round_half_up_int64(y):
    """Exact HALF_UP-to-integer of a float64 array, ties away from zero
    (-2.5 -> -3) — the same decision Spark's BigDecimal F.round(y, 0)
    and DuckDB's ROUND(y) make. `y - trunc(y)` is exact for |y| < 2^52,
    so the 0.5 comparison has no FP hazard (np.floor(y + 0.5) silently
    rounds up for y one ULP below a .5 boundary)."""
    import numpy as np
    t = np.trunc(y)
    return (t + np.sign(y) * (np.abs(y - t) >= 0.5)).astype(np.int64)


def _assign_cells_exact(V, cent, band: float = 1e-6):
    """Nearest-centroid assignment whose DECISIONS and winning DISTANCE
    are bit-identical to the interpreted fold spelling
    (`_sorted_cell_structs` / the oracle's `_l2_dot_form` CTE) at BLAS
    speed. Returns (best_idx 0-based into cent, d_exact float64).

    Scheme: a rows x cells matmul screens (pairwise-summation error
    <= ~1e-12 on unit-norm-ish vectors); any row whose two nearest
    cells fall within `band` of each other is re-decided with the exact
    scalar fold and the (l2, cell_id) tiebreak; the winning distance is
    then recomputed for EVERY row via `_seq_dot_rows` (a fixed 3*dim
    vector ops, independent of cell count) in the exact op sequence
    (dvv - 2.0*dvc) + cc. This removes the last-ULP hash-flip risk that
    kept the registered sim_semdedup lane on the 28-124 s fold path
    (VERDICT r5 task #4): decisions are provably identical outside the
    band and recomputed exactly inside it."""
    import numpy as np
    C = np.array([v for _, v in cent], dtype=np.float64)      # cells x dim
    vv = (V * V).sum(axis=1)
    cc = (C * C).sum(axis=1)
    d = vv[:, None] - 2.0 * (V @ C.T) + cc[None, :]
    best = d.argmin(axis=1)                    # first min = min cell_id
    n = len(V)
    dbest = d[np.arange(n), best]
    cc_seq = np.array([_dot_py(v, v) for _, v in cent])
    if d.shape[1] > 1:
        d2 = np.partition(d, 1, axis=1)[:, 1]
        # the matmul's cancellation error scales with the TERM
        # magnitudes (~max(|v|^2, |c|^2) * eps), not with the winning
        # distance — a large-norm vector sitting near its centroid has
        # dbest ~ 0 but error ~ |v|^2 * eps, so the band must widen
        # with the computation magnitude or the screen could certify a
        # wrong cell as unambiguous (ADVICE r6)
        mag = np.maximum(1.0, np.maximum(vv, cc.max() if len(cc) else 1.0))
        amb = (d2 - dbest) <= band * mag
        for i in np.flatnonzero(amb):
            vi = V[i]
            dvv = _dot_py(vi, vi)
            cand = sorted(
                ((dvv - 2.0 * _dot_py(vi, cvec)) + cc_seq[k], cid, k)
                for k, (cid, cvec) in enumerate(cent))
            best[i] = cand[0][2]
    Cb = C[best]
    d_exact = (_seq_dot_rows(V, V) - 2.0 * _seq_dot_rows(V, Cb)) + cc_seq[best]
    return best, d_exact


def semdedup_fast(corpus: DataFrame, threshold: float = 0.35,
                  n_cells: int = 16, id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  round_to: int = 6) -> DataFrame:
    """The VECTORIZED spelling of `semdedup` — since r6 the registered
    sim_semdedup lane itself (oracle unchanged, VERDICT r5 task #4).

    Both lanes train their centroids with the same driver-side
    `ivf_centroids`. After training, the exact lane's member assignment
    and within-cell cosine both ride interpreted higher-order folds
    (aggregate/zip_with are CodegenFallback), so assignment costs
    O(n_cells * dim) interpreted ops per ROW and the pair stage O(dim)
    per candidate PAIR — measured at sf1 (20k vectors, training then
    also on the fold): 28 s at 16 cells and LINEARLY WORSE with more
    cells (124 s at 128), i.e. the paper's cells-proportional-to-corpus
    rule is unreachable on the fold path. This twin computes the rest
    of the pipeline through Arrow batches: numpy member assignment
    (rows x cells matmul), per-cell gram-matrix pair generation
    (exactly the dense TF-IDF lane's block discipline), then the SAME
    blocked union-find components and keep rule.

    Bit-compatibility with the fold lane / ANSI oracle is by
    construction, not luck: every output-affecting float DECISION is
    either provably unreachable by the matmul's summation-order error
    (outside an epsilon band around the decision boundary) or
    recomputed with the exact sequential fold inside the band —
    `_assign_cells_exact` for cell choice + dist_r (HALF_UP on the
    exact fold value), a Decimal comparison against the exact
    threshold-midpoint for the pair cosine (round(cos, r) >= t over the
    reals is cos >= t - 10^-r/2). Zero-norm vectors are excluded from
    pair generation in BOTH lanes (their cosine is undefined; they
    survive as singletons), so the lanes agree there too (ADVICE r5).
    Tests pin end-to-end output equality on the driver fixtures and on
    hostile corpora with exact boundary cosines."""
    import numpy as np
    import pandas as pd

    cent = ivf_centroids(corpus, n_cells, id_col, vec_col)
    cell_ids = np.array([cid for cid, _ in cent], dtype=np.int64)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["_v"].to_numpy())
            best, d_exact = _assign_cells_exact(V, cent)
            yield pd.DataFrame({
                "vec_id": pdf["_id"],
                "cell_id": cell_ids[best],
                "dist_r": _round_half_up_int64(d_exact * 1e6),
                "v": list(V),
            })

    # Arrow-batch lane: width from input size (256 KB/task), not the
    # blanket core count — 32+ micro-tasks of ~30 vectors pay more in
    # Python worker round-trips than in matmul (guide §4.2 batch-size
    # rule). Width never affects values here (per-row map).
    src = spread(corpus, bytes_per_task=256 << 10).select(
        F.col(id_col).alias("_id"), _as_double(vec_col).alias("_v"))
    member = src.mapInPandas(
        assign, schema="vec_id long, cell_id int, dist_r long, v array<double>")

    from decimal import Decimal

    # round(cos, round_to) >= threshold over the reals is exactly
    # cos >= cstar with cstar = threshold - 10^-round_to / 2 (HALF_UP);
    # Decimal(str(...)) keeps cstar an exact decimal, Decimal(float)
    # below is the exact binary value of the computed cosine.
    cstar = Decimal(str(threshold)) - Decimal(1).scaleb(-round_to) / 2
    cb = float(cstar)
    # When fl(cstar) >= cstar, the exact-binary in-band compare below
    # agrees with Spark's repr-based F.round on EVERY double: any y <
    # fl(cstar) also has repr(y) < cstar (|repr(y) - y| < ulp/2). When
    # fl(cstar) falls BELOW the real midpoint, the single double
    # y = fl(cstar) has repr(y) == cstar (Spark keeps) but exact binary
    # < cstar (binary compare drops) — so for those (threshold,
    # round_to) args the recheck switches to the exact decimal Spark
    # actually rounds, Decimal(repr(cos)) (ADVICE r6). Verified
    # fl(0.3499995) > midpoint for the registered (0.35, 6) config.
    _binary_mirrors_repr = Decimal(cb) >= cstar

    def cell_components(pdf: pd.DataFrame) -> pd.DataFrame:
        """Per-cell dup components, computed INSIDE the cell task.

        The r6 spelling emitted every kept pair and ran union-find in a
        second shuffle (blocked_components) — fine when dup pairs are
        sparse, quadratic in rows SHIPPED when a cell is dup-dense: the
        Zipf skew rehearsal's dominant cell (~2k mutually-dup vectors)
        pushed ~2M pair rows through Arrow and made the lane 4.9x its
        uniform time. Components never span cells (pairs are within-cell
        by construction), so the union-find can run here and emit ONE
        row per paired node. The cosine decisions are bit-identical to
        the pair spelling: same blocked matmul, same epsilon band, same
        exact-fold Decimal recheck. The gram is row-blocked so memory
        stays ~B*n per task even for a corpus-sized cell."""
        empty = pd.DataFrame({"cell_id": pd.Series([], dtype="int32"),
                              "node": pd.Series([], dtype="int64"),
                              "cluster_id": pd.Series([], dtype="int64")})
        if len(pdf) < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        V = np.stack(pdf["v"].to_numpy())[order]
        n = len(ids)
        n2 = _seq_dot_rows(V, V)              # exact fold, reused in-band
        ok = n2 > 0                           # zero-norm: no defined cosine
        norms = np.sqrt(n2)
        safe = np.where(ok, norms, 1.0)
        Vn = V / safe[:, None]

        def _min_prop(lab: "np.ndarray", ea: "np.ndarray",
                      eb: "np.ndarray") -> "np.ndarray":
            """Vectorized min-label propagation + pointer jumping over an
            edge array until fixpoint — O(E) numpy work per round, a
            handful of rounds (1 for a dup clique, log-ish for chains).
            No per-pair Python: the Zipf dominant cell's ~2M dup pairs
            reduce in a few minimum.at passes."""
            while True:
                before = lab.copy()
                m = np.minimum(lab[ea], lab[eb])
                np.minimum.at(lab, ea, m)
                np.minimum.at(lab, eb, m)
                while True:                    # pointer jumping
                    nxt = lab[lab]
                    if np.array_equal(nxt, lab):
                        break
                    lab = nxt
                if np.array_equal(lab, before):
                    return lab

        # per row-block: decide pairs, then REDUCE the block's pair set
        # to star edges (node -> block-local min label) before leaving
        # the block, so accumulated edge memory is O(nodes), not
        # O(pairs), even when a cell is one giant dup clique
        star_u: list = []
        star_v: list = []
        idx = np.arange(n)
        B = 2048
        for i0 in range(0, n, B):
            i1 = min(i0 + B, n)
            cosb = Vn[i0:i1] @ Vn.T
            okb = ok[i0:i1, None] & ok[None, :]
            upper = idx[None, :] > idx[i0:i1, None]
            keep = okb & upper & (cosb > cb + 1e-9)
            band = okb & upper & (np.abs(cosb - cb) <= 1e-9)
            for bi, bj in zip(*np.nonzero(band)):
                gi = i0 + int(bi)
                cosx = _dot_py(V[gi], V[bj]) / (norms[gi] * norms[bj])
                dec = (Decimal(cosx) if _binary_mirrors_repr
                       else Decimal(repr(cosx)))
                keep[bi, bj] = dec >= cstar
            pi, pj = np.nonzero(keep)
            if not len(pi):
                continue
            pu = pi + i0                       # global row index
            nodes = np.unique(np.concatenate([pu, pj]))
            lab = _min_prop(np.arange(len(nodes)),
                            np.searchsorted(nodes, pu),
                            np.searchsorted(nodes, pj))
            star_u.append(nodes)
            star_v.append(nodes[lab])
        if not star_u:
            return empty
        # global pass over the (tiny) star-edge union: components of the
        # union of per-block sub-components
        eu = np.concatenate(star_u)
        ev = np.concatenate(star_v)
        lab = _min_prop(np.arange(n), eu, ev)
        tn = np.unique(eu)                     # nodes in >=1 kept pair
        return pd.DataFrame({"cell_id": pdf["cell_id"].iloc[0],
                             "node": ids[tn],
                             "cluster_id": ids[lab[tn]]})

    comp = (member.groupBy("cell_id")
            .applyInPandas(cell_components,
                           schema="cell_id int, node long, cluster_id long")
            .drop("cell_id"))
    labeled = (
        member.join(comp, member.vec_id == comp.node, "left")
        .select(member.vec_id, "cell_id",
                F.coalesce("cluster_id", member.vec_id).alias("cluster_id"),
                "dist_r"))
    w = W.partitionBy("cluster_id").orderBy(F.col("dist_r").desc(), "vec_id")
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .select("vec_id", "cell_id", "cluster_id",
                (F.col("rn") == 1).alias("is_kept")))


def auto_n_cells(n_rows: int, target_cell_size: int = 256,
                 min_cells: int = 4, max_cells: int = 65536) -> int:
    """SemDeDup/IVF cell count sized to the corpus — the paper's
    cells-proportional-to-corpus rule (11k clusters for LAION-440M) as
    code: n_cells = ceil(n / target_cell_size), clamped. Per-cell pair
    work is quadratic in cell size, so a FIXED n_cells melts as the
    corpus grows. Assignment by matmul (`ivf_centroids` for training,
    `semdedup_fast` for members) leaves the cell count free to follow
    this rule; the interpreted-fold member assignment of the exact lane
    is O(n_cells) per row (measured at sf1 when training also ran on the
    fold: 28 s at 16 cells, 124 s at 128)."""
    return max(min_cells, min(max_cells, -(-n_rows // target_cell_size)))


# --- Product quantization (Jégou/Douze/Schmid 2011, "Product
# Quantization for Nearest Neighbor Search") -----------------------------
#
# The memory-compression half of the FAISS-style 100 TB ANN stack (IVF
# above is the pruning half): each dim-D vector is split into m_sub
# subvectors, each quantized to one of k_codes per-subspace centroids —
# a D x 4-byte float vector becomes m_sub 1-byte codes (64x smaller at
# 64-dim/4-sub), so a corpus whose raw embeddings need a cluster's
# aggregate RAM scans as codes from a fraction of one node. Serving is
# ADC (asymmetric distance): the query stays full-precision, each
# corpus item costs m_sub table lookups + adds instead of D multiplies.
#
# Everything is deterministic and engine-portable by the same
# discipline as the IVF quantizer: seeds = lowest-id vectors, Lloyd
# means on the exact 1e-6 integer grid, dot-form L2 with code-id
# tiebreaks, scores rounded to the 1e-6 grid before ranking.


def pq_codebooks(corpus: DataFrame, m_sub: int = 4, k_codes: int = 16,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> list:
    """Per-subspace codebooks: [(sub_id, [(code_id, [float])])].
    Training runs the IVF quantizer's Lloyd round on each column slice
    of one collected training matrix, so the job count does not grow
    with m_sub. At 100 TB codebooks train once on a sample (metadata
    scale: m_sub x k_codes x dim/m_sub floats) and persist next to the
    code table."""
    V = _training_matrix(corpus, id_col, vec_col)
    sub_len = V.shape[1] // m_sub
    return [(s, _lloyd_round(V[:, s * sub_len:(s + 1) * sub_len], k_codes))
            for s in range(m_sub)]


def _pq_lut_expr(sub_col: str, cent: list) -> Column:
    """String-built per-subspace ADC LUT — map(code_id -> dot(query_sub,
    codeword)) — the `_sorted_cell_structs` py4j lesson applied to the
    PQ serving path: the Column spelling costs k_codes x sub_len F.lit
    round-trips per subspace (measured 80+ s of pure driver time for
    the 8x256 production geometry) for an expression the JVM parses
    from text in milliseconds. The dot is the same sequential
    zip_with-product left fold as `dot_col`, and double literals use
    repr() + the D suffix (shortest-repr round-trip), so the values are
    bit-identical to the Column spelling and to the ANSI oracle's
    list_dot_product."""
    def d(x: float) -> str:
        return f"{float(x)!r}D"

    vd = f"transform(`{sub_col}`, x -> CAST(x AS DOUBLE))"
    entries = ", ".join(
        "{cid}, aggregate(zip_with({vd}, transform(array({vec}), "
        "x -> CAST(x AS DOUBLE)), (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)".format(
            cid=int(cid), vd=vd, vec=", ".join(d(x) for x in vec))
        for cid, vec in cent)
    return F.expr(f"map({entries})")


# Total codebook entries (m_sub x k_codes) above which the PQ encode /
# LUT expressions switch from literal expression trees to broadcast
# data-join forms. The literal forms are shuffle-free and ideal for the
# 4x16 demo geometry (64 entries), but a production 8x256 book (2048
# entries) serializes to a multi-hundred-MB task closure that OOMs a
# vanilla 1g driver (measured r12 on the driver-style session) — at
# that size the codebook belongs in DATA, not in the plan. The switch
# depends only on GEOMETRY, never on data, so a given lane always takes
# the same form on both engines.
PQ_LITERAL_ENTRY_CAP = 512


def _codebook_df(spark, books: list) -> DataFrame:
    """Codebooks as a small broadcastable table: (s, code_id, cw, cc)
    with cc = dot(cw, cw) prefolded in Python — the same prefold the
    literal `_sorted_cell_structs` path embeds, so the dot-form L2
    computed against the data rows is bit-identical."""
    rows = [(int(s), int(cid), [float(x) for x in vec],
             float(_dot_py(vec, vec)))
            for s, cent in books for cid, vec in cent]
    return spark.createDataFrame(
        rows, "s int, code_id int, cw array<double>, cc double")


def _stacked_subvectors(df: DataFrame, books: list, id_col: str,
                        vec_col: str, out_id: str, out_vec: str) -> DataFrame:
    """(id, s, subvector) rows: slice once per subspace, then stack —
    the row form both data-join paths (encode LUTs) consume."""
    sub_len = len(books[0][1][0][1])
    sliced = df.select(
        F.col(id_col).alias(out_id),
        *[F.slice(_as_double(vec_col), s * sub_len + 1, sub_len)
          .alias(f"_sv{s}") for s, _ in books])
    stack = "stack({}, {}) as (s, {})".format(
        len(books), ", ".join(f"{s}, `_sv{s}`" for s, _ in books), out_vec)
    return sliced.selectExpr(out_id, stack)


def pq_codes(corpus: DataFrame, books: list, id_col: str = "vec_id",
             vec_col: str = "embedding", form: str | None = None) -> DataFrame:
    """Encode: (id, c0..c{m-1}) byte codes via nearest-codeword per
    subspace.

    Two forms, picked by codebook size (PQ_LITERAL_ENTRY_CAP):
    - literal: a shuffle-free projection against literal codebooks,
      exactly like the IVF cell assignment (two selects so the sliced
      subvectors are computed once below the assignment expressions);
    - joined: subvectors stacked to (id, s, sv) rows, broadcast-joined
      to the codebook TABLE, nearest codeword picked by
      MIN(struct(l2, code_id)) — lexicographic struct MIN is the same
      selection as the sorted-array head (ORDER BY l2, code_id), the
      staged-oracle trick in Spark. One partial-aggregating shuffle on
      (id, s) replaces an expression tree that would not fit a vanilla
      driver heap at 8x256.
    Both compute the identical dot-form L2 (dvv - 2*dvc + cc, cc
    prefolded in Python), so the picked codes are bit-identical —
    pinned by tests on the demo geometry."""
    total = sum(len(cent) for _, cent in books)
    if form is None:
        form = "literal" if total <= PQ_LITERAL_ENTRY_CAP else "joined"
    if form == "literal":
        sub_len = len(books[0][1][0][1])
        sliced = corpus.select(
            F.col(id_col),
            *[F.slice(_as_double(vec_col), s * sub_len + 1, sub_len)
              .alias(f"_sv{s}") for s, _ in books])
        return sliced.select(
            F.col(id_col),
            *[F.element_at(
                _nearest_cells_expr(f"_sv{s}", cent, 1), 1)
              .alias(f"c{s}") for s, cent in books])
    cb = _codebook_df(corpus.sparkSession, books)
    # spread(): the per-(row, subspace, codeword) distance computes
    # below the broadcast join inherit the scan's width — 1-2 partitions
    # on a small parquet file would serialize the encode on 2 cores
    sub = _stacked_subvectors(spread(corpus, min_bytes=2 << 20), books,
                              id_col, vec_col,
                              out_id=id_col, out_vec="sv")
    picks = (
        sub.join(F.broadcast(cb), "s")
        .select(F.col(id_col), "s",
                F.struct(
                    (dot_col("sv", "sv")
                     - F.lit(2.0) * dot_col("sv", "cw")
                     + F.col("cc")).alias("l2"),
                    F.col("code_id").alias("code_id")).alias("st"))
        .groupBy(id_col, "s").agg(F.min("st").alias("m")))
    return picks.groupBy(id_col).agg(
        *[F.max(F.when(F.col("s") == s, F.col("m")["code_id"]))
          .alias(f"c{s}") for s, _ in books])


def pq_topk(corpus: DataFrame, queries: DataFrame, books: list, k: int = 5,
            id_col: str = "vec_id", vec_col: str = "embedding",
            round_to: int = 6, form: str | None = None) -> DataFrame:
    """ADC approximate inner-product top-k over PQ codes.

    Per-query LUTs (m_sub tables of k_codes dots against the codebooks)
    are computed ONCE on the tiny query side and broadcast; the corpus
    side is a linear scan of codes paying m_sub lookups + adds per row
    — the PQ serving contract. The score is the left-to-right sum of
    per-subspace lookups on the 1e-6 grid, so an ANSI oracle spelling
    the same l0+l1+l2+l3 chain reproduces every bit. `ivf_pq_topk`
    below composes this with the IVF cell filter for the full
    pruning x compression stack.

    Like `pq_codes`, two geometry-dispatched forms
    (PQ_LITERAL_ENTRY_CAP): literal map expressions for small demo
    books; for production books (8x256) the LUT is DATA — per-subspace
    (query_id, code_id, ip) rows broadcast into m_sub equi-joins
    against the code columns, exactly the registered oracles' lut_joins
    shape. Both forms are keyed by CODE ID, not array position: a Lloyd
    round can empty a seed cell (duplicate-heavy Zipf corpora — the r10
    sf1-zipf find), and id-keyed lookups are gap-safe."""
    total = sum(len(cent) for _, cent in books)
    if form is None:
        form = "literal" if total <= PQ_LITERAL_ENTRY_CAP else "joined"
    sub_len = len(books[0][1][0][1])
    codes = pq_codes(corpus, books, id_col, vec_col, form=form)
    q_sliced = queries.select(
        F.col(id_col).alias("query_id"),
        *[F.slice(_as_double(vec_col), s * sub_len + 1, sub_len)
          .alias(f"_qs{s}") for s, _ in books])
    if form == "literal":
        luts = q_sliced.select(
            "query_id",
            *[_pq_lut_expr(f"_qs{s}", cent).alias(f"lut{s}")
              for s, cent in books])
        score = F.element_at(F.col("lut0"), F.col("c0"))
        for s, _ in books[1:]:
            score = score + F.element_at(F.col(f"lut{s}"), F.col(f"c{s}"))
        scored = (codes.withColumnRenamed(id_col, "neighbor_id")
                  .join(F.broadcast(luts),
                        F.col("query_id") != F.col("neighbor_id"))
                  .withColumn("score", F.round(score, round_to)))
    else:
        cb = _codebook_df(corpus.sparkSession, books)
        qsub = _stacked_subvectors(queries, books, id_col, vec_col,
                                   out_id="query_id", out_vec="qs")
        lut = (qsub.join(F.broadcast(cb.select("s", "code_id", "cw")), "s")
               .select("query_id", "s", "code_id",
                       dot_col("qs", "cw").alias("ip")))
        scored = codes.withColumnRenamed(id_col, "neighbor_id")
        for s, _ in books:
            ls = (lut.filter(F.col("s") == s)
                  .select("query_id", F.col("code_id").alias(f"c{s}"),
                          F.col("ip").alias(f"_ip{s}")))
            on = [f"c{s}"] if s == 0 else ["query_id", f"c{s}"]
            scored = scored.join(F.broadcast(ls), on)
        score = F.col("_ip0")
        for s, _ in books[1:]:
            score = score + F.col(f"_ip{s}")
        scored = (scored.filter(F.col("query_id") != F.col("neighbor_id"))
                  .withColumn("score", F.round(score, round_to)))
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(),
                                          "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "score", "rank"))


def ivf_pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                n_cells: int = 16, n_probe: int = 4,
                m_sub: int = 4, k_codes: int = 16,
                id_col: str = "vec_id", vec_col: str = "embedding",
                round_to: int = 6, cent: list | None = None,
                books: list | None = None,
                form: str | None = None) -> DataFrame:
    """Composed IVF-PQ serving — the full FAISS IndexIVFPQ shape
    (Jégou et al. 2011 §V): the coarse quantizer PRUNES (each query
    scores only its n_probe nearest cells' members, O(corpus x
    n_probe / n_cells) candidates) and product quantization COMPRESSES
    (each candidate costs m_sub LUT lookups + adds over 1-byte codes,
    not D float multiplies). This is the 100 TB stack: raw vectors are
    never touched at serving time — the code table is 64x smaller than
    the corpus and the cell filter prunes before the code scan.

    Corpus side is one shuffle-free pass (cell assignment + PQ encoding
    against literal centroid/codebook metadata, computed in a second
    select so the sliced subvectors evaluate once below the assignment
    expressions); query side broadcasts (query, probed cell, LUT maps)
    rows. Every stage inherits the deterministic discipline of its
    parts (lowest-id seeds, integer-grid Lloyd means, dot-form L2,
    gap-safe map-keyed LUTs, 1e-6 score grid, id tiebreaks), so the
    composition has an exact ANSI mirror too.

    Like `pq_topk`, the PQ half is geometry-dispatched
    (PQ_LITERAL_ENTRY_CAP): production books (8x256) ride the
    broadcast data-join forms — joined codes, per-subspace LUT-row
    equi-joins layered on the cell-probe join — because their literal
    expression trees OOM a vanilla driver. The IVF half (16 literal
    centroids) stays an expression either way."""
    if cent is None:
        cent = ivf_centroids(corpus, n_cells, id_col, vec_col)
    if books is None:
        books = pq_codebooks(corpus, m_sub=m_sub, k_codes=k_codes,
                             id_col=id_col, vec_col=vec_col)
    total = sum(len(cb) for _, cb in books)
    if form is None:
        form = "literal" if total <= PQ_LITERAL_ENTRY_CAP else "joined"
    if form == "joined":
        cells = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.element_at(
                _nearest_cells_expr(_as_double(vec_col), cent, 1), 1)
            .alias("cell_id"))
        coded = cells.join(
            pq_codes(corpus, books, id_col, vec_col, form="joined")
            .withColumnRenamed(id_col, "neighbor_id"), "neighbor_id")
        probes = queries.select(
            F.col(id_col).alias("query_id"),
            F.explode(_nearest_cells_expr(_as_double(vec_col), cent,
                                          n_probe)).alias("cell_id"))
        cb = _codebook_df(corpus.sparkSession, books)
        qsub = _stacked_subvectors(queries, books, id_col, vec_col,
                                   out_id="query_id", out_vec="qs")
        lut = (qsub.join(F.broadcast(cb.select("s", "code_id", "cw")), "s")
               .select("query_id", "s", "code_id",
                       dot_col("qs", "cw").alias("ip")))
        scored = coded.join(F.broadcast(probes), "cell_id")
        for s, _ in books:
            ls = (lut.filter(F.col("s") == s)
                  .select("query_id", F.col("code_id").alias(f"c{s}"),
                          F.col("ip").alias(f"_ip{s}")))
            scored = scored.join(F.broadcast(ls), ["query_id", f"c{s}"])
        score = F.col("_ip0")
        for s, _ in books[1:]:
            score = score + F.col(f"_ip{s}")
        scored = (scored.filter(F.col("query_id") != F.col("neighbor_id"))
                  .withColumn("score", F.round(score, round_to)))
        w = W.partitionBy("query_id").orderBy(F.col("score").desc(),
                                              "neighbor_id")
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "neighbor_id", "score", "rank"))
    sub_len = len(books[0][1][0][1])
    sliced = corpus.select(
        F.col(id_col), _as_double(vec_col).alias("_v"),
        *[F.slice(_as_double(vec_col), s * sub_len + 1, sub_len)
          .alias(f"_sv{s}") for s, _ in books])
    coded = sliced.select(
        F.col(id_col).alias("neighbor_id"),
        F.element_at(_nearest_cells_expr("_v", cent, 1), 1)
        .alias("cell_id"),
        *[F.element_at(
            _nearest_cells_expr(f"_sv{s}", cb, 1), 1)
          .alias(f"c{s}") for s, cb in books])
    q_sliced = queries.select(
        F.col(id_col).alias("query_id"),
        _nearest_cells_expr(_as_double(vec_col), cent, n_probe)
        .alias("_cells"),
        *[F.slice(_as_double(vec_col), s * sub_len + 1, sub_len)
          .alias(f"_qs{s}") for s, _ in books])
    luts = q_sliced.select(
        "query_id", "_cells",
        *[_pq_lut_expr(f"_qs{s}", cb).alias(f"lut{s}")
          for s, cb in books])
    # LUTs are built once per query, THEN the probe list explodes — the
    # LUT map expressions never re-evaluate per probed cell
    probes = luts.select(
        "query_id", F.explode("_cells").alias("cell_id"),
        *[f"lut{s}" for s, _ in books])
    score = F.element_at(F.col("lut0"), F.col("c0"))
    for s, _ in books[1:]:
        score = score + F.element_at(F.col(f"lut{s}"), F.col(f"c{s}"))
    scored = (coded.join(F.broadcast(probes), "cell_id")
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .withColumn("score", F.round(score, round_to)))
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(),
                                          "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "score", "rank"))
