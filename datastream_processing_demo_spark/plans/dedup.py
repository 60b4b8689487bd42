"""Deduplication operators (SURVEY.md §2.2 dedup row + the LLM-pipeline
dedup family): exact row dedup, key dedup keep-first-by-order, and — in
the llm section below — content-hash dedup over documents.

Near-dup detection (MinHash/SimHash/n-gram Jaccard) lives in text.py /
similarity.py companions; this module is exact-match semantics.

Scale notes: exact dedup is a hash aggregate (map-side combinable);
keep-first is a window over the dedup key — both shuffle once on the
key, no driver-side state. dropDuplicates() picks an ARBITRARY survivor
(nondeterministic across runs/cluster layouts), so the engine's
deterministic idiom is row_number()==1 with a total tiebreak order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ._util import t
from .registry import query


@query(
    "dedup_exact_rows", "dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    description="exact row dedup (DISTINCT / dropDuplicates over projection)",
)
def dedup_exact_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return e.select("user_id", "event_type").dropDuplicates()


@query(
    "dedup_keep_first", "dedup",
    oracle="""
    SELECT user_id, event_type, event_id, value
    FROM (
        SELECT user_id, event_type, event_id, value,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ) x
    WHERE rn = 1
    """,
    description="key dedup keeping the first row by a deterministic order",
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "value")
    )


@query(
    "dedup_ngram_jaccard", "dedup",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
                   i -> array_to_string(
                       list_slice(string_split(text, ' '), i, i + 2), ' '))))
                   AS shingle
        FROM documents),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b, common,
           sa.n AS size_a, sb.n AS size_b,
           CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.5
    """,
    description="exact 3-gram Jaccard near-dups via inverted-index join",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs
    return ngram_jaccard_pairs(t(spark, sf_dir, "documents"), threshold=0.5, n=3)


@query(
    "dedup_minhash_lsh", "dedup",
    # The PRODUCTION xxhash64 path under an exact driver verdict (green
    # r4). The lane is the full production pipeline — xxhash64
    # MinHash(64) signatures -> 16-band x 4-row LSH bucket join ->
    # exact-Jaccard VERIFY of candidates only (array_intersect per
    # candidate pair, bounded by the candidate count, never by n²). The
    # verify stage makes precision exact BY CONSTRUCTION; recall is the
    # LSH banding's, deterministic for a fixed corpus (xxhash64 is a
    # fixed function). r5 hardening (ADVICE r4 zero-margin finding):
    # 32 hashes/8 bands -> 64 hashes/16 bands. Row width stays 4, so
    # the per-band threshold (1/b)^(1/r) ~ 0.5 is unchanged and the
    # candidate count doesn't move (measured: 256 pairs at sf0.1 for
    # both geometries; the rejected 2-row alternative ballooned to
    # 2225), while per-pair miss probability at j=0.8 falls from
    # (1-0.8^4)^8 ~ 1.5e-2 to (1-0.8^4)^16 ~ 2.2e-4 — ~70x recall
    # headroom for the exact oracle. tests/test_llm_ops.py
    # (recall-margin test) fails loudly with per-pair diagnostics if a
    # fixture change ever produces a missed true pair.
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
                   i -> array_to_string(
                       list_slice(string_split(text, ' '), i, i + 2), ' '))))
                   AS shingle
        FROM documents),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.8
    """,
    description="production MinHash(64)+LSH(16x4 bands) -> exact-Jaccard verify: the full near-dup pipeline, exact-oracled",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        doc_shingles,
        lsh_candidate_pairs,
        minhash_signatures_from_shingles,
    )
    docs = t(spark, sf_dir, "documents")
    # ONE full-corpus tokenize pass, PIPELINED straight into the
    # signature aggregate (scan -> explode -> map-combinable min-agg,
    # nothing materialized); the r4 defect was a SECOND full-corpus
    # tokenize+collect_set for the verify. Measured at sf0.1: pipelining
    # beats localCheckpointing the 260k-row shingle stream (2.4s vs
    # 3.1s end-to-end) because the checkpoint's serialize+store costs
    # more than the explode it saves — the bigram-logprob pattern pays
    # off only when MULTIPLE consumers need the same WIDE stream; here
    # the verify needs shingles for candidate docs alone.
    sh = doc_shingles(docs, "doc_id", "text", 3)
    cands = (lsh_candidate_pairs(
                 minhash_signatures_from_shingles(sh, num_hashes=64),
                 bands=16)
             .select("doc_a", "doc_b")
             .localCheckpoint())  # tiny; read 3x in the verify
    return _verified_pairs(docs, cands, threshold=0.8)


def _candidate_shingle_sets(docs: DataFrame, cands: DataFrame,
                            n: int = 3) -> DataFrame:
    """Verify-stage set build, exposed UN-materialized for plan audits:
    semi-join the base table to the candidate ids FIRST, so only
    candidate docs are re-tokenized and pay the collect_set shuffle —
    non-candidates never enter the verify at all."""
    from ..operators.dedup import doc_shingles
    cand_ids = (cands.select(F.col("doc_a").alias("doc_id"))
                .union(cands.select(F.col("doc_b").alias("doc_id")))
                .distinct())
    cand_docs = docs.join(F.broadcast(cand_ids), "doc_id", "left_semi")
    return (doc_shingles(cand_docs, "doc_id", "text", n)
            .groupBy("doc_id")
            .agg(F.collect_set("shingle").alias("sh")))


def _verified_pairs(docs: DataFrame, cands: DataFrame,
                    threshold: float, n: int = 3) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs: intersection via
    array_intersect over per-candidate-doc distinct shingle sets.
    Cost is O(candidates · doc_len), never O(n²)."""
    sets = _candidate_shingle_sets(docs, cands, n) \
        .localCheckpoint()        # candidate-count rows; read twice (a+b)
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - common
    return (cands.join(a, "doc_a").join(b, "doc_b")
            .withColumn("jaccard",
                        common.cast("double") / union.cast("double"))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


def _minhash_portable_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB oracle for the portable MinHash+LSH — generated from the
    SAME permutation coefficients the Spark operator uses (no drift).
    Base hash, permutations, mins, banding: all exact integer/string
    operations both engines reproduce bit-for-bit."""
    from ..operators.dedup import MINHASH_P, minhash_perm_coeffs
    rows = num_hashes // bands
    min_exprs = ",\n               ".join(
        f"min((x * {minhash_perm_coeffs(i)[0]} + {minhash_perm_coeffs(i)[1]})"
        f" % {MINHASH_P}) AS h{i}"
        for i in range(num_hashes))
    sig_list = ", ".join(f"h{i}" for i in range(num_hashes))
    return f"""
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
                   i -> array_to_string(
                       list_slice(string_split(text, ' '), i, i + 2), ' '))))
                   AS shingle
        FROM documents),
    hx AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT)
                   % {MINHASH_P} AS x
        FROM sh),
    sig AS (
        SELECT doc_id,
               {min_exprs}
        FROM hx GROUP BY doc_id),
    arr AS (SELECT doc_id, [{sig_list}] AS s FROM sig),
    banded AS (
        SELECT doc_id, bt.b AS band,
               array_to_string(
                   list_slice(s, bt.b * {rows} + 1, (bt.b + 1) * {rows}), ',')
                   AS key
        FROM arr CROSS JOIN (SELECT unnest(range({bands})) AS b) bt)
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
    FROM banded a
    JOIN banded c ON a.band = c.band AND a.key = c.key
                 AND a.doc_id < c.doc_id
    GROUP BY 1, 2
    """


@query(
    "dedup_minhash_portable", "dedup",
    oracle=_minhash_portable_oracle(),
    description="portable-hash MinHash(16) + LSH(4 bands), exact-oracled banding",
)
def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same banding algorithm as dedup_minhash_lsh but over the md5-based
    # portable hash family, so the ENTIRE MinHash->band->bucket-join
    # pipeline sits under the exact-hash driver gate (the xxhash64
    # variant stays the production path: JVM codegen, no string md5).
    from ..operators.dedup import (
        lsh_portable_candidate_pairs,
        minhash_portable_signatures,
    )
    sigs = minhash_portable_signatures(t(spark, sf_dir, "documents"),
                                       num_hashes=16, n=3)
    return lsh_portable_candidate_pairs(sigs, bands=4)


# Exact all-pairs Jaccard>=0.9 ground truth over 3-word shingles — the
# shared oracle of every SimHash candidate lane (the verify stage makes
# precision exact; the oracle therefore checks RECALL of the blocking).
_SHINGLE3_JACCARD09_TRUTH = """
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
                   i -> array_to_string(
                       list_slice(string_split(text, ' '), i, i + 2), ' '))))
                   AS shingle
        FROM documents),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.9
    """


@query(
    "dedup_simhash", "dedup",
    # The PRODUCTION fixed-width SimHash pipeline: 4 x 63-bit xxhash64
    # words -> pigeonhole-with-probes block join at radius 40 ->
    # exact-Jaccard VERIFY at 0.9. The verify makes precision exact and
    # the pigeonhole guarantees recall within the radius, so
    # output == all-pairs truth whenever every true pair sits inside
    # the radius.
    # WIDTH HISTORY (VERDICT r9 task #6): this lane shipped r4-r9 as
    # 1 x 63 bits at radius 10 — the registry's only sf1 oracle miss,
    # twice (3/2490 true pairs at hamming 11-14 escaped; recall
    # 99.88%). Hamming FRACTION concentrates as the hash widens
    # (variance ~ 1/width), so the fix is width at the same fraction
    # threshold. 252 bits/radius 40 is the width the FULL-registry sf1
    # sweeps (uniform + Zipf) certified bit-exact via dedup_simhash_auto
    # — NOT the minimal safe 126 bits, because width also buys candidate
    # precision: at 126 bits this tiny-vocab corpus piles 4.2M
    # near-threshold pairs inside the radius and the exact verify ate
    # 186 s at sf1 (BASELINE.md r9). The 1 x 63 boundary stays pinned in
    # tests/test_simhash_auto.py::test_width_recovers_radius_boundary_pair
    # and the hamming<=8 candidates lane stays exact-gated via
    # dedup_simhash_portable + dedup_simhash_recall.
    # Difference from dedup_simhash_auto: the width here is a FIXED
    # deployment constant — no corpus COUNT(*) job before planning —
    # which is what a production pipeline with a known corpus envelope
    # runs; auto derives the same 4 words below 2^60 docs.
    oracle=_SHINGLE3_JACCARD09_TRUTH,
    description="production fixed-width SimHash (4x63-bit words, radius-40 pigeonhole+probes) -> exact-Jaccard verify: full near-dup pipeline, exact-oracled",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        SIMHASH_BASE_RADIUS,
        simhash_multiword_df,
        simhash_multiword_near_pairs,
    )
    words = 4  # fixed production width; see WIDTH HISTORY above
    docs = t(spark, sf_dir, "documents")
    # the simhash itself reads word tokens, not shingles, so there is
    # no shared stream to materialize — the win is the shared verify's
    # candidate prune (_candidate_shingle_sets): only candidate docs
    # are shingled and collect_set-shuffled.
    cands = (simhash_multiword_near_pairs(
                 simhash_multiword_df(docs, words=words),
                 radius=SIMHASH_BASE_RADIUS * words, words=words)
             .select("doc_a", "doc_b")
             .localCheckpoint())  # tiny; read 3x in the verify
    return _verified_pairs(docs, cands, threshold=0.9)


def _simhash_portable_oracle(bits: int = 60, max_hamming: int = 8) -> str:
    """DuckDB oracle mirroring the portable SimHash + pigeonhole pairs:
    md5-based 60-bit token hash, ±1 bit votes, block join, bit_count."""
    n_blocks = max_hamming + 1
    bits_per = bits // n_blocks
    mask = (1 << bits_per) - 1
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
    hx AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
        FROM toks),
    votes AS (
        SELECT doc_id, bt.bit,
               SUM(((h >> bt.bit) & 1) * 2 - 1) AS total
        FROM hx CROSS JOIN (SELECT unnest(range({bits})) AS bit) bt
        GROUP BY doc_id, bt.bit),
    sims AS (
        SELECT doc_id,
               SUM(CASE WHEN total > 0
                        THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS simhash
        FROM votes GROUP BY doc_id),
    blocked AS (
        SELECT doc_id, simhash, bt.i AS block_idx,
               (simhash >> (bt.i * {bits_per})) & {mask} AS block_val
        FROM sims CROSS JOIN (SELECT unnest(range({n_blocks})) AS i) bt)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM blocked a
    JOIN blocked b ON a.block_idx = b.block_idx
                  AND a.block_val = b.block_val
                  AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    GROUP BY 1, 2, 3
    """


@query(
    "dedup_simhash_portable", "dedup",
    oracle=_simhash_portable_oracle(),
    description="portable-hash 60-bit SimHash pairs (hamming <= 8), exact-oracled",
)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same pigeonhole-blocked algorithm as dedup_simhash but over the
    # md5-based portable hash, putting the vote/blocking/Hamming logic
    # under the exact-hash driver gate (xxhash64 stays the fast path).
    from ..operators.dedup import simhash_col_df, simhash_near_pairs
    sims = simhash_col_df(t(spark, sf_dir, "documents"), bits=60,
                          portable=True)
    return simhash_near_pairs(sims, max_hamming=8, bits=60)


@query(
    "dedup_content_hash", "dedup",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    description="exact content dedup via hash-groupBy (keeper = min id)",
)
def dedup_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# Shared by dedup_cluster_canonical (min-label lane) and its r10
# large-star/small-star twin: the same transitive-closure fixpoint via a
# recursive CTE.
_CLUSTER_CC_ORACLE = """
    WITH RECURSIVE sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
                   i -> array_to_string(
                       list_slice(string_split(text, ' '), i, i + 2), ' '))))
                   AS shingle
        FROM documents),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    pairs AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.5),
    edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(node, lab) AS (
        SELECT s, s FROM edges
        UNION
        SELECT e.s, r.lab FROM edges e JOIN reach r ON r.node = e.d)
    SELECT node AS doc_id, MIN(lab) AS cluster_id,
           node = MIN(lab) AS is_canonical
    FROM reach GROUP BY node
    """


@query(
    "dedup_cluster_canonical", "dedup",
    oracle=_CLUSTER_CC_ORACLE,
    description="near-dup cluster assignment: connected components over Jaccard pairs",
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Transitive closure of the >=0.5-Jaccard relation: each document in
    # any near-dup pair gets cluster_id = min reachable doc_id (the
    # canonical survivor). Spark side runs min-label propagation
    # (operators/components.py); the oracle computes the same fixpoint
    # with a recursive CTE.
    from ..operators.components import min_label_components
    from ..operators.dedup import ngram_jaccard_pairs
    pairs = ngram_jaccard_pairs(t(spark, sf_dir, "documents"),
                                threshold=0.5, n=3)
    comp = min_label_components(pairs.select("doc_a", "doc_b"),
                                src="doc_a", dst="doc_b")
    return comp.select(
        F.col("node").alias("doc_id"), "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("is_canonical"))


_TRUE_PAIRS_09_SQL = """
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
                   i -> array_to_string(
                       list_slice(string_split(text, ' '), i, i + 2), ' '))))
                   AS shingle
        FROM documents),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.8
    """


@query(
    "dedup_minhash_recall", "dedup",
    # The xxhash64 MinHash+LSH candidate SET is engine-internal, but its
    # RECALL CONTRACT against the exactly-SQL-computable truth is not:
    # every true pair (3-gram Jaccard >= 0.8) must appear among the LSH
    # candidates. xxhash64 is a fixed function, so for a given corpus
    # the outcome is deterministic; a banding bug, signature truncation,
    # or bucket-join regression flips a found flag and hash-fails.
    # GEOMETRY (re-specced r11, the dedup_simhash playbook): this lane
    # shipped r1-r10 at 32 hashes / 8 bands, whose full-recall outcome
    # proved CORPUS-SIZE-CONTINGENT — the r10 sf10 oracle sweep lost
    # 2 of 25,600 true pairs at j~0.8, exactly where banding theory puts
    # the first expected escapes ((1-0.8^4)^8 ~ 1e-2 per pair x 25.6k
    # pairs >> 1). The contract lane now ships at the PRODUCTION 64/16
    # geometry (per-pair miss ~2.2e-4, ~70x headroom), which measured
    # full recall at the same sf10 sweep — the certified width, exactly
    # how dedup_simhash moved to 4x63 in r10. The 32/8 boundary stays
    # regression-pinned in tests/test_llm_ops.py (test_minhash_lsh_recall
    # + test_minhash_64hash_margin's superset assertion), and
    # dedup_minhash_recall_auto (below) remains the corpus-sized-bands
    # twin that keeps the contract exact at ANY rehearsed scale.
    oracle=f"""
    SELECT doc_a, doc_b, CAST(1 AS BIGINT) AS found
    FROM ({_TRUE_PAIRS_09_SQL})
    """,
    description="MinHash+LSH recall contract at the production 64/16 geometry: every exact Jaccard>=0.8 pair is a candidate",
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )
    docs = t(spark, sf_dir, "documents")
    true_pairs = (ngram_jaccard_pairs(docs, threshold=0.8, n=3)
                  .select("doc_a", "doc_b"))
    cands = (lsh_candidate_pairs(minhash_signatures(docs, num_hashes=64, n=3),
                                 bands=16)
             .select("doc_a", "doc_b").distinct()
             .withColumn("_hit", F.lit(1)))
    return (true_pairs.join(cands, ["doc_a", "doc_b"], "left")
            .select("doc_a", "doc_b",
                    F.coalesce(F.col("_hit"), F.lit(0)).cast("long")
                    .alias("found")))


@query(
    "dedup_simhash_recall", "dedup",
    # SimHash hamming distance correlates with similarity but carries no
    # per-pair guarantee (unlike the pigeonhole blocking, which finds
    # ALL pairs within max_hamming exactly), so the driver-checkable
    # contract is aggregate: the count of true pairs (exact SQL) plus a
    # flag that the 63-bit SimHash places >= 90% of them within
    # hamming 8 — deterministic for a fixed corpus (xxhash64 is a fixed
    # function; pinned by tests/test_llm_ops.py since round 1).
    oracle=f"""
    SELECT COUNT(*) AS n_true, CAST(1 AS BIGINT) AS recall_ge_90
    FROM ({_TRUE_PAIRS_09_SQL})
    """,
    description="SimHash recall contract: >=90% of exact Jaccard>=0.8 pairs within hamming 8",
)
def dedup_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        ngram_jaccard_pairs,
        simhash_col_df,
        simhash_near_pairs,
    )
    docs = t(spark, sf_dir, "documents")
    true_pairs = (ngram_jaccard_pairs(docs, threshold=0.8, n=3)
                  .select("doc_a", "doc_b"))
    near = (simhash_near_pairs(simhash_col_df(docs), max_hamming=8)
            .select("doc_a", "doc_b").distinct()
            .withColumn("_hit", F.lit(1)))
    joined = true_pairs.join(near, ["doc_a", "doc_b"], "left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_true"),
        (F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
         >= 0.9 * F.count(F.lit(1))).cast("long").alias("recall_ge_90"))


@query(
    "dedup_decontaminate", "dedup",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    ng AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(ws, i, i + 7), ' ') AS gram
        FROM w, unnest(generate_series(1, greatest(len(ws) - 7, 0))) AS t(i)
    ),
    ev AS (SELECT * FROM ng WHERE doc_id % 20 = 0),
    tr AS (SELECT * FROM ng WHERE doc_id % 20 <> 0)
    SELECT tr.doc_id AS doc_id,
           COUNT(DISTINCT tr.gram) AS n_shared_grams,
           COUNT(DISTINCT ev.doc_id) AS n_eval_docs
    FROM tr JOIN ev ON tr.gram = ev.gram
    GROUP BY tr.doc_id
    """,
    description="train/eval decontamination: 8-gram overlap vs held-out docs",
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word 8-gram with the held-out eval split (here the deterministic
    doc_id % 20 == 0 slice stands in for the benchmark set).

    The standard training-data hygiene pass (GPT-3 appendix C / PaLM
    style 8-gram collision check). Scale posture: the eval side is a
    benchmark suite — thousands of docs of fixed size, not a corpus
    slice that grows with the data (the % 20 split here is only the
    sandbox stand-in) — so it broadcasts, and the 100 TB training side
    never shuffles by gram: it explodes grams map-side (per-doc
    distinct via array_distinct, within-row) and aggregates once on
    doc_id. What is broadcast here is the eval (gram, eval_doc) pair
    set, because this query attributes n_eval_docs per hit; a pure
    drop-contaminated pass broadcasts just the distinct gram set (see
    examples/training_data_pipeline.py) or, at extreme eval sizes, a
    bloom filter on gram hash — same shape, lossy-but-tunable
    membership. The exact join here IS the oracle.

    Per-doc gram dedup is array_distinct BEFORE the explode — within-row,
    so it costs zero shuffle (a post-explode .distinct() would shuffle
    the entire gram stream, the thing this plan exists to avoid).
    """
    from ..operators.spread import spread
    from ..operators.text import exploded_ngrams

    docs = spread(t(spark, sf_dir, "documents"))
    grams = exploded_ngrams(docs, 8)
    ev = (grams.filter(F.col("doc_id") % 20 == 0)
          .withColumnRenamed("doc_id", "eval_doc_id"))
    tr = grams.filter(F.col("doc_id") % 20 != 0)
    return (tr.join(F.broadcast(ev), "gram")
            .groupBy("doc_id")
            .agg(F.countDistinct("gram").alias("n_shared_grams"),
                 F.countDistinct("eval_doc_id").alias("n_eval_docs")))


@query(
    "dedup_corpus_dup_fraction", "dedup",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    ng AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(ws, i, i + 4), ' ') AS gram
        FROM w, unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS t(i)
    ),
    hot AS (SELECT gram FROM ng GROUP BY gram HAVING COUNT(*) >= 2)
    SELECT ng.doc_id AS doc_id,
           COUNT(*) AS n_grams,
           COUNT(hot.gram) AS n_dup_grams,
           ROUND(CAST(COUNT(hot.gram) AS DOUBLE) / COUNT(*), 6)
               AS dup_fraction,
           CAST(COUNT(hot.gram) AS DOUBLE) / COUNT(*) > 0.5 AS is_near_dup
    FROM ng LEFT JOIN hot ON ng.gram = hot.gram
    GROUP BY ng.doc_id
    """,
    description="per-doc fraction of 5-grams duplicated elsewhere in the corpus",
)
def dedup_corpus_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style duplicated-span fraction: for each doc,
    the share of its distinct word 5-grams that appear in >= 2 docs
    corpus-wide; docs above 0.5 are near-dup suspects.

    Unlike pairwise near-dup (MinHash et al.) this needs no candidate
    pairs at all: one explode + per-doc distinct, one gram-count
    aggregate, one join back, one doc aggregate. The `hot` side keeps
    ONLY duplicated grams (a tiny slice of the gram universe — unique
    grams, the overwhelming majority at corpus scale, are filtered
    before the join), so AQE can usually broadcast it; otherwise it is
    an equi-shuffle on gram. No quadratic term anywhere. Per-doc gram
    dedup is array_distinct before the explode (within-row, shuffle-free
    — see dedup_decontaminate).
    """
    from ..operators.spread import spread
    from ..operators.text import exploded_ngrams

    docs = spread(t(spark, sf_dir, "documents"))
    gd = exploded_ngrams(docs, 5)
    hot = (gd.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df") >= 2)
           .select("gram", F.lit(1).alias("_hit")))
    j = gd.join(hot, "gram", "left")
    n_grams = F.count(F.lit(1))
    n_dup = F.count("_hit")
    frac = n_dup.cast("double") / n_grams
    return (j.groupBy("doc_id")
            .agg(n_grams.alias("n_grams"),
                 n_dup.alias("n_dup_grams"),
                 F.round(frac, 6).alias("dup_fraction"),
                 (frac > 0.5).alias("is_near_dup")))


# --- portable bloom-filter decontamination --------------------------------
# The "extreme eval sizes" swap documented on dedup_decontaminate, as real
# code: instead of broadcasting the eval gram set (grows with the eval
# corpus), broadcast its BLOOM BITMAP — at most M distinct bit positions
# (here M = 2^16) no matter how many eval grams exist. The hash family is
# md5-derived (portable), so Spark and DuckDB build the SAME bitmap and
# flag the SAME docs — the oracle is exact INCLUDING the false positives.
_BLOOM_K, _BLOOM_M = 4, 1 << 16


def _bloom_pos_spark(i: int):
    return (F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{i}:"), F.col("gram")).cast("binary")),
        1, 15), 16, 10).cast("long") % _BLOOM_M)


def _bloom_oracle() -> str:
    return f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    ng AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(ws, i, i + 7), ' ') AS gram
        FROM w, unnest(generate_series(1, greatest(len(ws) - 7, 0))) AS t(i)
    ),
    ks AS (SELECT unnest(range({_BLOOM_K})) AS i),
    evpos AS (
        SELECT DISTINCT
               CAST(concat('0x', substr(md5(concat(ks.i, ':', gram)), 1, 15))
                    AS BIGINT) % {_BLOOM_M} AS pos
        FROM (SELECT gram FROM ng WHERE doc_id % 20 = 0 GROUP BY gram)
        CROSS JOIN ks),
    trpos AS (
        SELECT doc_id, gram,
               CAST(concat('0x', substr(md5(concat(ks.i, ':', gram)), 1, 15))
                    AS BIGINT) % {_BLOOM_M} AS pos
        FROM (SELECT doc_id, gram FROM ng WHERE doc_id % 20 <> 0)
        CROSS JOIN ks),
    hits AS (
        SELECT doc_id, gram, COUNT(*) AS n_in
        FROM trpos JOIN evpos USING (pos)
        GROUP BY doc_id, gram)
    SELECT doc_id, COUNT(*) AS n_bloom_grams
    FROM hits WHERE n_in = {_BLOOM_K}
    GROUP BY doc_id
    """


@query(
    "dedup_decontaminate_bloom", "dedup",
    oracle=_bloom_oracle(),
    description="bloom-filter decontamination: bounded-size bitmap broadcast, portable hashes, exact oracle incl. false positives",
)
def dedup_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via a portable bloom filter: eval grams set K=4
    bits in an M=2^16-bit bloom; a training gram is flagged when ALL
    its K positions are set. The bitmap rides as a distinct-position
    relation (<= M rows regardless of eval size — the bounded-broadcast
    property that makes this the extreme-eval-scale path), broadcast
    into an equi-join; the training side stays map-side explode + one
    aggregate, exactly like the exact variant.

    Bloom guarantees no false negatives (every exactly-contaminated doc
    appears here; asserted in tests/test_llm_ops.py against
    dedup_decontaminate) and the md5 hash family is engine-portable, so
    the DuckDB oracle reproduces the bitmap bit-for-bit — even the
    false positives match exactly.
    """
    from ..operators.spread import spread
    from ..operators.text import exploded_ngrams

    docs = spread(t(spark, sf_dir, "documents"))
    grams = exploded_ngrams(docs, 8)
    pos_arr = F.array(*[_bloom_pos_spark(i) for i in range(_BLOOM_K)])
    ev_pos = (grams.filter(F.col("doc_id") % 20 == 0)
              .select(F.explode(pos_arr).alias("pos")).distinct())
    tr_pos = (grams.filter(F.col("doc_id") % 20 != 0)
              .select("doc_id", "gram", F.explode(pos_arr).alias("pos")))
    hits = (tr_pos.join(F.broadcast(ev_pos), "pos")
            .groupBy("doc_id", "gram")
            .agg(F.count(F.lit(1)).alias("n_in")))
    return (hits.filter(F.col("n_in") == _BLOOM_K)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bloom_grams")))


@query(
    "dedup_incremental_delta", "dedup",
    # Incremental ingest dedup — the shape every continuously-growing
    # training corpus needs: a NEW shard (sources src10..src19) lands
    # next to the EXISTING corpus (src0..src9); keep only new docs
    # whose normalized content hash (1) does not already exist in the
    # corpus and (2) is not a duplicate within the shard (keep-first by
    # doc_id). SCALE: the existing side reduces to DISTINCT hashes
    # (Catalyst/AQE broadcasts while small; at 100 TB it is a correct
    # hash-keyed anti join — the new shard, not the corpus, drives the
    # shuffle size, and the corpus hash set is exactly the incremental
    # state a production pipeline persists between ingests). The
    # within-shard keep-first is one window over the same hash key, so
    # both steps share a single partitioning.
    oracle="""
    WITH tagged AS (
        SELECT doc_id, source, md5(text) AS content_md5,
               CAST(substr(source, 4) AS INT) >= 10 AS is_new
        FROM documents),
    existing AS (SELECT DISTINCT content_md5 FROM tagged WHERE NOT is_new),
    fresh AS (
        SELECT t.doc_id, t.source, t.content_md5
        FROM tagged t
        WHERE t.is_new
          AND t.content_md5 NOT IN (SELECT content_md5 FROM existing)),
    ranked AS (
        SELECT doc_id, source, content_md5,
               row_number() OVER (PARTITION BY content_md5
                                  ORDER BY doc_id) AS rn
        FROM fresh)
    SELECT doc_id, source, content_md5 FROM ranked WHERE rn = 1
    """,
    description="incremental shard dedup: anti-join new docs against existing corpus hashes, keep-first within shard",
)
def dedup_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tagged = docs.select(
        "doc_id", "source",
        F.md5(F.col("text").cast("binary")).alias("content_md5"),
        # unbounded suffix to match the oracle's substr(source, 4) —
        # a fixed length-10 slice would silently mis-tag shard names
        # whose numeric suffix exceeds 10 chars (ADVICE r5)
        (F.expr("substring(source, 4)").cast("int") >= 10).alias("is_new"))
    existing = (tagged.filter(~F.col("is_new"))
                .select("content_md5").distinct())
    fresh = (tagged.filter(F.col("is_new"))
             .join(existing, "content_md5", "left_anti"))
    w = W.partitionBy("content_md5").orderBy("doc_id")
    return (fresh.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "source", "content_md5"))


def _minhash_incremental_oracle(num_hashes: int = 16, bands: int = 4,
                                threshold: float = 0.8) -> str:
    """DuckDB mirror of the incremental NEAR-dup ingest — generated from
    the SAME permutation coefficients as the Spark operator (no drift),
    banding INCLUDED (no recall assumption: a true pair the banding
    misses is missed identically on both sides)."""
    from ..operators.dedup import MINHASH_P, minhash_perm_coeffs
    rows = num_hashes // bands
    min_exprs = ",\n               ".join(
        f"min((x * {minhash_perm_coeffs(i)[0]} + {minhash_perm_coeffs(i)[1]})"
        f" % {MINHASH_P}) AS h{i}"
        for i in range(num_hashes))
    sig_list = ", ".join(f"h{i}" for i in range(num_hashes))
    return f"""
    WITH d AS (
        SELECT doc_id, source, text,
               CAST(substr(source, 4) AS INT) >= 10 AS is_new
        FROM documents),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
                   i -> array_to_string(
                       list_slice(string_split(text, ' '), i, i + 2), ' '))))
                   AS shingle
        FROM d),
    hx AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT)
                   % {MINHASH_P} AS x
        FROM sh),
    sig AS (SELECT doc_id,
               {min_exprs}
            FROM hx GROUP BY doc_id),
    arr AS (SELECT doc_id, [{sig_list}] AS s FROM sig),
    banded AS (
        SELECT doc_id, bt.b AS band,
               array_to_string(
                   list_slice(s, bt.b * {rows} + 1, (bt.b + 1) * {rows}), ',')
                   AS key
        FROM arr CROSS JOIN (SELECT unnest(range({bands})) AS b) bt),
    bn AS (SELECT banded.*, d.is_new FROM banded JOIN d USING (doc_id)),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CASE WHEN a.is_new THEN 'i' ELSE 'x' END AS kind
        FROM bn a JOIN bn b ON a.band = b.band AND a.key = b.key
        WHERE b.is_new AND (NOT a.is_new OR a.doc_id < b.doc_id)
        GROUP BY 1, 2, 3),
    sizes AS (SELECT doc_id, COUNT(*) AS sn FROM sh GROUP BY doc_id),
    common AS (
        SELECT c.doc_a, c.doc_b, c.kind, COUNT(*) AS cm
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        GROUP BY 1, 2, 3),
    ver AS (
        SELECT doc_a, doc_b, kind
        FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(cm AS DOUBLE) / (sa.sn + sb.sn - cm) >= {threshold}),
    nc AS (SELECT doc_b AS doc_id, COUNT(*) AS n FROM ver
           WHERE kind = 'x' GROUP BY 1),
    ns AS (SELECT doc_id, COUNT(*) AS n FROM (
               SELECT doc_a AS doc_id FROM ver WHERE kind = 'i'
               UNION ALL
               SELECT doc_b FROM ver WHERE kind = 'i') GROUP BY 1),
    sm AS (SELECT doc_b AS doc_id, COUNT(*) AS n FROM ver
           WHERE kind = 'i' GROUP BY 1)
    SELECT s.doc_id, s.source,
           CAST(COALESCE(nc.n, 0) AS BIGINT) AS n_corpus_dups,
           CAST(COALESCE(ns.n, 0) AS BIGINT) AS n_shard_dups,
           COALESCE(nc.n, 0) = 0 AND COALESCE(sm.n, 0) = 0 AS is_kept
    FROM d s
    LEFT JOIN nc ON s.doc_id = nc.doc_id
    LEFT JOIN ns ON s.doc_id = ns.doc_id
    LEFT JOIN sm ON s.doc_id = sm.doc_id
    WHERE s.is_new
    """


@query(
    "dedup_minhash_incremental", "dedup",
    # Incremental NEAR-dup ingest: the MinHash+LSH analogue of
    # dedup_incremental_delta (exact hashes). The corpus participates
    # only through its banded signature index — the persisted state
    # between ingests; shard bands bucket-join it (shard-driven shuffle)
    # and shard-internal candidates come from the same banding; the
    # exact-Jaccard verify re-tokenizes candidate docs only. Keep rule:
    # survive iff no verified corpus dup and no verified smaller-id
    # shard dup (min-id dominance — deterministic, non-recursive, and
    # mirrored in the oracle banding-included so there is no recall
    # assumption). Portable md5 hash family so the whole pipeline sits
    # under the exact driver gate; the xxhash64 production family swaps
    # in via the same operators.
    oracle=_minhash_incremental_oracle(16, 4, 0.8),
    description="incremental near-dup ingest: shard vs persisted corpus LSH index + shard-internal keep-first, exact-Jaccard verified",
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_incremental_delta
    docs = t(spark, sf_dir, "documents")
    tagged = docs.select(
        "doc_id", "source", "text",
        (F.expr("substring(source, 4)").cast("int") >= 10).alias("is_new"))
    res = minhash_incremental_delta(tagged.filter(~F.col("is_new")),
                                    tagged.filter(F.col("is_new")))
    return (tagged.filter(F.col("is_new")).select("doc_id", "source")
            .join(res, "doc_id")
            .select("doc_id", "source", "n_corpus_dups", "n_shard_dups",
                    "is_kept"))


@query(
    "dedup_minhash_incremental_persisted", "dedup",
    # The PRODUCTION shape of the incremental near-dup ingest (VERDICT
    # r6 task #4): the corpus (band, key, id) LSH index is WRITTEN to
    # parquet (partitionBy band — the bucket-join key prunes whole
    # directories at 100 TB) as the previous ingest would have left it,
    # then RELOADED and passed to minhash_incremental_delta as
    # `corpus_bands` — the corpus TEXT is touched only by the verify's
    # candidate-id semi-join, never re-signatured. Oracle identical to
    # the inline lane: the parquet round-trip must be semantically
    # invisible (band int + exact CSV key strings survive the write).
    oracle=_minhash_incremental_oracle(16, 4, 0.8),
    description="incremental near-dup ingest via a RELOADED parquet LSH index: corpus text never re-signatured",
)
def dedup_minhash_incremental_persisted(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..operators.dedup import (
        minhash_incremental_delta,
        minhash_portable_bands,
        minhash_portable_signatures,
    )
    docs = t(spark, sf_dir, "documents")
    tagged = docs.select(
        "doc_id", "source", "text",
        (F.expr("substring(source, 4)").cast("int") >= 10).alias("is_new"))
    corpus = tagged.filter(~F.col("is_new"))
    shard = tagged.filter(F.col("is_new"))
    # "previous ingest" simulation: build + persist the corpus index.
    # Per-application dir so concurrent sessions never clobber each
    # other; overwrite keeps reruns within a session deterministic.
    idx_dir = os.path.join(tempfile.gettempdir(), "dsdemo_minhash_index",
                           spark.sparkContext.applicationId)
    (minhash_portable_bands(minhash_portable_signatures(corpus), bands=4)
     .write.mode("overwrite").partitionBy("band").parquet(idx_dir))
    corpus_bands = spark.read.parquet(idx_dir)
    res = minhash_incremental_delta(corpus, shard,
                                    corpus_bands=corpus_bands)
    return (shard.select("doc_id", "source")
            .join(res, "doc_id")
            .select("doc_id", "source", "n_corpus_dups", "n_shard_dups",
                    "is_kept"))


@query(
    "dedup_simhash_auto", "dedup",
    # The SimHash WIDTH dial made executable (VERDICT r8 task #4, the
    # auto_n_cells pattern): hash width in 63-bit words derives from
    # COUNT(*) (operators.dedup.auto_simhash_words — floor 4 words, one
    # more per 15 corpus doublings), radius scales with width (10 per
    # word) so the hamming FRACTION threshold is width-invariant. Width
    # buys BOTH boundary recall (the r7 sf1 finding: 3/2490 true pairs
    # at hamming 11-14 escaped the 63-bit radius-10 pigeonhole —
    # variance events that concentrate away as the hash widens;
    # recall-margin test: tests/test_simhash_auto.py) and candidate
    # precision (the r9 sf1 finding: at 126 bits this corpus piles 4.2M
    # near-threshold pairs inside the radius and the exact verify ate
    # 186 s; 252 bits cut sf0.1 candidates 417k -> 32k at +20%
    # signature cost). The oracle is the same exact-truth SQL as
    # dedup_simhash — width only changes CANDIDATE recall and the
    # pigeonhole+verify make the output exact, so one oracle gates
    # every width.
    oracle=_SHINGLE3_JACCARD09_TRUTH,
    description="SimHash with corpus-sized hash width: auto 63-bit-words + proportional radius, pigeonhole blocks across words, exact-Jaccard verify",
)
def dedup_simhash_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        SIMHASH_BASE_RADIUS,
        auto_simhash_words,
        simhash_multiword_df,
        simhash_multiword_near_pairs,
    )
    docs = t(spark, sf_dir, "documents")
    words = auto_simhash_words(docs.count())
    cands = (simhash_multiword_near_pairs(
                 simhash_multiword_df(docs, words=words),
                 radius=SIMHASH_BASE_RADIUS * words, words=words)
             .select("doc_a", "doc_b")
             .localCheckpoint())  # tiny; read 3x in the verify
    return _verified_pairs(docs, cands, threshold=0.9)


@query(
    "dedup_cluster_lsss", "dedup",
    # The min-label lane's documented planet-scale swap made EXECUTABLE
    # and driver-verdictable (r10): alternating large-star/small-star
    # rounds (Kiveris et al. 2014) converge in O(log n) rounds on a
    # shrinking edge list regardless of graph diameter, where min-label
    # pays one full-edge-list join per diameter hop (and, pre-r10,
    # silently returned stale labels past its round budget — the bug the
    # differential fuzz against this lane exposed). Same pairs, same
    # recursive-CTE fixpoint oracle, same output contract as
    # dedup_cluster_canonical — the driver gate proves the two
    # algorithms agree on the real corpus.
    oracle=_CLUSTER_CC_ORACLE,
    description="near-dup cluster assignment via alternating large-star/small-star components (O(log n) rounds, diameter-independent)",
)
def dedup_cluster_lsss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import alternating_components
    from ..operators.dedup import ngram_jaccard_pairs
    pairs = ngram_jaccard_pairs(t(spark, sf_dir, "documents"),
                                threshold=0.5, n=3)
    comp = alternating_components(pairs.select("doc_a", "doc_b"),
                                  src="doc_a", dst="doc_b")
    return comp.select(
        F.col("node").alias("doc_id"), "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("is_canonical"))


@query(
    "dedup_minhash_recall_auto", "dedup",
    # The banding dial made executable (r10; the auto_simhash_words
    # pattern): the fixed 32-hash/8-band recall lane above hit its
    # statistical boundary at the sf10 oracle sweep — 2 of 25,600 true
    # pairs at the j~0.8 threshold escaped (banding theory expects
    # escapes once true-pair count x (1-j^r)^b reaches O(1); the
    # PRODUCTION 64/16 pipeline measured full recall at the same sf10).
    # This twin sizes bands from COUNT(*) (operators.dedup.
    # auto_minhash_bands: b = ceil(4/3 log2 n), floor 16), keeping
    # expected escapes well below one as the corpus scales, so the
    # every-true-pair-found oracle stays exact at ANY rehearsed sf.
    oracle=f"""
    SELECT doc_a, doc_b, CAST(1 AS BIGINT) AS found
    FROM ({_TRUE_PAIRS_09_SQL})
    """,
    description="MinHash+LSH recall contract with corpus-sized band count: every exact Jaccard>=0.8 pair is a candidate at the auto width",
)
def dedup_minhash_recall_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        auto_minhash_bands,
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )
    docs = t(spark, sf_dir, "documents")
    bands = auto_minhash_bands(docs.count())
    true_pairs = (ngram_jaccard_pairs(docs, threshold=0.8, n=3)
                  .select("doc_a", "doc_b"))
    cands = (lsh_candidate_pairs(
                 minhash_signatures(docs, num_hashes=4 * bands, n=3),
                 bands=bands)
             .select("doc_a", "doc_b").distinct()
             .withColumn("_hit", F.lit(1)))
    return (true_pairs.join(cands, ["doc_a", "doc_b"], "left")
            .select("doc_a", "doc_b",
                    F.coalesce(F.col("_hit"), F.lit(0)).cast("long")
                    .alias("found")))
