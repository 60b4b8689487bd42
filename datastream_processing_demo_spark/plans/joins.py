"""Joins: inner/left/right/full equi-joins, semi/anti, cross, theta,
broadcast hints (SURVEY.md §2.2 join rows; the reference has no joins —
§2.1.1 — so these are engine capability, validated purely by oracle).

Scale notes (100 TB):
- Equi-joins are declared with `df.join(on=..., how=...)` so Catalyst +
  AQE pick broadcast vs shuffled-hash vs sort-merge from runtime stats;
  skew-join splitting is on (session.py).
- Dimension tables (region/nation/supplier) get explicit broadcast()
  hints in the star-join query — at 100 TB the fact side never shuffles
  for those joins.
- The pure-theta join is a BroadcastNestedLoop by construction; it is
  only ever used dimension×dimension (both sides bounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import exact_sum, oracle_exact_sum, t
from .registry import query


@query(
    "join_inner_3way", "joins",
    oracle=f"""
    SELECT c.c_mktsegment, o.o_orderpriority,
           {oracle_exact_sum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment, o.o_orderpriority
    """,
    description="3-way inner equi-join fact->orders->customer + agg",
)
def join_inner_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, o, c = (t(spark, sf_dir, n) for n in ("lineitem", "orders", "customer"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
                .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "join_left_outer", "joins",
    oracle="""
    SELECT p.p_partkey, p.p_brand,
           COUNT(l.l_orderkey) AS n_sales,
           coalesce(SUM(l.l_quantity), 0.0) AS total_qty
    FROM part p
    LEFT JOIN lineitem l ON p.p_partkey = l.l_partkey
    GROUP BY p.p_partkey, p.p_brand
    """,
    description="left outer join keeping unmatched parts (NULL-extended)",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    p, li = t(spark, sf_dir, "part"), t(spark, sf_dir, "lineitem")
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left")
        .groupBy("p_partkey", "p_brand")
        .agg(
            F.count("l_orderkey").alias("n_sales"),
            F.coalesce(F.sum("l_quantity"), F.lit(0.0)).alias("total_qty"),
        )
    )


@query(
    "join_right_outer", "joins",
    oracle="""
    SELECT s.s_suppkey, s.s_name,
           COUNT(l.l_orderkey) AS n_lines
    FROM lineitem l
    RIGHT JOIN supplier s ON l.l_suppkey = s.s_suppkey AND l.l_quantity > 45
    GROUP BY s.s_suppkey, s.s_name
    """,
    description="right outer join with join-condition filter",
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, s = t(spark, sf_dir, "lineitem"), t(spark, sf_dir, "supplier")
    cond = (li.l_suppkey == s.s_suppkey) & (li.l_quantity > 45)
    return (
        li.join(s, cond, "right")
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("l_orderkey").alias("n_lines"))
    )


@query(
    "join_full_outer", "joins",
    oracle="""
    WITH co AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey),
         rich AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000)
    SELECT coalesce(co.o_custkey, rich.c_custkey) AS custkey,
           co.n_orders AS n_orders, rich.c_acctbal AS acctbal
    FROM co FULL OUTER JOIN rich ON co.o_custkey = rich.c_custkey
    """,
    description="full outer join with NULLs on both sides",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, c = t(spark, sf_dir, "orders"), t(spark, sf_dir, "customer")
    co = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    rich = c.filter(F.col("c_acctbal") > 9000).select("c_custkey", "c_acctbal")
    return (
        co.join(rich, co.o_custkey == rich.c_custkey, "full")
        .select(
            F.coalesce(co.o_custkey, rich.c_custkey).alias("custkey"),
            F.col("n_orders"),
            F.col("c_acctbal").alias("acctbal"),
        )
    )


@query(
    "join_semi", "joins",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
    description="left semi join (EXISTS)",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 400000)
    return (c.join(big, c.c_custkey == big.o_custkey, "left_semi")
             .select("c_custkey", "c_name"))


@query(
    "join_anti", "joins",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
    description="left anti join (NOT EXISTS): customers with no urgent orders",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    return (c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
             .select("c_custkey", "c_name"))


@query(
    "join_cross", "joins",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
    description="cross join (dimension x dimension only)",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r, n = t(spark, sf_dir, "region"), t(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_theta_range", "joins",
    oracle="""
    SELECT s1.s_suppkey AS low_supp, s2.s_suppkey AS high_supp,
           s2.s_acctbal - s1.s_acctbal AS bal_gap
    FROM supplier s1 JOIN supplier s2
      ON s1.s_nationkey = s2.s_nationkey AND s1.s_acctbal < s2.s_acctbal
    """,
    description="theta join: equi on nation + range predicate on balance",
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    s1 = t(spark, sf_dir, "supplier").alias("s1")
    s2 = t(spark, sf_dir, "supplier").alias("s2")
    cond = (F.col("s1.s_nationkey") == F.col("s2.s_nationkey")) & \
           (F.col("s1.s_acctbal") < F.col("s2.s_acctbal"))
    return s1.join(s2, cond).select(
        F.col("s1.s_suppkey").alias("low_supp"),
        F.col("s2.s_suppkey").alias("high_supp"),
        (F.col("s2.s_acctbal") - F.col("s1.s_acctbal")).alias("bal_gap"),
    )


@query(
    "join_broadcast_star", "joins",
    oracle=f"""
    SELECT r.r_name, n.n_name,
           {oracle_exact_sum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    description="star join with explicit broadcast hints on all dimensions",
)
def join_broadcast_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    s = F.broadcast(t(spark, sf_dir, "supplier"))
    n = F.broadcast(t(spark, sf_dir, "nation"))
    r = F.broadcast(t(spark, sf_dir, "region"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
             .alias("revenue"))
    )


@query(
    "join_asof_attribution", "joins",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           p.value AS amount, v.view_id, v.view_ts,
           epoch_ms(p.ts) - epoch_ms(v.view_ts) AS gap_ms
    FROM events p
    LEFT JOIN LATERAL (
        SELECT e.event_id AS view_id, e.ts AS view_ts
        FROM events e
        WHERE e.user_id = p.user_id AND e.event_type = 'view'
          AND e.ts <= p.ts
        ORDER BY e.ts DESC, e.event_id DESC LIMIT 1
    ) v ON TRUE
    WHERE p.event_type = 'purchase'
    """,
    description="as-of join: attribute each purchase to the latest prior view",
)
def join_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Backward as-of join (operators/asof.py): union+window, one shuffle
    # on user_id — the custom point-in-time operator Spark has no
    # built-in for. Ties (same user, same ts) resolve to the max view_id
    # on both engines.
    from ..operators.asof import asof_join
    e = t(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts",
        F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts"))
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts",
        F.col("value").alias("amount"))
    joined = asof_join(purchases, views, on="user_id", ts="ts",
                       payload=["view_id", "view_ts"], tiebreak="view_id")
    return joined.select(
        "purchase_id", "user_id", F.col("ts").alias("purchase_ts"), "amount",
        "view_id", "view_ts",
        (F.unix_millis("ts") - F.unix_millis("view_ts")).alias("gap_ms"))


@query(
    "join_merge_upsert", "joins",
    oracle="""
    WITH changes AS (
        SELECT o_orderkey AS key, 'X' AS status,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) + 1000 AS price_cents
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, 'N',
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
        FROM orders WHERE o_orderkey % 101 = 0
    ), base AS (
        SELECT o_orderkey AS key, o_orderstatus AS status,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders
    )
    SELECT coalesce(b.key, c.key) AS key,
           coalesce(c.status, b.status) AS status,
           CAST(coalesce(c.price_cents, b.price_cents) AS DOUBLE) / 100.0
               AS price,
           CASE WHEN c.key IS NULL THEN 'kept'
                WHEN b.key IS NULL THEN 'inserted'
                ELSE 'updated' END AS merge_action
    FROM base b FULL OUTER JOIN changes c ON b.key = c.key
    """,
    description="MERGE/upsert semantics: full-outer coalesce (update+insert+keep)",
)
def join_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MERGE INTO without a table format: the full-outer + coalesce idiom
    # (matched -> take change, not-matched-by-source -> keep base,
    # not-matched-by-target -> insert). The change set is derived
    # deterministically from orders itself. At 100 TB both sides shuffle
    # once on the merge key; with a base table bucketed on that key
    # (`DataFrameWriter.bucketBy`) the base-side shuffle disappears
    # entirely, which is how an incremental training-corpus refresh
    # should run.
    o = t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = o.select(F.col("o_orderkey").alias("key"),
                    F.col("o_orderstatus").alias("status"),
                    cents.alias("price_cents"))
    updates = (o.filter(F.col("o_orderkey") % 7 == 0)
               .select(F.col("o_orderkey").alias("key"),
                       F.lit("X").alias("status"),
                       (cents + 1000).alias("price_cents")))
    inserts = (o.filter(F.col("o_orderkey") % 101 == 0)
               .select((F.col("o_orderkey") + 10000000).alias("key"),
                       F.lit("N").alias("status"),
                       cents.alias("price_cents")))
    changes = updates.unionByName(inserts)
    b, c = base.alias("b"), changes.alias("c")
    j = b.join(c, F.col("b.key") == F.col("c.key"), "full_outer")
    return j.select(
        F.coalesce("b.key", "c.key").alias("key"),
        F.coalesce("c.status", "b.status").alias("status"),
        (F.coalesce("c.price_cents", "b.price_cents").cast("double") / 100.0)
            .alias("price"),
        F.when(F.col("c.key").isNull(), "kept")
         .when(F.col("b.key").isNull(), "inserted")
         .otherwise("updated").alias("merge_action"))


@query(
    "join_salted_skew", "joins",
    oracle=f"""
    SELECT p.p_brand,
           COUNT(*) AS n_lines,
           {oracle_exact_sum('l.l_extendedprice', 2)} AS total_price
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    description="salted skew join: row-identical to the plain join, oracle-gated",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The manual skew weapon (for when AQE's runtime splitting isn't
    # available — e.g. the key skew is in a broadcast-ineligible dim):
    # the fact side gets a salt from a high-cardinality discriminator,
    # the dim side explodes n_salt copies, and the join key becomes
    # (key, salt) — one hot key's rows spread over n_salt tasks. The
    # oracle is the PLAIN join: salting must never change results,
    # only the shuffle distribution (operators/skew.py).
    from ..operators.skew import salted_join
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(li.withColumnRenamed("l_partkey", "p_partkey"), p,
                         key="p_partkey", discriminator="l_orderkey",
                         n_salt=16)
    return (joined.groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 exact_sum(F.col("l_extendedprice"), 2).alias("total_price")))


@query(
    "join_interval_bucketed", "joins",
    oracle="""
    WITH o AS (
        SELECT user_id, ts, event_id,
               max(ts + INTERVAL 30 MINUTE) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_end
        FROM events),
    f AS (SELECT *, CASE WHEN prev_end IS NULL OR ts > prev_end
                         THEN 1 ELSE 0 END AS is_new FROM o),
    i AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sess
          FROM f),
    s AS (SELECT user_id, MIN(ts) AS session_start,
                 MAX(ts) + INTERVAL 30 MINUTE AS session_end
          FROM i GROUP BY user_id, sess),
    p AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
           COUNT(*) AS n_concurrent
    FROM p JOIN s ON p.ts >= s.session_start AND p.ts < s.session_end
    GROUP BY 1, 2, 3
    """,
    description="interval-overlap join via bucket explode (range join as equi-join)",
)
def join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Range/interval join at scale: "how many sessions (any user) were
    # active at the instant of each purchase". The naive plan is a pure
    # theta join (p.ts BETWEEN start AND end) which OSS Spark executes
    # as BroadcastNestedLoopJoin — O(points x intervals), a 100 TB
    # killer. The scale shape bins time into fixed buckets: each
    # interval is exploded to the buckets it covers (~span/width + 1
    # copies; width is chosen near the median interval length so the
    # blow-up is ~2x), each point maps to exactly ONE bucket, and the
    # join becomes an equi-join on bucket plus a residual containment
    # filter. Because the point's bucket is unique, a (point, interval)
    # pair can match at most once — no post-join dedup. This is the
    # same rewrite Databricks' range-join optimization applies
    # automatically; here it is explicit and plan-audited (no BNLJ /
    # no CartesianProduct, tests/test_plans.py). The reference has no
    # joins at all (SURVEY §2.1.1); this is engine capability over its
    # event-stream data model (DataStreamProcessingJob.java:41-66).
    from ..operators.intervals import interval_overlap_join
    from ..streaming.windows import session_windows
    e = t(spark, sf_dir, "events")
    # the ONE session definition (streaming/windows.py) — the oracle's
    # gaps-and-islands fixpoint mirrors exactly that helper's semantics
    sessions = session_windows(e, gap="30 minutes").select(
        "session_start", "session_end")
    points = (e.filter(F.col("event_type") == "purchase")
              .select("event_id", "user_id",
                      F.col("ts").alias("purchase_ts")))
    j = interval_overlap_join(points, sessions, point_ts="purchase_ts",
                              start="session_start", end="session_end",
                              width_s=3600)
    return (j.groupBy("event_id", "user_id", "purchase_ts")
            .agg(F.count(F.lit(1)).alias("n_concurrent")))
