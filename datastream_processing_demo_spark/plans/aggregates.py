"""Aggregations: groupBy agg family, global agg, rollup/cube/grouping
sets, distinct aggs, approx aggs (SURVEY.md §2.2 aggregation rows).

The reference's only aggregate is the sink-side avg over the latency
metric (ZhiYanSink.java:100-115, A2); here aggregation is a first-class
engine surface. All aggregates are partial+final (map-side combine) by
construction — Spark's hash aggregate handles that; nothing here forces
a non-combinable path.

Float policy (see plans/_util.py): money sums/avgs via exact integer
cents. stddev/variance are NOT computed by rounding the engines' own
streaming-moment results (a rounded value can land exactly on a rounding
boundary — observed at sf0.001); instead both sides evaluate
(Σx² − (Σx)²/n)/(n−1) from exact integer-cents sums with the identical
IEEE operation sequence, which is bit-deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import register_views
from ._util import exact_avg, exact_sum, oracle_exact_avg, oracle_exact_sum, t
from .registry import query


@query(
    "agg_groupby_family", "aggregates",
    oracle=f"""
    SELECT c_nationkey,
           COUNT(*) AS n_cust,
           {oracle_exact_sum('c_acctbal', 2)} AS sum_bal,
           MIN(c_acctbal) AS min_bal,
           MAX(c_acctbal) AS max_bal,
           {oracle_exact_avg('c_acctbal', 2)} AS avg_bal,
           COUNT(DISTINCT c_mktsegment) AS n_segments,
           -- var/stddev from exact integer-cents sums, identical IEEE op
           -- sequence on both engines => bit-identical (rounding the
           -- engines' own streaming-moment results is NOT reliable)
           sqrt((CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)
                          * CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE)
                 - CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE)
                   * CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE)
                   / COUNT(*))
                / (COUNT(*) - 1) / 10000.0) AS stddev_bal,
           (CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)
                        * CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE)
            - CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE)
              * CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE)
              / COUNT(*))
           / (COUNT(*) - 1) / 10000.0 AS var_bal,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), '|') AS segments
    FROM customer
    GROUP BY c_nationkey
    """,
    description="count/sum/min/max/avg/count-distinct/stddev/var/collect_set",
)
def agg_groupby_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    n = F.count(F.lit(1))
    # sample variance from exact integer sums: (Σx² − (Σx)²/n)/(n−1),
    # identical IEEE op sequence as the oracle => bit-identical
    _var = ((F.sum(cents * cents).cast("double")
             - F.sum(cents).cast("double") * F.sum(cents).cast("double") / n)
            / (n - 1) / 10000.0)
    return c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust"),
        exact_sum(F.col("c_acctbal"), 2).alias("sum_bal"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
        exact_avg(F.col("c_acctbal"), 2).alias("avg_bal"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
        F.sqrt(_var).alias("stddev_bal"),
        _var.alias("var_bal"),
        F.array_join(F.array_sort(F.collect_set("c_mktsegment")), "|").alias("segments"),
    )


@query(
    "agg_global", "aggregates",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           {oracle_exact_sum('l_extendedprice', 2)} AS total_price,
           SUM(l_quantity) AS total_qty,
           MIN(l_shipdate) AS first_ship,
           MAX(l_shipdate) AS last_ship,
           SUM(l_quantity) / COUNT(*) AS avg_qty
    FROM lineitem
    """,
    description="global aggregate, no grouping keys",
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        exact_sum(F.col("l_extendedprice"), 2).alias("total_price"),
        F.sum("l_quantity").alias("total_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
    )


@query(
    "agg_rollup", "aggregates",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows, SUM(l_quantity) AS sum_qty,
           CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
           CAST(grouping(l_linestatus) AS BIGINT) AS g_status
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    description="ROLLUP hierarchy totals + grouping indicators",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.grouping("l_returnflag").cast("long").alias("g_flag"),
        F.grouping("l_linestatus").cast("long").alias("g_status"),
    )


@query(
    "agg_cube", "aggregates",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           {oracle_exact_sum('o_totalprice', 2)} AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    description="CUBE over status x priority",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        exact_sum(F.col("o_totalprice"), 2).alias("sum_price"),
    )


@query(
    "agg_grouping_sets", "aggregates",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    description="explicit GROUPING SETS via SQL surface",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders",))
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


@query(
    "agg_distinct", "aggregates",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(DISTINCT l_partkey) AS n_parts,
           SUM(DISTINCT l_quantity) AS sum_distinct_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    description="multiple DISTINCT aggregates in one grouping",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.sum_distinct(F.col("l_quantity")).alias("sum_distinct_qty"),
    )


@query(
    "agg_ordered_first_last", "aggregates",
    oracle="""
    SELECT user_id,
           min_by(event_type, event_id) AS first_type,
           max_by(event_type, event_id) AS last_type,
           min_by(value, ts) AS first_value,
           array_to_string(list_sort(list(event_type)), '|') AS all_types
    FROM events
    GROUP BY user_id
    """,
    description="deterministic first/last via min_by/max_by + sorted collect_list",
)
def agg_ordered_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain first()/last() are order-undefined in a distributed agg; the
    # engine idiom for "first by X" is min_by/max_by (deterministic)
    e = t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.min_by("event_type", "event_id").alias("first_type"),
        F.max_by("event_type", "event_id").alias("last_type"),
        F.min_by("value", "ts").alias("first_value"),
        F.array_join(F.array_sort(F.collect_list("event_type")), "|").alias("all_types"),
    )


# NOTE: retired from the registry in r4 (was oracle-less rows-only; its
# r1 driver entry was a permanent `err`). The sketch-rollup surface is
# exercised and driver-GREEN through `agg_sketch_bounds` below, which
# calls this helper and property-checks every unioned estimate.
def agg_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The incremental-distinct pattern for 100 TB rollups: aggregate raw
    # data ONCE into fine-grain Apache DataSketches HLL sketches, then
    # build every coarser grain by unioning sketches — never re-scanning
    # raw data (approx_count_distinct alone can't do this; its counts
    # don't merge). Minute -> hour -> day here mirrors the hypertable
    # cascade but for COUNT(DISTINCT user_id), which plain sums cannot
    # roll up. Each level is a tiny combinable aggregate over the
    # previous one.
    # Single-pass shape: minute sketches off ONE raw scan, then one
    # GROUPING SETS pass over the sketch table unions upward (a union
    # of cascaded aggregates would replan 3 raw rescans — Spark shares
    # no subplans across union branches).
    e = t(spark, sf_dir, "events")
    minute = (e.select(F.date_trunc("minute", "ts").alias("m"), "user_id")
              .groupBy("m")
              .agg(F.expr("hll_sketch_agg(user_id)").alias("sk")))
    minute.select("m", F.date_trunc("hour", "m").alias("h"),
                  F.date_trunc("day", "m").alias("d"), "sk") \
        .createOrReplaceTempView("sk_minute_grain")
    return spark.sql("""
        SELECT CASE WHEN grouping(m) = 0 THEN 'minute'
                    WHEN grouping(h) = 0 THEN 'hour'
                    ELSE 'day' END AS resolution,
               coalesce(m, h, d) AS bucket,
               hll_sketch_estimate(hll_union_agg(sk)) AS approx_users
        FROM sk_minute_grain
        GROUP BY GROUPING SETS ((m), (h), (d))
    """)


@query(
    "agg_pivot", "aggregates",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F_n,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O_n,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P_n,
           coalesce(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                         FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) / 100.0,
                    0.0) AS F_sum,
           coalesce(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                         FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) / 100.0,
                    0.0) AS O_sum,
           coalesce(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                         FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) / 100.0,
                    0.0) AS P_sum
    FROM orders
    GROUP BY o_orderpriority
    """,
    description="pivot (long->wide): status columns per priority, explicit value list",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the explicit value list is the scale-correct form: without it Spark
    # runs an extra distinct-values job over the fact table first
    o = t(spark, sf_dir, "orders")
    wide = (o.groupBy("o_orderpriority")
            .pivot("o_orderstatus", ["F", "O", "P"])
            .agg(F.count(F.lit(1)).alias("n"),
                 exact_sum(F.col("o_totalprice"), 2).alias("sum")))
    return wide.select(
        "o_orderpriority",
        *[F.coalesce(F.col(f"{s}_n"), F.lit(0)).alias(f"{s}_n") for s in "FOP"],
        *[F.coalesce(F.col(f"{s}_sum"), F.lit(0.0)).alias(f"{s}_sum") for s in "FOP"],
    )


@query(
    "agg_unpivot", "aggregates",
    oracle="""
    SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS val
    FROM part WHERE p_partkey <= 200
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS measure, p_retailprice AS val
    FROM part WHERE p_partkey <= 200
    """,
    description="unpivot/melt (wide->long): measure columns to (name, value) rows",
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    return (p.select("p_partkey", F.col("p_size").cast("double").alias("p_size"),
                     "p_retailprice")
            .unpivot("p_partkey", ["p_size", "p_retailprice"], "measure", "val"))


@query(
    "agg_percentile_exact", "aggregates",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT),
                               0.5) / 100.0, 6) AS median_price,
           ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT),
                               0.9) / 100.0, 6) AS p90_price,
           ROUND(quantile_cont(l_quantity, 0.25), 6) AS q1_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    description="exact percentiles (linear interpolation) on integer-cents grid",
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact percentile (not the t-digest approx): both engines linearly
    # interpolate at (n-1)*q over a sorted integer grid, so results match
    # bit-for-bit after rounding
    li = t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile(cents, F.lit(0.5)) / 100.0, 6).alias("median_price"),
        F.round(F.percentile(cents, F.lit(0.9)) / 100.0, 6).alias("p90_price"),
        F.round(F.percentile(F.col("l_quantity"), F.lit(0.25)), 6).alias("q1_qty"),
    )


@query(
    "agg_bool_bitwise", "aggregates",
    oracle="""
    SELECT p_brand,
           bool_and(p_size > 1) AS all_sized,
           bool_or(p_size > 45) AS any_jumbo,
           bit_and(CAST(p_size AS BIGINT)) AS size_bit_and,
           bit_or(CAST(p_size AS BIGINT)) AS size_bit_or,
           bit_xor(CAST(p_size AS BIGINT)) AS size_bit_xor
    FROM part
    GROUP BY p_brand
    """,
    description="bool_and/bool_or + bit_and/bit_or/bit_xor aggregates",
)
def agg_bool_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    size = F.col("p_size").cast("long")
    return p.groupBy("p_brand").agg(
        F.bool_and(F.col("p_size") > 1).alias("all_sized"),
        F.bool_or(F.col("p_size") > 45).alias("any_jumbo"),
        F.bit_and(size).alias("size_bit_and"),
        F.bit_or(size).alias("size_bit_or"),
        F.bit_xor(size).alias("size_bit_xor"),
    )


@query(
    "agg_corr_covar", "aggregates",
    oracle="""
    SELECT l_returnflag,
           ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
                 / sqrt(CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE)
                        * CAST(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y)
                               AS DOUBLE)), 9)
               AS corr_qty_disc,
           ROUND((SUM(x * y) - SUM(x) * SUM(y) / COUNT(*))
                 / (COUNT(*) - 1) / 10000.0, 9) AS covar_qty_disc
    FROM (SELECT l_returnflag,
                 CAST(l_quantity AS BIGINT) AS x,
                 CAST(ROUND(l_discount * 100) AS BIGINT) AS y
          FROM lineitem)
    GROUP BY l_returnflag
    """,
    description="exact Pearson corr + sample covariance from integer sums",
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corr/covar_samp from exact integer sums, same IEEE op sequence both
    # engines — the built-in streaming-moment corr() is order-dependent
    # in its float accumulation and won't hash-match
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_discount") * 100).cast("long").alias("y"))
    n, sx, sy = F.count(F.lit(1)), F.sum("x"), F.sum("y")
    sxy = F.sum(F.col("x") * F.col("y"))
    sxx = F.sum(F.col("x") * F.col("x"))
    syy = F.sum(F.col("y") * F.col("y"))
    return li.groupBy("l_returnflag").agg(
        F.round((n * sxy - sx * sy)
                / F.sqrt((n * sxx - sx * sx).cast("double")
                         * (n * syy - sy * sy).cast("double")), 9)
            .alias("corr_qty_disc"),
        F.round((sxy - sx * sy / n) / (n - 1) / 10000.0, 9)
            .alias("covar_qty_disc"),
    )


@query(
    "agg_filtered", "aggregates",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_quantity >= 25) AS n_bulk,
           COUNT(*) FILTER (WHERE l_discount = 0.0) AS n_undiscounted,
           coalesce(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                         FILTER (WHERE l_quantity >= 25) AS DOUBLE) / 100.0,
                    0.0) AS bulk_revenue,
           CAST(COUNT(*) FILTER (WHERE l_quantity >= 25) AS DOUBLE)
               / COUNT(*) AS bulk_fraction
    FROM lineitem
    GROUP BY l_returnflag
    """,
    description="filtered aggregates (FILTER clause / count_if)",
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    bulk = F.col("l_quantity") >= 25
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return li.groupBy("l_returnflag").agg(
        F.count_if(bulk).alias("n_bulk"),
        F.count_if(F.col("l_discount") == 0.0).alias("n_undiscounted"),
        F.coalesce(F.sum(F.when(bulk, cents)).cast("double") / 100.0,
                   F.lit(0.0)).alias("bulk_revenue"),
        (F.count_if(bulk).cast("double") / F.count(F.lit(1)))
            .alias("bulk_fraction"),
    )


@query(
    "agg_histogram", "aggregates",
    oracle="""
    SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) // 5000000 AS bucket,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM orders
    GROUP BY bucket
    """,
    description="value histogram via exact integer-cents bucketing ($50k bins)",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bucket on integer cents (floor division is exact; no float boundary
    # ambiguity the way width_bucket on doubles would have)
    o = t(spark, sf_dir, "orders")
    bucket = (F.round(F.col("o_totalprice") * 100).cast("long") / 5000000) \
        .cast("long")
    return (o.groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.min("o_totalprice").alias("lo"),
                 F.max("o_totalprice").alias("hi")))


@query(
    "agg_mode_exact", "aggregates",
    oracle="""
    SELECT c_nationkey, mode_segment, n_customers FROM (
        SELECT c_nationkey, c_mktsegment AS mode_segment,
               COUNT(*) AS n_customers,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY COUNT(*) DESC, c_mktsegment)
                   AS rn
        FROM customer GROUP BY c_nationkey, c_mktsegment
    ) r WHERE rn = 1
    """,
    description="exact per-group mode with deterministic tiebreak (count desc, value asc)",
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact mode = count-then-argmax, stated as the two-level aggregate
    # rather than Spark's mode() (whose tiebreak is nondeterministic).
    # Both levels map-side combine; the window partitions by nationkey
    # over at most |segments| rows per group — WindowGroupLimit keeps it
    # tiny. This is the scalable "most common value per key" idiom
    # (top-1 label per cluster, majority vote, etc.).
    c = t(spark, sf_dir, "customer")
    counts = (c.groupBy("c_nationkey", "c_mktsegment")
              .agg(F.count(F.lit(1)).alias("n_customers")))
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("n_customers").desc(), F.col("c_mktsegment"))
    return (counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("c_nationkey",
                    F.col("c_mktsegment").alias("mode_segment"),
                    "n_customers"))


@query(
    "agg_bitmap_distinct", "aggregates",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
    description="EXACT mergeable distinct via bitmap aggregates (Roaring-style)",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The exact counterpart of the HLL sketch rollup: ids are packed
    # into per-bucket bitmaps (bitmap_bucket_number / bit_position),
    # bitmaps OR-merge associatively, and bitmap_count sums to the TRUE
    # distinct count — mergeable like a sketch, exact like COUNT
    # (DISTINCT), at a memory cost linear in the id range per bucket.
    # Both aggregate levels are map-side combinable; the oracle is
    # plain COUNT(DISTINCT) because the result is exact.
    e = t(spark, sf_dir, "events")
    buckets = (e.groupBy("event_type",
                         F.expr("bitmap_bucket_number(user_id)").alias("bkt"))
               .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
                    .alias("bm")))
    return (buckets.groupBy("event_type")
            .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_users")))


@query(
    "agg_listagg", "aggregates",
    oracle="""
    SELECT c_nationkey,
           string_agg(c_name, '|' ORDER BY c_name) AS members
    FROM customer
    GROUP BY c_nationkey
    """,
    description="ordered string aggregation (listagg WITHIN GROUP)",
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # listagg with a full WITHIN GROUP ordering is deterministic (the
    # unordered form is not — never expose it to a hash gate). DuckDB
    # spells it string_agg(expr, sep ORDER BY ...).
    c = t(spark, sf_dir, "customer")
    c.createOrReplaceTempView("listagg_customer")
    return spark.sql("""
        SELECT c_nationkey,
               listagg(c_name, '|') WITHIN GROUP (ORDER BY c_name)
                   AS members
        FROM listagg_customer
        GROUP BY c_nationkey
    """)


@query(
    "agg_approx_bounds", "aggregates",
    # approx_count_distinct and percentile_approx per return flag: the
    # HLL estimate and the t-digest median are engine-internal VALUES
    # (no ANSI oracle can reproduce them), but their error CONTRACTS
    # are checkable — emit the exact quantities both engines agree on
    # plus in-bounds flags that Spark verifies empirically. A sketch
    # regression (estimate drifting past its documented rsd) flips a
    # flag and hash-fails.
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts_exact,
           COUNT(*) AS n_rows,
           CAST(1 AS BIGINT) AS hll_within_bounds,
           CAST(1 AS BIGINT) AS median_within_bounds
    FROM lineitem GROUP BY l_returnflag
    """,
    description="approx_count_distinct + percentile_approx error contracts as a property oracle",
)
def agg_approx_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    approx_parts = F.approx_count_distinct("l_partkey")
    exact_parts = F.countDistinct("l_partkey")
    approx_med = F.percentile_approx("l_extendedprice", 0.5)
    exact_med = F.expr("percentile(l_extendedprice, 0.5)")
    return li.groupBy("l_returnflag").agg(
        exact_parts.alias("n_parts_exact"),
        F.count(F.lit(1)).alias("n_rows"),
        # default rsd 5%, so 20% (or 5 distinct) is a 4-sigma envelope
        (F.abs(approx_parts - exact_parts)
         <= F.greatest(0.20 * exact_parts, F.lit(5.0)))
        .cast("long").alias("hll_within_bounds"),
        ((F.abs(approx_med - exact_med) / exact_med) < 0.05)
        .cast("long").alias("median_within_bounds"))


@query(
    "agg_sketch_bounds", "aggregates",
    # Property-oracle companion to agg_sketch_rollup: exact per-grain
    # distinct counts (both engines compute them exactly) plus a flag
    # that every unioned-sketch estimate lands inside the DataSketches
    # HLL error envelope. The EXACT distinct here is the verification
    # harness, not the scale path — at 100 TB it's precisely what the
    # mergeable sketches exist to avoid recomputing per grain.
    oracle="""
    SELECT CASE WHEN grouping(m) = 0 THEN 'minute'
                WHEN grouping(h) = 0 THEN 'hour'
                ELSE 'day' END AS resolution,
           coalesce(m, h, d) AS bucket,
           COUNT(DISTINCT user_id) AS n_exact,
           CAST(1 AS BIGINT) AS within_bounds
    FROM (SELECT CAST(date_trunc('minute', ts) AS TIMESTAMP) AS m,
                 CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
                 CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
                 user_id
          FROM events)
    GROUP BY GROUPING SETS ((m), (h), (d))
    """,
    description="HLL sketch-rollup error contract per grain as a property oracle",
)
def agg_sketch_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    est = agg_sketch_rollup(spark, sf_dir)
    e = t(spark, sf_dir, "events")
    e.select(F.date_trunc("minute", "ts").alias("m"),
             F.date_trunc("hour", "ts").alias("h"),
             F.date_trunc("day", "ts").alias("d"),
             "user_id").createOrReplaceTempView("sk_bounds_grain")
    exact = spark.sql("""
        SELECT CASE WHEN grouping(m) = 0 THEN 'minute'
                    WHEN grouping(h) = 0 THEN 'hour'
                    ELSE 'day' END AS resolution,
               coalesce(m, h, d) AS bucket,
               COUNT(DISTINCT user_id) AS n_exact
        FROM sk_bounds_grain
        GROUP BY GROUPING SETS ((m), (h), (d))
    """)
    return (exact.join(est, ["resolution", "bucket"])
            .select("resolution", "bucket", "n_exact",
                    # lgK=12 HLL: ~1.6% rsd; 4-sigma envelope + small-n slack
                    (F.abs(F.col("approx_users") - F.col("n_exact"))
                     <= F.greatest(0.08 * F.col("n_exact"), F.lit(4.0)))
                    .cast("long").alias("within_bounds")))


@query(
    "agg_approx_top_k", "aggregates",
    oracle="""
    SELECT tok AS token, CAST(n AS BIGINT) AS n_occurrences
    FROM (
      SELECT tok, COUNT(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
      ORDER BY n DESC, tok
      LIMIT 5
    )
    """,
    description="approx_top_k heavy hitters (exact on this cardinality, checked so)",
)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Heavy-hitters sketch (Spark 4 approx_top_k). With maxItemsTracked
    # (10000) far above the corpus vocabulary the sketch tracks every
    # item with exact counts, so the result is checkable against the
    # exact top-5. TIE discipline (r9, caught by the sf1 out-of-gate
    # sweep): equal counts at the k boundary are selected ARBITRARILY
    # by the sketch (sf1's replica-salted vocab puts 10 equal-count
    # variants at the cut), so the lane fetches a 64-item candidate
    # set from the sketch and re-ranks it EXACTLY (n DESC, token) —
    # the fetch-plus-slack + exact-rerank idiom; deterministic as long
    # as the boundary tie group fits the slack (documented boundary
    # beyond that). At real-text scale the same call degrades
    # gracefully to approximate counts; this query pins the API +
    # merge behavior.
    from ..operators.spread import spread
    d = spread(t(spark, sf_dir, "documents"))
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    tk = toks.selectExpr("approx_top_k(tok, 64, 10000) AS tk")
    row = tk.select(F.explode("tk").alias("e"))
    return (row.select(F.col("e.item").alias("token"),
                       F.col("e.count").alias("n_occurrences"))
            .orderBy(F.col("n_occurrences").desc(), "token")
            .limit(5))


@query(
    "agg_data_profile", "aggregates",
    oracle="""
    SELECT 'o_orderstatus' AS col_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_orderstatus) AS n_nulls,
           COUNT(DISTINCT o_orderstatus) AS n_distinct,
           MIN(o_orderstatus) AS min_val, MAX(o_orderstatus) AS max_val,
           CAST(SUM(length(o_orderstatus)) AS BIGINT) AS sum_len
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*),
           COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           MIN(o_orderpriority), MAX(o_orderpriority),
           CAST(SUM(length(o_orderpriority)) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_custkey_str', COUNT(*),
           COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey),
           MIN(CAST(o_custkey AS VARCHAR)), MAX(CAST(o_custkey AS VARCHAR)),
           CAST(SUM(length(CAST(o_custkey AS VARCHAR))) AS BIGINT)
    FROM orders
    """,
    description="table profiling: per-column null/distinct/min/max/length stats in one pass",
)
def agg_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The profile-before-training pass: one scan, long-format stats per
    # column. stack() unpivots (col_name, value) map-side — so the
    # whole profile is ONE shuffle keyed by column name (bounded
    # cardinality = number of profiled columns), not one job per
    # column. At 100 TB profiling N columns costs the same scan as
    # profiling one.
    o = t(spark, sf_dir, "orders")
    pairs = [("o_orderstatus", "o_orderstatus"),
             ("o_orderpriority", "o_orderpriority"),
             ("o_custkey_str", "CAST(o_custkey AS STRING)")]
    stack_expr = "stack({}, {}) AS (col_name, val)".format(
        len(pairs), ", ".join(f"'{n}', {e}" for n, e in pairs))
    return (o.selectExpr(stack_expr)
            .groupBy("col_name")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 (F.count(F.lit(1)) - F.count("val")).alias("n_nulls"),
                 F.countDistinct("val").alias("n_distinct"),
                 F.min("val").alias("min_val"),
                 F.max("val").alias("max_val"),
                 F.sum(F.length("val")).alias("sum_len")))


@query(
    "agg_argmax", "aggregates",
    oracle="""
    SELECT o_orderpriority,
           max_by(o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT)
                              * 100000000 + o_orderkey) AS biggest_order,
           min_by(o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT)
                              * 100000000 + o_orderkey) AS smallest_order,
           MAX(o_totalprice) AS max_price,
           MIN(o_totalprice) AS min_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    description="argmax/argmin aggregates (max_by/min_by) with deterministic tiebreak",
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_by/min_by: the "which row was the extreme" aggregate — one
    # hash aggregate (partial+final merge by comparing the ordering
    # key), no window, no join-back; the classic window-row_number
    # alternative costs a full sort shuffle. Price ties are broken
    # deterministically by folding (cents, orderkey) into one integer
    # ordering key — identical in both engines, so the oracle is exact.
    o = t(spark, sf_dir, "orders")
    key = (F.round(F.col("o_totalprice") * 100).cast("long")
           * F.lit(100000000) + F.col("o_orderkey"))
    return (o.groupBy("o_orderpriority")
            .agg(F.max_by("o_orderkey", key).alias("biggest_order"),
                 F.min_by("o_orderkey", key).alias("smallest_order"),
                 F.max("o_totalprice").alias("max_price"),
                 F.min("o_totalprice").alias("min_price")))


@query(
    "agg_heavy_hitters", "aggregates",
    # EXACT oracle despite the sketch inside: pass 1 (per-partition
    # Misra-Gries, k = ceil(1/phi)+1 counters) can never drop an item
    # with global freq > N/k, and pass 2 recounts candidates exactly —
    # so the result is identical to the plain GROUP BY / HAVING the
    # oracle runs. What the sketch buys at 100 TB is the SHUFFLE: the
    # groupBy key space is bounded by partitions x k, not by the
    # billions of distinct one-off tokens a raw corpus holds.
    oracle="""
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS item
               FROM documents),
         tot AS (SELECT COUNT(*) AS n FROM w)
    SELECT item, COUNT(*) AS cnt
    FROM w
    GROUP BY item
    HAVING COUNT(*) >= (SELECT CEIL(0.005 * n) FROM tot)
    """,
    description="exact heavy hitters (>=0.5% of corpus tokens) via 2-pass Misra-Gries: map-only candidates, exact recount of candidates only",
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import heavy_hitters
    words = (t(spark, sf_dir, "documents")
             .select(F.explode(F.split("text", " ")).alias("item")))
    return heavy_hitters(words, "item", phi=0.005)


@query(
    "agg_k_anonymity", "aggregates",
    # Privacy audit — the aggregate-side counterpart of text_pii_redact:
    # group the table by its quasi-identifier tuple and flag every
    # equivalence class smaller than k (k=10). Rows in a violating
    # class are re-identifiable by joining the quasi-ids against an
    # external dataset; a release pipeline either suppresses them or
    # generalizes a quasi-id until every class passes. Quasi-ids here:
    # (nation, market segment, account-balance hundred-bucket) — the
    # bucket floor is exact integer math in both engines. SCALE: one
    # map-combinable groupBy on the quasi-id tuple; the violation scan
    # is the aggregate itself (no join back unless suppressing).
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 100.0) AS BIGINT) AS bal_bucket,
           COUNT(*) AS class_size,
           CAST(COUNT(*) < 10 AS BIGINT) AS violates_k
    FROM customer
    GROUP BY 1, 2, 3
    """,
    description="k-anonymity audit (k=10): quasi-identifier equivalence-class sizes + violation flags",
)
def agg_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    return (c.groupBy(
        "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / 100.0).cast("long").alias("bal_bucket"))
        .agg(F.count(F.lit(1)).alias("class_size"))
        .select("c_nationkey", "c_mktsegment", "bal_bucket", "class_size",
                (F.col("class_size") < 10).cast("long").alias("violates_k")))
