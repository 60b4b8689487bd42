"""Property checks for approximate aggregates and sampling (SURVEY.md
§2.2 'semantic' oracle class). The approx_count_distinct and
percentile_approx error bounds are the registered `agg_approx_bounds`
query's oracle."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datastream_processing_demo_spark.plans.registry import all_queries


def test_bernoulli_sample_bounds_and_reproducible(spark, sf_dir, oracle_con):
    # content reproducibility of the raw seeded sampler (the registered
    # sample_bernoulli query reduces it to the driver-checkable binomial
    # property, so the row-level check lives here)
    from datastream_processing_demo_spark.catalog import load_table
    li = load_table(spark, sf_dir, "lineitem")
    a = li.sample(fraction=0.1, seed=42) \
          .select("l_orderkey", "l_linenumber").collect()
    b = li.sample(fraction=0.1, seed=42) \
          .select("l_orderkey", "l_linenumber").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)), \
        "same seed must reproduce the same sample"
    n_total = oracle_con.execute("SELECT COUNT(*) FROM lineitem").fetchone()[0]
    # binomial(n, 0.1): allow 5 sigma
    import math
    sigma = math.sqrt(n_total * 0.1 * 0.9)
    assert abs(len(a) - 0.1 * n_total) <= 5 * sigma, \
        f"sample size {len(a)} far from {0.1 * n_total}"
    # and the registered property query must report in-bounds for it
    rows = all_queries()["sample_bernoulli"].spark(spark, sf_dir).collect()
    assert len(rows) == 1 and rows[0]["within_5sigma"] == 1


def test_stratified_sample_fractions(spark, sf_dir, oracle_con):
    import math
    from datastream_processing_demo_spark.catalog import load_table
    li = load_table(spark, sf_dir, "lineitem")
    fracs = {"R": 0.05, "A": 0.10, "N": 0.20}
    got = {r["l_returnflag"]: r["n"]
           for r in li.sampleBy("l_returnflag", fracs, seed=7)
           .groupBy("l_returnflag").count()
           .withColumnRenamed("count", "n").collect()}
    strata = dict(oracle_con.execute(
        "SELECT l_returnflag, COUNT(*) FROM lineitem GROUP BY l_returnflag"
    ).fetchall())
    for flag, frac in fracs.items():
        n = strata[flag]
        sigma = math.sqrt(n * frac * (1 - frac))
        assert abs(got.get(flag, 0) - frac * n) <= 5 * sigma, \
            f"{flag}: {got.get(flag)} vs expected {frac * n}"
    # registered property query: every stratum in bounds
    rows = all_queries()["sample_stratified"].spark(spark, sf_dir).collect()
    assert {r["l_returnflag"] for r in rows} == set(fracs)
    assert all(r["within_5sigma"] == 1 for r in rows)


def test_engine_introspection_properties(spark, sf_dir):
    # row-level checks on the raw introspection columns (the registered
    # query reduces them to driver-checkable contract flags)
    from pyspark.sql import functions as F
    from datastream_processing_demo_spark.catalog import load_table
    df = load_table(spark, sf_dir, "lineitem").select(
        F.monotonically_increasing_id().alias("row_uid"),
        F.spark_partition_id().alias("part_id"),
        F.input_file_name().alias("src_file"))
    rows = df.collect()
    uids = [r["row_uid"] for r in rows]
    assert len(set(uids)) == len(uids), "row ids must be unique"
    assert all(r["src_file"].endswith(".parquet") for r in rows)
    n_parts = len({r["part_id"] for r in rows})
    assert 1 <= n_parts <= df.rdd.getNumPartitions()
    # and the registered contract query reports all-green flags
    flags = all_queries()["fn_engine_introspection"].spark(spark, sf_dir) \
        .collect()[0]
    assert flags["n_rows"] == len(rows)
    assert (flags["uids_unique"], flags["files_parquet"],
            flags["has_partitions"]) == (1, 1, 1)


def test_sketch_rollup_merges_to_exact_distinct(spark, sf_dir, oracle_con):
    # The unioned day-level sketch must estimate the TRUE day-level
    # distinct count (not a sum of per-minute counts — the whole point
    # of mergeable sketches); DataSketches HLL at default lgK=12 has
    # ~1.6% rsd, take 4 sigma.
    from datastream_processing_demo_spark.plans.aggregates import agg_sketch_rollup
    rows = agg_sketch_rollup(spark, sf_dir).collect()
    assert {"minute", "hour", "day"} == {r["resolution"] for r in rows}
    day = {r["bucket"]: r["approx_users"] for r in rows
           if r["resolution"] == "day"}
    exact = oracle_con.execute("""
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
               COUNT(DISTINCT user_id) AS n
        FROM events GROUP BY 1
    """).fetchall()
    assert len(exact) == len(day)
    for bucket, n in exact:
        est = day[bucket]
        assert abs(est - n) <= max(0.08 * n, 4), \
            f"day {bucket}: sketch {est} vs exact {n}"
