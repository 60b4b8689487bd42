"""Storage-layout scale checks: bucketed co-located joins run with no
exchange; partitioned directories prune at scan time. These are plan
audits like tests/test_plans.py, but for layouts the engine WRITES."""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from datastream_processing_demo_spark.catalog import load_table
from datastream_processing_demo_spark.sources.layout import (
    read_partitioned,
    write_bucketed_table,
    write_partitioned,
)


def _explain(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    root = tmp_path_factory.mktemp("bucketed")
    write_bucketed_table(load_table(spark, sf_dir, "lineitem"),
                         "li_bucketed", str(root / "li"), "l_orderkey")
    write_bucketed_table(load_table(spark, sf_dir, "orders"),
                         "o_bucketed", str(root / "o"), "o_orderkey")
    yield
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    li = spark.table("li_bucketed")
    o = spark.table("o_bucketed")
    joined = (li.hint("merge")
              .join(o, li.l_orderkey == o.o_orderkey)
              .groupBy("o_orderpriority")
              .agg(F.count(F.lit(1)).alias("n")))
    plan = _explain(joined)
    join_section = plan.split("HashAggregate")[0]
    assert not re.findall(r"^\(\d+\) Exchange", join_section, re.M), \
        "bucketed fact-fact join must not shuffle either side"
    assert "SortMergeJoin" in plan


def test_bucketed_join_matches_unbucketed(spark, sf_dir, bucketed_tables):
    li = spark.table("li_bucketed")
    o = spark.table("o_bucketed")
    got = (li.join(o, li.l_orderkey == o.o_orderkey)
           .groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
           .orderBy("o_orderstatus").collect())
    li2 = load_table(spark, sf_dir, "lineitem")
    o2 = load_table(spark, sf_dir, "orders")
    want = (li2.join(o2, li2.l_orderkey == o2.o_orderkey)
            .groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("o_orderstatus").collect())
    assert got == want


def test_partitioned_scan_prunes(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_by_type")
    write_partitioned(load_table(spark, sf_dir, "events"), out, "event_type")
    df = read_partitioned(spark, out).filter(F.col("event_type") == "click")
    plan = _explain(df)
    pf = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "event_type" in pf, f"expected directory pruning, got {pf}"
    # pruned scan reads only the matching partition directory
    n_click = df.count()
    n_all = load_table(spark, sf_dir, "events") \
        .filter(F.col("event_type") == "click").count()
    assert n_click == n_all


def test_partitioned_write_roundtrip_schema(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_rt")
    events = load_table(spark, sf_dir, "events")
    write_partitioned(events, out, "event_type")
    back = read_partitioned(spark, out)
    assert back.count() == events.count()
    # partition column survives (as string directory key) + data columns
    assert set(back.columns) == set(events.columns)


def test_dynamic_partition_pruning_from_dim_filter(spark, sf_dir, tmp_path):
    # The 100 TB star-join pattern: the fact table is partitioned on the
    # join key's dimension attribute; a filter on the DIMENSION side
    # must prune fact partitions AT RUNTIME (dynamic partition pruning)
    # even though no literal predicate touches the fact's partition
    # column. Catalyst inserts a dynamicpruning subquery into the fact
    # scan's PartitionFilters.
    out = str(tmp_path / "orders_by_prio")
    write_partitioned(load_table(spark, sf_dir, "orders"),
                      out, "o_orderpriority")
    fact = read_partitioned(spark, out)
    # tiny dimension mapping priority -> class, filtered on class
    dim = spark.createDataFrame(
        [("1-URGENT", "hot"), ("2-HIGH", "hot"), ("3-MEDIUM", "warm"),
         ("4-NOT SPECIFIED", "cold"), ("5-LOW", "cold")],
        ["prio", "klass"])
    j = (fact.join(dim.filter(F.col("klass") == "hot"),
                   fact.o_orderpriority == dim.prio)
         .agg(F.count(F.lit(1)).alias("n")))
    plan = _explain(j)
    assert "dynamicpruning" in plan.lower(), \
        "dimension filter must reach the fact scan as a runtime partition filter"
    got = j.collect()[0]["n"]
    want = (load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
            .count())
    assert got == want


def test_footer_stats_pushes_aggregates(spark, sf_dir):
    """COUNT/MIN/MAX must be answered by the scan (PushedAggregation)
    under the helper's scoped DSv2 configs, match a plain full-scan
    aggregate exactly, and leave the session configs untouched."""
    import contextlib
    import io
    import os

    from datastream_processing_demo_spark.sources.layout import footer_stats

    path = os.path.join(sf_dir, "lineitem.parquet")
    before = spark.conf.get("spark.sql.sources.useV1SourceList", None)

    got = footer_stats(spark, path, cols=("l_orderkey", "l_quantity"))
    df = spark.read.parquet(path)
    want = df.selectExpr("count(*) AS n_rows",
                         "min(l_orderkey) AS min_l_orderkey",
                         "max(l_orderkey) AS max_l_orderkey",
                         "min(l_quantity) AS min_l_quantity",
                         "max(l_quantity) AS max_l_quantity").collect()[0]
    assert got == want.asDict()
    assert spark.conf.get("spark.sql.sources.useV1SourceList", None) == before

    # the plan under the helper's scope really is footer-answered
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try:
        agg = spark.read.parquet(path).selectExpr(
            "count(*) AS n", "min(l_orderkey) AS lo")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            agg.explain("formatted")
        assert "PushedAggregation: [COUNT(*), MIN(l_orderkey)]" \
            in buf.getvalue()
    finally:
        if before is None:
            spark.conf.unset("spark.sql.sources.useV1SourceList")
        else:
            spark.conf.set("spark.sql.sources.useV1SourceList", before)
        spark.conf.unset("spark.sql.parquet.aggregatePushdown")


def test_compact_fragmented_table(spark, sf_dir, tmp_path):
    """Small-file compaction: a 64-fragment table rewrites into a handful
    of row-capped files with identical content (the streaming-sink
    cleanup every 100 TB pipeline runs between ingest and training)."""
    import glob

    import pyarrow.parquet as pq

    from datastream_processing_demo_spark.sources.layout import compact_files

    events = load_table(spark, sf_dir, "events")
    n_rows = events.count()
    frag = str(tmp_path / "fragmented")
    events.repartition(64).write.mode("overwrite").parquet(frag)
    n_frag = len(glob.glob(os.path.join(frag, "*.parquet")))
    assert n_frag >= 60, f"fixture should be fragmented, got {n_frag} files"

    target = (n_rows // 4) + 1
    dst = str(tmp_path / "compacted")
    n_out = compact_files(spark, frag, dst, target_rows_per_file=target)
    out_files = glob.glob(os.path.join(dst, "*.parquet"))
    assert n_out == len(out_files)
    assert n_out < n_frag // 4, f"compaction barely helped: {n_out} files"
    # the row cap holds per file (maxRecordsPerFile is a hard bound)
    for f in out_files:
        assert pq.ParquetFile(f).metadata.num_rows <= target

    # content identical: same rows, nothing dropped or duplicated
    back = spark.read.parquet(dst)
    assert back.count() == n_rows
    assert back.exceptAll(events).count() == 0
    assert events.exceptAll(back).count() == 0
