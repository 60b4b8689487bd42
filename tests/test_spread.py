"""spread() width rules (r12-opt): blanket widening, the min_bytes
size gate, and the scale-adaptive bytes_per_task clamp used by the
Arrow/numpy lanes (semdedup_fast, bruteforce_topk_pandas)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datastream_processing_demo_spark.catalog import load_table
from datastream_processing_demo_spark.operators.spread import spread


def _width(df) -> int:
    return df.rdd.getNumPartitions()


def _input_bytes(df) -> int:
    return sum(os.path.getsize(f.removeprefix("file:"))
               for f in df.inputFiles())


def test_default_spreads_to_parallelism(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    target = spark.sparkContext.defaultParallelism
    assert _width(spread(docs)) == target


def test_min_bytes_gate_keeps_narrow(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    huge = _input_bytes(docs) + 1
    assert _width(spread(docs, min_bytes=huge)) == _width(docs)
    # at/above the gate it widens as usual
    assert _width(spread(docs, min_bytes=1)) == \
        spark.sparkContext.defaultParallelism


def test_bytes_per_task_scales_width_with_input(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    total = _input_bytes(docs)
    para = spark.sparkContext.defaultParallelism
    # one giant task budget -> width 1 (but never 0)
    assert _width(spread(docs, bytes_per_task=total * 10)) == 1
    # a budget of total/3 -> ceil -> 3 partitions (when 3 < parallelism)
    if para > 3:
        assert _width(spread(docs, bytes_per_task=-(-total // 3))) == 3
    # a tiny budget saturates at the parallelism cap, exactly the
    # 100 TB behavior (clamp makes the rule a no-op where wide is right)
    assert _width(spread(docs, bytes_per_task=1)) == para


def test_bytes_per_task_values_unchanged(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = sorted(r["doc_id"] for r in spread(docs).collect())
    b = sorted(r["doc_id"]
               for r in spread(docs, bytes_per_task=256 << 10).collect())
    assert a == b


def test_no_file_inputs_keep_full_parallelism(spark):
    # ADVICE r12: a non-file-backed frame has inputFiles() == [] (no
    # exception), and the old total=0 clamp collapsed it to width 1.
    # Unknown size must err toward spreading for every gate flavor.
    df = spark.range(0, 10_000, 1, 64).selectExpr("id AS doc_id")
    para = spark.sparkContext.defaultParallelism
    assert spread(df, bytes_per_task=256 << 10).rdd.getNumPartitions() >= para
    assert spread(df, min_bytes=2 << 20).rdd.getNumPartitions() >= para


def test_bytes_per_task_narrows_many_small_files(spark, sf_dir, tmp_path):
    # ADVICE r12: the clamp used to only cap WIDENING, so a tiny corpus
    # stored as many small files kept its micro-task fan-out. It now
    # coalesces (shuffle-free) down to the byte-budget width.
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "many_files")
    docs.repartition(8).write.mode("overwrite").parquet(out)
    many = spark.read.parquet(out)
    assert len(many.inputFiles()) >= 8
    total = _input_bytes(many)
    narrowed = spread(many, bytes_per_task=total * 10)
    assert narrowed.rdd.getNumPartitions() == 1
    # and the rows are untouched
    assert sorted(r["doc_id"] for r in narrowed.collect()) == \
        sorted(r["doc_id"] for r in docs.collect())
