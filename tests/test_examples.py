"""The examples are the 'switch from the reference' documentation —
they must actually run. They run at the smallest scale factor in one
subprocess of their own, one after another (each builds and stops its
own SparkSession, which must never touch the suite's), so they share
one JVM start-up.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXAMPLES = ("training_data_pipeline.py", "library_usage.py",
            "log_ingestion.py", "incremental_ingest.py")
MARK, DONE = "=== example ", "=== done"

# Runs each example as __main__ and keeps going past a failure, so one
# broken example fails only its own test; DONE ends a clean run.
_RUNNER = f"""
import runpy, sys, traceback
for path in sys.argv[1:]:
    print({MARK!r} + path, flush=True)
    sys.argv = [path]
    try:
        runpy.run_path(path, run_name="__main__")
        print({DONE!r}, flush=True)
    except BaseException:
        traceback.print_exc(file=sys.stdout)
        from pyspark.sql import SparkSession
        if (s := SparkSession.getActiveSession()) is not None:
            s.stop()
"""


@pytest.fixture(scope="module")
def outputs() -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")
    paths = [os.path.join(REPO, "examples", name) for name in EXAMPLES]
    proc = subprocess.run(
        [sys.executable, "-c", _RUNNER, *paths], capture_output=True,
        text=True, timeout=600 * len(paths), env=env, cwd=REPO)
    out = {}
    for part in ("\n" + proc.stdout).split("\n" + MARK)[1:]:
        path, _, text = part.partition("\n")
        out[os.path.basename(path)] = text
    out["stderr"] = proc.stderr[-3000:]
    return out


def _run_example(outputs: dict, name: str) -> str:
    assert name in outputs, f"{name} never started:\n{outputs['stderr']}"
    out = outputs[name]
    assert out.rstrip().endswith(DONE), (
        f"{name} failed:\n{out[-3000:]}\n{outputs['stderr']}")
    return out


def test_training_data_pipeline_example_runs(outputs):
    out = _run_example(outputs, "training_data_pipeline.py")
    assert "raw docs:" in out
    # the split stats table materialized all stages end-to-end
    assert "train" in out and "n_packs" in out


def test_library_usage_example_runs(outputs):
    out = _run_example(outputs, "library_usage.py")
    assert "q1 pricing summary" in out
    assert "near-duplicate pairs:" in out
    assert "LSH candidate pairs:" in out
    assert "semdedup_fast" in out


def test_log_ingestion_example_runs(outputs):
    out = _run_example(outputs, "log_ingestion.py")
    assert "produced hwms:" in out
    assert "acked offsets" in out
    assert "backfill rows: 40" in out


def test_incremental_ingest_example_runs(outputs):
    out = _run_example(outputs, "incremental_ingest.py")
    assert "existing corpus:" in out
    assert "survivors after incremental dedup:" in out
    assert "per-source packing:" in out
