"""The process model: `get_session`'s workers fork from the package's
preloaded, frozen daemon (`worker_daemon.py`), and forking from it is
safe although the preload leaves Arrow's allocator thread running in
the daemon; the engine JVM runs with the session's JIT options."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DAEMON = "datastream_processing_demo_spark.worker_daemon"


def test_engine_jvm_starts_with_the_jit_options(spark, monkeypatch):
    from pyspark.sql import SparkSession

    from datastream_processing_demo_spark.session import (
        JIT_OPTIONS,
        EngineConfig,
        get_session,
    )

    flags = JIT_OPTIONS.split()
    assert len(flags) == 4
    args = list(spark.sparkContext._jvm.java.lang.management
                .ManagementFactory.getRuntimeMXBean().getInputArguments())
    start = args.index(flags[0])
    assert args[start:start + len(flags)] == flags, args
    assert (spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions")
            == JIT_OPTIONS)
    # What get_session hands the launcher. Spark itself writes its module
    # options into extraJavaOptions at startup, so the running conf
    # cannot show that the program left it unset. The spy returns the
    # running session untouched: no second JVM starts, and no conf of
    # the shared session changes.
    asked = {}

    def spy(builder):
        asked.update(builder._options)
        return spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", spy)
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
    get_session(EngineConfig(app_name="tests"))
    assert asked["spark.driver.defaultJavaOptions"] == JIT_OPTIONS
    assert "spark.driver.extraJavaOptions" not in asked


def test_workers_fork_from_the_frozen_package_daemon(spark):
    def probe(batches):
        import gc

        for _ in batches:
            pass
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            parent = f.read().replace(b"\0", b" ").decode()
        yield pa.RecordBatch.from_pydict(
            {"parent": [parent], "frozen": [gc.get_freeze_count()]})

    row = (spark.range(1, numPartitions=1)
           .mapInArrow(probe, "parent string, frozen long").collect()[0])
    assert f"-m {DAEMON}" in row["parent"], row["parent"]
    assert row["frozen"] > 0


FORK_CHILDREN = textwrap.dedent(f"""
    import os, sys
    import {DAEMON}
    import pyarrow as pa
    import pyarrow.parquet as pq

    threads = [open(f"/proc/self/task/{{t}}/comm").read().strip()
               for t in os.listdir("/proc/self/task")]
    print("threads", threads, flush=True)
    out = sys.argv[1]
    pids = []
    for i in range(8):
        pid = os.fork()
        if pid == 0:
            code = 1
            try:
                t = pa.table({{"i": list(range(i * 1000, (i + 1) * 1000)),
                              "s": [str(k) for k in range(1000)]}})
                pq.write_table(t, os.path.join(out, f"{{i}}.parquet"))
                code = 0
            finally:
                os._exit(code)
        pids.append(pid)
    codes = [os.waitstatus_to_exitcode(os.waitpid(p, 0)[1]) for p in pids]
    print("codes", codes, flush=True)
""")


def test_fork_after_preload_is_safe(tmp_path):
    env = dict(os.environ, OMP_NUM_THREADS="1",
               PYTHONPATH=os.pathsep.join(
                   [ROOT, os.environ.get("PYTHONPATH", "")]))
    res = subprocess.run([sys.executable, "-c", FORK_CHILDREN, str(tmp_path)],
                         env=env, capture_output=True, text=True, timeout=60)
    assert res.returncode == 0, res.stderr
    # the hazard is real: the preload leaves a second thread running
    assert "jemalloc_bg_thd" in res.stdout, res.stdout
    assert "codes [0, 0, 0, 0, 0, 0, 0, 0]" in res.stdout, res.stdout
    assert sorted(os.listdir(tmp_path)) == [f"{i}.parquet" for i in range(8)]
    assert pq.read_table(tmp_path).num_rows == 8000
