"""SparkSession factory + engine config surface.

The reference hand-tunes a Flink job (DataStreamProcessingJob.java:70-96).
Here the session carries only what is session-wide (parallelism as
shuffle partitions, plus config overrides) so Catalyst + AQE do the
physical planning; the per-job knobs (checkpoint interval and location,
sink batch size) are arguments of the streaming query and its sinks,
set by job.py from the properties file.

Scale notes (100 TB design point):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast-join demotion/promotion are essential at scale where
  static estimates are wrong.
- shuffle.partitions defaults to 2x cores locally; on a real cluster this
  would be sized so ~128 MB/partition post-shuffle (AQE coalesces down).
- maxPartitionBytes 128 MB keeps scan tasks balanced against 100 TB of
  parquet (~800k input splits on a 1000-executor cluster).

State store: stateful queries (streaming/windows.py, stateful.py) run on
Spark's default HDFS-backed store. On perfbench's `state_batch` drain it
used about 30% less CPU than RocksDB, a gap that grew with state size,
but it keeps state on the JVM heap: about 315 B per state row (98 MB at
311k rows), held in the ~40% of the heap that Spark's unified memory
leaves to user objects. RocksDB, off-heap, is the better choice from
about 20M state rows with the default 16g heap, or 2M with perfbench's
2g heap. To switch, set spark.sql.streaming.stateStore.providerClass to
org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider
in `EngineConfig.extra_conf` or SPARK_GRAFT_EXTRA_CONF. A checkpoint
keeps the provider it was started with across restarts.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class EngineConfig:
    """Session-wide engine configuration (per-job knobs live in job.py).
    The session time zone is UTC; spark.sql.session.timeZone in
    `extra_conf` or SPARK_GRAFT_EXTRA_CONF overrides it."""

    app_name: str = "datastream-processing-demo-spark"
    master: str | None = None          # default: local[$SPARK_GRAFT_CPUS]
    parallelism: int | None = None     # reference `parallelism` (default 8) -> shuffle partitions
    extra_conf: dict = field(default_factory=dict)


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _export_package_path() -> None:
    """Put this package's parent directory on PYTHONPATH, which the JVM
    and its local-mode Python workers inherit when the JVM starts: the
    workers unpickle the `plog` source by module path."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root] + paths)


def get_session(config: EngineConfig | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Declarative-plan-first: everything here is config; the physical
    strategy (broadcast vs SMJ, partial agg, pushdown) is Catalyst's job.
    """
    cfg = config or EngineConfig()
    cpus = _cpus()
    master = cfg.master or f"local[{cpus}]"
    # 2x cores locally: with tasks == slots one stolen vCPU stalls a
    # whole stage. On a cluster, `parallelism` / SPARK_GRAFT_EXTRA_CONF
    # size this by data (~128 MB-1 GB post-shuffle) and AQE coalesces.
    shuffle_parts = cfg.parallelism or max(2 * cpus, 8)
    # spark.default.parallelism is deliberately NOT set: left alone it
    # equals the task-slot count, the width spread() gives CPU-bound
    # per-row stages and AQE's coalesce floor for tiny reduce sides
    # (-21% on the heaviest queries, short ones flat).
    # Local-mode executors live inside the driver JVM, so the driver heap
    # is the whole engine's memory; Spark's 1g default OOMs once data
    # outgrows toy scale. A no-op if the JVM already exists.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    builder = (
        SparkSession.builder.appName(cfg.app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in cfg.extra_conf.items():
        builder = builder.config(k, str(v))
    # Deployment/experiment overrides without code edits: semicolon-
    # separated k=v pairs, applied last so they win over the defaults
    # above and over EngineConfig.extra_conf. Empty/None-valued entries
    # are ignored. Example:
    #   SPARK_GRAFT_EXTRA_CONF="spark.sql.shuffle.partitions=4096;\
    #       spark.sql.adaptive.advisoryPartitionSizeInBytes=256m"
    env_overrides: dict[str, str] = {}
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        pair = pair.strip()
        if pair and "=" in pair:
            k, v = pair.split("=", 1)
            env_overrides[k.strip()] = v.strip()
            builder = builder.config(k.strip(), v.strip())
    _export_package_path()
    spark = builder.getOrCreate()
    # When a SparkSession already exists in the process (pytest session
    # fixture, repeated get_session calls), getOrCreate returns it and
    # builder.config only lands for runtime-settable SQL confs — the
    # "applied last so they win" guarantee silently does not hold for
    # static ones. Surface that instead of hiding it.
    for k, v in env_overrides.items():
        try:
            cur = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unknown keys have no default
            continue
        if cur != v:
            print(f"session: SPARK_GRAFT_EXTRA_CONF wants {k}={v} but the "
                  f"pre-existing session has {cur} (static conf cannot be "
                  f"changed after startup)", file=sys.stderr)
    spark.sparkContext.setLogLevel("WARN")
    return spark
