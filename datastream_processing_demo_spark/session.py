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
- shuffle.partitions defaults to one per task slot locally; on a real
  cluster this would be sized so ~128 MB/partition post-shuffle (AQE
  coalesces down).
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

JIT: much of the JVM's CPU goes to HotSpot compiling Spark itself, not
to running queries. Over one untraced perfbench `state_batch` run
(seed 2, 4 vCPU) with HotSpot's default thresholds, the JVM used 64.9
CPU-s: C2 compiler threads 29.9 s, C1 5.8 s, executor task threads 9.7 s.
Over a session start and three passes of its query mix, C2 compiled
2,333 methods in 19.9 s, 0.6 s of it Spark's generated code: the rest
is warm-up code that runs a few thousand times (JDK class loading,
lambda forms, zip, Java serialization, Catalyst, Scala, Janino), not
the queries' hot loops (-XX:+LogCompilation). `JIT_OPTIONS` raises
HotSpot's four tier-4 (C2) thresholds x5, so such methods stay in C1
code while hot loops still reach C2: on the same `state_batch` run C2
fell to 14.7 s, executor threads rose to 11.3 s and the JVM total fell
to 51.4 s; over 20 interleaved pairs (seeds 1-10 and 14-23) its
work_cpu_ref_s fell by about a fifth. x30 and x100 kept hot loops in
profiled C1 code too long (executor threads 22 and 39 s on seed 4), and
C1 alone (-XX:TieredStopAtLevel=1) made each warm pass of the query mix
about 45% slower.
The price is paid at start-up, which runs the same warm-up code: the
streaming job (perfbench `pipeline`) took about 9% longer from its
launch to its first micro-batch's result. Once running, over ten
20-second open loops at 1000 msgs/s, interleaved with HotSpot's
defaults, its per-batch CPU and p50 latency moved by less than the
runs' own spread. Over three 3-minute ones the last ~100 micro-batches
cost the same CPU per row, though one pair read 17% more per-batch CPU
and 18% more p50 latency over the whole loop. The open loop used 2-5%
less CPU. A 7-minute pair read per-batch CPU 1.84 -> 1.69 s and p50
latency 859 -> 823 ms. Longer runs were not measured.
The flags go in spark.driver.defaultJavaOptions, which the launcher
puts before spark.driver.extraJavaOptions, and HotSpot takes the last
occurrence of a flag. This conf replaces any value spark-defaults.conf
gives it, so site-wide driver flags belong in extraJavaOptions. To
restore HotSpot's defaults, append
`-XX:Tier4InvocationThreshold=5000 -XX:Tier4MinInvocationThreshold=600
-XX:Tier4CompileThreshold=15000 -XX:Tier4BackEdgeThreshold=40000` to
spark.driver.extraJavaOptions (in `EngineConfig.extra_conf` or
SPARK_GRAFT_EXTRA_CONF). Like spark.driver.memory, the flags do
nothing if the JVM already exists. Local-mode executors run in the
driver JVM; a cluster's executors keep HotSpot's defaults.

Python processes: the engine starts these kinds, listed with their PSS
at the memory peak of perfbench `pipeline` (local[4]):
- the driver, the process that calls `get_session`: about 95 MB;
- three data-source planner daemons (`pyspark.daemon` serving
  `lookup_data_sources`, `create_data_source` and
  `plan_data_source_read`), 33-38 MB each, each with one worker of
  42-53 MB;
- one `python_streaming_source_runner` per streaming query on a Python
  source such as `plog`: about 62 MB;
- the worker daemon, `worker_daemon.py` (about 39 MB), and the
  `pyspark.worker` processes it forks: two per `pipeline` task (the
  `plog` read and the `PartitionSink` pass), so 8 on 4 task slots, about
  49 MB each.
Workers fork from a daemon that has already imported numpy, pandas,
pyarrow and the package's source and sink modules and then frozen them
out of the garbage collector (`gc.freeze`). Each worker shares those
pages copy-on-write instead of importing them privately (78 MB each when
forked from plain `pyspark.daemon`), and the `gc.collect()` a reused
worker runs after each task skips them. The executors must be able to
import this package, which `plog` already requires. To fork from
Spark's own daemon instead, set
`spark.python.daemon.module=pyspark.daemon` in SPARK_GRAFT_EXTRA_CONF.
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
    parallelism: int | None = None     # reference `parallelism` -> shuffle partitions (default: task slots)
    extra_conf: dict = field(default_factory=dict)


# HotSpot's four tier-4 (C2) compile thresholds, each 5x its default
# (see JIT above). Not in extraJavaOptions: a caller's value for that
# conf (perfbench sets one) would replace them, where set beside this
# conf it lands after them on the command line and its flags win.
JIT_OPTIONS = ("-XX:Tier4InvocationThreshold=25000 "
               "-XX:Tier4MinInvocationThreshold=3000 "
               "-XX:Tier4CompileThreshold=75000 "
               "-XX:Tier4BackEdgeThreshold=200000")


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _export_package_path() -> None:
    """Put this package's parent directory on PYTHONPATH, which the JVM
    and its local-mode Python workers inherit when the JVM starts: Spark
    starts this package's `worker_daemon`, and the workers unpickle the
    `plog` source by module path."""
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
    # One partition per task slot, as the reference sizes its operators
    # to `parallelism`. A stateful operator's state-store partition count
    # is this value when its checkpoint is created (kept across
    # restarts), and each state trigger commits one store per partition.
    # On perfbench `state_batch` (4 vCPU, 10 interleaved seeds), 4
    # partitions instead of 2x cores' 8 cut work_cpu_ref_s from 51.7 to
    # 46.1 s (medians) and state commit p50 from 1878 to 892 ms; no
    # stage stalled on a stolen vCPU. AQE already coalesced batch
    # shuffles to the slot count. job.py passes the properties file's
    # `parallelism` (the reference default, 8) on purpose: the job
    # honours that surface, and its pipeline runs no shuffle. On a
    # cluster, `parallelism` / SPARK_GRAFT_EXTRA_CONF size this by data
    # (~128 MB-1 GB post-shuffle) and AQE coalesces.
    shuffle_parts = cfg.parallelism or cpus
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
        .config("spark.driver.defaultJavaOptions", JIT_OPTIONS)
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
        .config("spark.python.daemon.module",
                "datastream_processing_demo_spark.worker_daemon")
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
