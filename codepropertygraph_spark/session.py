"""SparkSession factory tuned for the KG-construction workload.

Local mode is a sandbox proxy for a multi-executor cluster; every config here
is chosen to also be the right default on a 1000-executor cluster reading
100 TB:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting — the
  explicit skew handling demanded by BASELINE.json north_rule),
- Arrow on (all Python UDFs in this engine are pandas/Arrow-vectorized;
  per-row Python is banned by the north_rule),
- UTC session timezone (oracle comparisons against DuckDB, whose timestamps
  are UTC-naive),
- shuffle partitions sized to cores locally; on a real cluster AQE coalesces
  from a high initial number instead,
- local cores and driver heap sized to the box the process runs on
  (:func:`default_cores`, :func:`default_driver_memory`), overridable with
  ``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEMORY``,
- a JIT tiering policy for the driver JVM (:data:`JIT_JAVA_OPTIONS`): every
  build, drain or test run starts a fresh JVM that runs most of Spark's own
  code only a few thousand times, so the C2 (tier-4) compiles HotSpot's
  default thresholds trigger cost more CPU than they save before the JVM
  exits. The flags go in ``spark.driver.defaultJavaOptions``; Spark appends
  ``spark.driver.extraJavaOptions`` (``SPARK_GRAFT_JAVA_OPTS``) after them,
  and the JVM takes the last value of a repeated ``-XX:`` flag, so e.g.
  ``SPARK_GRAFT_JAVA_OPTS=-XX:Tier4InvocationThreshold=5000`` restores that
  default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local mode runs the executors inside the driver JVM, so the driver heap is
# the whole engine's memory. The JVM's resident size runs past its heap
# (metaspace, code cache, Netty and Arrow direct buffers), and the Python
# workers of the Arrow/pandas UDFs and the page cache under the parquet
# scans need physical memory of their own. 40 % of MemTotal leaves them the
# rest; a heap above physical memory is never collected before the kernel's
# OOM killer ends the JVM.
DRIVER_MEMORY_FRACTION = 0.4

# HotSpot's tier-4 (C2) thresholds, 10x their defaults; tiers 1-3 (C1) are
# untouched. A cold kgbench `build` (4-core box) starts a fresh JVM whose
# compilers report 85 s of compile time (CompilationMXBean), 37-44 CPU-s of
# it on the C2 threads, mostly for Janino, java.*, Catalyst, Scala collection
# and serialization code that runs a few thousand times per build and never
# repays a C2 compile. Build CPU (cpu_ref, s) by multiplier, seeds 900-901
# (x10 and x20 also 902-903): x1 107-108, x5 88-106, x10 79-90, x20 75-87,
# x40 86-87. x20 reads ~4 % below x10, about one run-to-run spread, and x40
# rises again, as more time runs in profiled C1 code; x10 is the smallest
# value within that spread of the minimum.
# Stopping at C1 (-XX:TieredStopAtLevel=1) builds in 60 CPU-s but doubles
# the per-row path (bench.py kg_pipeline at sf0.1: 14.5 s and 51 CPU-s at
# x1, 28.6 s and 100 CPU-s at C1 only).
JIT_JAVA_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


def default_cores() -> int:
    """The cores this process may run on (its affinity mask), which a
    container can set below the host's core count."""
    return len(os.sched_getaffinity(0))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``DRIVER_MEMORY_FRACTION`` of the box's ``MemTotal``, in MiB."""
    with open(meminfo) as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                kib = int(line.split()[1])
                return f"{int(kib * DRIVER_MEMORY_FRACTION) // 1024}m"
    raise RuntimeError(f"no MemTotal line in {meminfo}")


def get_spark(
    app_name: str = "codepropertygraph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    :func:`default_cores`); the driver heap to ``$SPARK_DRIVER_MEMORY`` (env,
    default :func:`default_driver_memory`).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or default_cores())
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        env_sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        if env_sp:
            shuffle_partitions = int(env_sp)
        else:
            # local: one shuffle partition per core. Cluster: set high (e.g.
            # 2000) and let AQE coalesce at runtime.
            n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
            shuffle_partitions = cpus if n == "*" else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing targets max(total/parallelism, minPartitionSize);
        # the 1m default lets a few-MB shuffle collapse to 2-4 partitions,
        # which serializes any downstream stage whose work EXPANDS past its
        # input bytes (wedge enumeration, closure joins, walk probes —
        # measured 5x on the link-prediction wedge stage at sf0.1). 64k keeps
        # small-input/large-fanout stages at full parallelism; large shuffles
        # are unaffected (their total/parallelism target already dominates).
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: the driver heap IS the executor heap (cluster mode
        # sets spark.executor.memory instead).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.defaultJavaOptions", JIT_JAVA_OPTIONS)
    )
    java_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS")
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
