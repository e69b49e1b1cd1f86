"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the conf below is chosen so
the same logical plans survive a 1000-executor / 100-TB deployment:
AQE handles skew + runtime coalesce, broadcast threshold keeps dim/feature
joins shuffle-free, Arrow makes the few pandas-grouped ops batch-transfer.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: driver-memory default ceiling, and the share of host memory it may take
DRIVER_MEM_CAP_MB = 24 * 1024
DRIVER_MEM_HOST_SHARE = 0.6


def _host_memory_mb() -> int | None:
    """Physical memory of this host in MB, or None where the platform does
    not report it."""
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    except (AttributeError, OSError, ValueError):
        return None


def driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` when set, else
    min(24g, 60% of physical memory) — a fixed 24g default asks a 15 GB
    host for more heap than it has, and the JVM then dies (or the host
    swaps) only once the heap actually grows."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    host_mb = _host_memory_mb()
    if host_mb is None:
        return f"{DRIVER_MEM_CAP_MB}m"
    return f"{min(DRIVER_MEM_CAP_MB, int(host_mb * DRIVER_MEM_HOST_SHARE))}m"


def get_spark(app_name: str = "ekg-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``shuffle_partitions`` defaults to ``SPARK_GRAFT_CPUS``; on a real
    cluster pass ~2-3x total executor cores. Every key set below is set
    unconditionally, and builder values override the launcher's
    (``spark-submit --conf``, ``PYSPARK_SUBMIT_ARGS``): a submit conf of
    ``spark.sql.shuffle.partitions`` does not reach the session, so this
    argument is the one way to change it. The codegen cache size is fixed
    the same way. Only the master is left to the launcher when it names
    one.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = SparkSession.builder.appName(app_name)
    # only default the master when nothing picked one — an unconditional
    # .master() would override spark-submit --master on a real cluster
    # (round-1 advice)
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "") + os.environ.get("SPARK_SUBMIT_OPTS", "")
    externally_mastered = (
        os.environ.get("SPARK_MASTER")
        or os.environ.get("MASTER")
        or "--master" in submit_args
        or "spark.master" in submit_args
    )
    if not externally_mastered:
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        # generated-class cache, sized to hold a refresh op's working set.
        # One refresh op (EP1-EP4 at perfbench's sf0.01 refresh) generates
        # ~370 distinct whole-stage classes; Spark's default of 100 entries
        # evicted each op's classes before the next op ran, so every warm
        # op recompiled ~370 of them (10-14 ms of Janino each). Warm
        # compiles per op, measured: 100 -> ~371, 256 -> ~330 (the working
        # set still does not fit), 512 -> 2-38 but rising again (29/28/37)
        # by the sixth op, once the classes a run accumulates (~370 plus
        # each op's new plan variants and a traced op's ~80) pass 512;
        # 1024 -> 0-20 over ten ops. Static: fixed when the JVM starts.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # UI off by default (test/bench hygiene); callers that read the
        # REST status API (perfbench's traced run sums per-layer stage
        # counters from it) opt in via the env var
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI_ENABLED", "false"))
    )
    return builder.getOrCreate()
