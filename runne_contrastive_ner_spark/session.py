"""SparkSession factory with scale-oriented defaults.

The settings below are the ones that matter on a real multi-executor cluster
reading ~100 TB; on ``local[N]`` they are harmless and keep plans identical:

* AQE on (runtime coalescing, skew-join splitting) — long conversations and
  hub entities are the two skew sources called out in SURVEY.md §7.2.
* Arrow enabled with a bounded batch size so pandas-UDF model scoring gets
  large-but-memory-safe batches (the reference's ``batch_size=1`` inference,
  recognize.py:73, is the anti-pattern we are undoing).
* Shuffle partitions sized for the local harness; a cluster deployment would
  set this (or rely on AQE coalescing) per data volume.
* UTC session timezone so timestamp semantics line up with the DuckDB oracle.
* Sized to the host: ``local[N]`` over the cores this process may run on, and
  a driver heap of a quarter of physical RAM clamped to 1..8 GiB (local mode
  runs every task inside that one JVM, so a fixed large heap gets the JVM
  OOM-killed on a small host). ``SPARK_GRAFT_CPUS`` and
  ``SPARK_DRIVER_MEMORY`` override the two defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Cores this process may run on (its CPU affinity, not the machine's)."""
    return len(os.sched_getaffinity(0))


def default_driver_memory_gb(total_bytes: int | None = None) -> int:
    """A quarter of physical RAM in whole GiB, clamped to 1..8."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(1, min(8, total_bytes // (4 << 30)))


def build_session(
    app_name: str = "runne-kg-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(default_cpus())
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver JVM hosts every task, so this heap is the
        # whole engine's memory; it must fit the host (see the module doc)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or f"{default_driver_memory_gb()}g",
        )
        # throughput GC for batch workloads: measured 2.5x on the
        # allocation-heavy triple stage vs default G1 (33.4s -> 13.4s at 32
        # threads); latency is irrelevant for this engine
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
