"""SparkSession factory tuned for the engine.

Defaults target correctness tests on ``local[*]`` while keeping every knob
scale-ready: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow for the Python<->JVM boundary, and a shuffle-partition
count that callers override per deployment (32 locally; thousands on a real
cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# read for the host's physical RAM; the heap default never exceeds a share
# of it
_MEMINFO = "/proc/meminfo"


def _default_driver_mem(cpus: str) -> str:
    """Default driver heap for ``local[cpus]``. local-mode executors share
    the driver JVM, so per-task execution memory is heap/cores: the heap
    scales with the core count (3/4 GiB per core, 12 GiB floor) to keep
    hash aggregates and broadcast builds off the GC floor — a fixed heap
    runs 4x the concurrent tasks in the same memory at local[32] vs
    local[8]. It is capped at 60% of physical RAM (``MemTotal``), so a
    many-core host with little RAM never asks for a heap the machine
    cannot back; where ``/proc/meminfo`` is unreadable the cap is
    skipped."""
    try:
        n_cores = int(cpus)
    except ValueError:  # "*" — all machine cores
        n_cores = os.cpu_count() or 8
    gib = max(12, (n_cores * 3) // 4)
    try:
        with open(_MEMINFO) as f:
            total_kib = next(
                int(line.split()[1])
                for line in f
                if line.startswith("MemTotal:")
            )
        gib = min(gib, max(1, int(0.6 * total_kib / 2**20)))
    except (OSError, ValueError, IndexError, StopIteration):
        pass
    return f"{gib}g"


def get_spark(
    app_name: str = "incr-iter-hadoop-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Env overrides: ``SPARK_GRAFT_CPUS`` (local parallelism),
    ``SPARK_GRAFT_DRIVER_MEM`` (driver heap).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing, skew-join mitigation, plan re-opt
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batches for any pandas UDF / mapInPandas path
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # ANSI off: engine keeps permissive casts like the reference's text codecs
        .config("spark.sql.ansi.enabled", "false")
        # the driver's events table stores timestamp[ns]; Spark's reader
        # rejects TIMESTAMP(NANOS) unless read as raw long (converted to a
        # proper timestamp in catalog.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # quieter local runs
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
