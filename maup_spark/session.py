"""SparkSession factory with the engine's scale-oriented defaults.

The same config set is intended for a 1000-executor cluster; only
``master`` differs in the sandbox (local[N]).  AQE handles runtime skew
re-planning on top of the engine's explicit salting.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap when ``SPARK_DRIVER_MEM`` is unset: a quarter of the
    machine's physical memory (``MemTotal``), clamped to [1, 24] GB.  A
    machine whose memory cannot be read gets the 24 GB ceiling."""
    try:
        with open(meminfo) as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        kb = 4 * 24 * 1024 * 1024
    return f"{max(1024, min(24 * 1024, kb // (4 * 1024)))}m"


def get_spark(
    app_name: str = "maup-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # shuffle spill to RAM-backed storage when available (single-node
    # stand-in for per-executor NVMe; keeps shuffle IO off the boot disk)
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    except OSError:
        pass
    # Iceberg runtime probe: when the iceberg-spark-runtime jar is on the
    # classpath (SPARK_GRAFT_ICEBERG_JARS, or spark.jars via spark-submit
    # --packages), configure the `lake` catalog so io/table.py's real
    # writeTo(...).using("iceberg") path switches on.  In the jar-less
    # sandbox this is a no-op and the parquet fallback carries the
    # partitioning (SURVEY §6).
    jars = os.environ.get("SPARK_GRAFT_ICEBERG_JARS")
    if jars:
        from .io.table import configure_iceberg

        builder = builder.config("spark.jars", jars)
        builder = configure_iceberg(
            builder,
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/maup_spark_warehouse"
            ),
        )
    return builder.getOrCreate()
