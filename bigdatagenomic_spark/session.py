"""SparkSession factory.

Replaces the reference's MPI bootstrap (assembly_final.cpp:651-652
``mpi_tools::init`` + ``distributed_control``) with a SparkSession.
All distribution, serialization (assembly_final.cpp:22-27 hand-written
archives) and barriers are delegated to Spark.

Tuned for the project environment (local[N], single JVM) but every knob
is the one you would also set on a 1000-executor cluster:
  * AQE on: runtime join-strategy switching, partition coalescing and
    skew-join splitting — the 100 TB safety net.
  * shuffle.partitions sized to cores locally; on a real cluster this is
    overridden per-deploy (or left to AQE's coalescing).
  * UTC session timezone so results hash-match the DuckDB oracle.
  * PySpark's DataFrame debugging off: with it on, every ``functions.*``
    and ``Column`` call captures its Python call site and sends it to the
    JVM over py4j; off, an AnalysisException no longer names the Python
    line that built the failing expression (pass
    ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
    before the first Column call to get it back).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Driver heap for a local session: half the host's physical memory in
    whole GiB, at least 1g and at most 48g (a larger heap on a small host
    lets the JVM grow until the kernel kills it)."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, phys_bytes // 2**31))}g"


def get_spark(
    app_name: str = "bigdatagenomic_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession."""
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # older driver testdata stored events.ts as TIMESTAMP(NANOS),
        # which the parquet reader rejects without this flag; current
        # files store micros and the flag is inert
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
