"""SparkSession factory carrying the reference pipeline's tuning surface.

The reference configures its session at spark_streaming/streaming_job.py:172-189
(AQE + partition coalescing, Kryo, shuffle parallelism, RocksDB state store).
We keep those knobs, pin the session timezone to UTC for deterministic
timestamp semantics, and disable ANSI mode so string->number coercion is
tolerant (null-on-failure), matching the reference validator's semantics
(data_quality/validation_consumer.py:182-191).

Scale posture: shuffle partitions default to the local core count, so every
shuffle stage runs in one wave of tasks.  Stateful streaming stages pay a
RocksDB load and commit per task (~0.2 s for a few hundred rows), so a
second wave costs a micro-batch far more than the parallelism it buys; on
a real cluster this is overridden (AQE coalescing makes over-partitioning
cheap, under-partitioning is what hurts at 100 TB).  The driver heap
defaults to half the host's physical RAM, capped at 16g.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical RAM in whole GiB, between 1g and 16g.  The
    other half is left to the OS and the Python workers (Arrow batches,
    pandas UDFs); 16g is what the 10x scale fixture needs, reached on any
    host with 32 GiB or more."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "4g"
    return f"{min(16, max(1, ram // 2**31))}g"


def build_session(
    app_name: str = "iot-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    # In local mode executors share the driver JVM, whose default 1 GiB heap
    # is 32-way-divided across task slots — measured to OOM at the 10x-of-
    # sf0.1 scale fixture while the host has 128 GiB.  Sized here (takes
    # effect because the JVM launches on first session build); a real
    # cluster overrides per-executor memory in spark-submit instead.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory()

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        # Reference session tuning (streaming_job.py:172-189)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic, oracle-comparable semantics
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        # Driver fixtures store events.ts as parquet TIMESTAMP(NANOS)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow for any pandas-UDF path (similarity/text/multimodal ops)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # RocksDB state store for streaming state (streaming_job.py:175-176)
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.streaming.minBatchesToRetain", "100")
        .config("spark.sql.streaming.stopGracefullyOnShutdown", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
