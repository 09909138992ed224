"""SparkSession factory — the single place scale knobs are set.

The reference has exactly one parallelism knob (Event Hub
partition_count=2, terraform/main.tf:79) and runs single-threaded
(src/main.ts:144-191). Here every session is created with:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- shuffle partitions sized to the machine (override via env for clusters)
- UTC session timezone (parity with naive parquet timestamps)
- Arrow for any pandas interchange
- nanosAsLong so ns-precision parquet timestamps (events.ts) are readable;
  Spark has no ns timestamp type, so we keep raw int64 nanoseconds and
  derive a us-precision timestamp column in the catalog.

``configure_session`` applies the runtime-settable subset to a session we
did not create (the driver harness builds its own).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf that must be set at build time (or is harmless to re-set).
BUILD_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS); read as int64 ns.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # 10 MB default is conservative for dims like region/nation/status.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(64 * 1024 * 1024),
}

# Subset that is runtime-settable on an existing session.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
}


def _cpus() -> int:
    """``SPARK_GRAFT_CPUS`` when it is a positive integer, else every CPU
    of this machine."""
    try:
        n = int(os.environ["SPARK_GRAFT_CPUS"])
    except (KeyError, ValueError):
        n = 0
    return n if n > 0 else os.cpu_count() or 1


def get_spark(
    app_name: str = "pgcdc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in BUILD_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    configure_session(spark)
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Make an externally-created session safe for this engine's queries."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a locked-down session; best effort
    return spark
