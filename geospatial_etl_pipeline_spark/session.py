"""SparkSession builder tuned for this engine.

Local-mode defaults mirror the driver environment (local[32], 128 GiB) but
every setting is chosen to survive a 1000-executor cluster:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and broadcast-join demotion/promotion based on observed sizes.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE's coalescing makes the initial number a ceiling, not a bet.
- Arrow enabled so any pandas-UDF path is vectorized batch transfer.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-invariant.
- ``spark.sql.legacy.parquet.nanosAsLong`` on, so a parquet
  TIMESTAMP(NANOS) column reads as ``bigint`` nanos instead of failing
  the read (``sources.tables.normalize_event_ts`` turns it into a
  timestamp). It is session policy: no loader sets it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "geospatial-etl-pipeline-spark") -> SparkSession:
    """Build (or fetch) the tuned local SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Pin the confs that affect result *values* (not speed) on a session
    we did not build — e.g. the driver's. Idempotent, value-safe only."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark
