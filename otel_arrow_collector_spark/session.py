"""SparkSession factory with the engine's verified configuration.

Scale stance: these configs are chosen for a real multi-executor cluster
(AQE on, skew-join handling on, partition coalescing on); locally we run
``local[N]``.  The two non-negotiable correctness settings (verified against
DuckDB, SURVEY.md §2.8 note):

- ``spark.sql.legacy.parquet.nanosAsLong=true`` — ``events.ts`` is parquet
  ``timestamp[ns]`` (the reference's Timestamp is uint64 *nanoseconds*,
  pdata/pcommon/timestamp.go:15); Spark cannot read parquet nanos natively,
  so the loader reads them as longs and derives a µs TimestampType column.
- ``spark.sql.session.timeZone=UTC`` — all calendar math in UTC.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Configs that must be set before the JVM starts (cannot be set on an
#: existing session).
_STARTUP_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime re-plan, skew-join splitting, partition
    # coalescing — the scale path for 100 TB inputs.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF exchange (the engine's slow-path escape hatch).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Join strategy: this threshold and AQE's runtime statistics choose
    # broadcast vs shuffle for every join.  Operators hint a broadcast
    # only on relations bounded by construction (k centroids, query
    # sets, per-type/per-nation aggregates, constant offset frames) whose
    # static estimate would otherwise grow with the input.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.shuffle.partitions": "32",
    # ANSI off matches DuckDB's permissive casts for the declared queries.
    "spark.sql.ansi.enabled": "false",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(app_name: str = "otel-arrow-collector-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster, leave it unset and submit via spark-submit — every operator in
    this package is partition-aware and needs no local-mode assumptions.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _STARTUP_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # If an existing session was reused, re-assert the runtime-settable keys.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
