"""Time-partitioned storage — the partition-pruning scale path.

Telemetry at 100 TB is always laid out by time (and often by signal /
tenant): a query over one hour must read one hour, not the archive.
Spark's hive-style ``partitionBy`` directories give this for free as long
as the filter references the partition column — the scan's
``PartitionFilters`` prune directories before any I/O.

The reference streams and never stores, so this is engine-added storage
infrastructure (the natural sink layout for the OTLP file exporter path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_time_partitioned(df: DataFrame, path: str, ts_col: str = "ts",
                           granularity: str = "day",
                           extra_keys: list[str] | None = None) -> None:
    """Write parquet partitioned by a derived calendar key (+ optional
    extra keys, e.g. signal type).  ``granularity``: 'day' or 'hour'."""
    if granularity == "day":
        part = F.date_format(F.col(ts_col), "yyyy-MM-dd")
    elif granularity == "hour":
        part = F.date_format(F.col(ts_col), "yyyy-MM-dd-HH")
    else:
        raise ValueError("granularity must be 'day' or 'hour'")
    keys = ["__part", *(extra_keys or [])]
    (df.withColumn("__part", part)
       .write.mode("overwrite").partitionBy(*keys).parquet(path))


def read_time_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)

