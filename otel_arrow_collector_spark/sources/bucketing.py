"""Bucketed storage — the co-located-join scale path.

At 100 TB the dominant cost of a self-join or repeated key-join (span
parent→child linkage, dedup candidate verification, fact-fact joins) is
the shuffle.  Writing the table bucketed by the join key once makes every
subsequent equi-join on that key shuffle-free: Spark reads matching
buckets pairwise and the plan contains no Exchange on the bucketed sides.

The reference has no storage layer (it is a pass-through pipeline), so
this is engine-added infrastructure, sized for the training-data use case
(TESTDATA star schema; `documents`/`embeddings` corpora).

Usage::

    write_bucketed(lineitem, path, "lineitem_b", ["l_orderkey"], 32)
    lb = read_bucketed(spark, "lineitem_b")
    lb.alias("a").join(lb.alias("b"), "l_orderkey")   # no shuffle
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, path: str, table: str,
                   keys: list[str], n_buckets: int = 32,
                   sort: bool = True) -> None:
    """Write ``df`` hash-bucketed (and optionally sorted) by ``keys`` as an
    external table at ``path``.  Bucket count should match downstream
    ``spark.sql.shuffle.partitions`` at the target scale so bucket-joins
    line up 1:1 with shuffle partitions."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.option("path", path).format("parquet").saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table (bucket metadata comes from the catalog —
    a plain ``spark.read.parquet`` of the same path would lose it)."""
    return spark.table(table)

