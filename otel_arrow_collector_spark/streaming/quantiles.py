"""Streaming quantiles — a stateful, MERGEABLE fixed-width-histogram
quantile estimator, the cross-batch twin of the rank-selection scale
path (operators/sketches.py engine.rank_select_scale).

State per group is one integer count vector over a fixed value-domain
cut (n_bins equal-width bins between configured lo..hi) — the sparse
(bin, count) rows of a ``sum`` merge on the keyed-merge operator
(``keyed_merge``), mergeable by plain addition across micro-batches,
shards, or days, the property a 100 TB rollup needs.  The quantile
estimate is DETERMINISTIC integer work: the value bin whose cumulative
count first reaches ceil(q * n / 100), published as the bin's
inclusive upper bound.  Stream and batch twin
(:func:`bin_quantiles_batch`) count the SAME bin column (Spark
``width_bucket`` with lo/hi+1/n_bins operands, :func:`_bin_col`), so
the streaming snapshot after the last batch EQUALS the batch answer on
the same rows, pinned in tests/test_quantiles_stream.py.  [lo, hi] is
the documented domain: a value outside it fails both paths instead of
landing in an edge bin.

Accuracy is the bin width (exact rank, quantized value) — the usual
histogram-sketch trade; callers needing exact values run the batch
rank-selection path instead.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..session import local_frame
from .keyed_merge import keyed_merge_stream

OUT_SCHEMA = StructType([
    StructField("grp", LongType()),
    StructField("q", LongType()),
    StructField("value_ub", LongType()),
    StructField("n", LongType()),
])


def _bin_index(v: int, lo: int, hi: int, n_bins: int) -> int:
    """0-based bin of ``v`` — integer-exact mirror of Spark's
    ``width_bucket(v, lo, hi + 1, n_bins) - 1``; ``v`` outside
    [lo, hi] raises, as :func:`_bin_col` does."""
    if not lo <= v <= hi:
        raise ValueError(f"value {v} outside the histogram domain "
                         f"[{lo}, {hi}]")
    return (v - lo) * n_bins // (hi + 1 - lo)


def _bin_col(v: str, lo: int, hi: int, n_bins: int) -> Column:
    """The 0-based bin column both paths count: Spark ``width_bucket``,
    failing the query on a value outside [lo, hi] (width_bucket would
    put it in bin -1 or n_bins)."""
    outside = F.raise_error(F.concat(
        F.lit("value "), F.col(v).cast("string"),
        F.lit(f" outside the histogram domain [{lo}, {hi}]")))
    return (F.when((F.col(v) < lo) | (F.col(v) > hi), outside)
            .otherwise(F.width_bucket(v, F.lit(lo), F.lit(hi + 1),
                                      F.lit(n_bins)) - 1))


def _quantiles_from_counts(counts, qs: tuple[int, ...],
                           lo: int, hi: int, n_bins: int):
    """(q, value_ub, n) per q from the dense per-bin count vector: the
    first bin whose cumulative count reaches ceil(q * n / 100),
    published as its inclusive upper bound."""
    cum = np.cumsum(np.asarray(counts, dtype=np.int64))
    n = int(cum[-1]) if len(cum) else 0
    out = []
    for q in qs:
        b = int(np.searchsorted(cum, (q * n + 99) // 100))
        # inclusive upper bound of bin b: lo + ((b+1)*w)/nb - 1
        ub = lo + ((b + 1) * (hi + 1 - lo)) // n_bins - 1
        out.append((q, ub if b < len(cum) else hi, n))
    return out


def bin_quantiles_stream(events: DataFrame, lo: int, hi: int,
                         n_bins: int = 256,
                         qs: tuple[int, ...] = (50, 90, 99)) -> DataFrame:
    """Per-group streaming quantile snapshots: after each micro-batch,
    one row per (grp, q) with the current estimate over ALL rows seen
    so far.  ``events`` needs long columns grp and v, v within
    [lo, hi]; a value outside fails the query."""

    def finalize(key, bins: pd.DataFrame) -> pd.DataFrame:
        counts = np.zeros(n_bins, dtype=np.int64)
        # _bin_col has failed the query on any bin outside [0, n_bins)
        counts[bins["b"].to_numpy()] = bins["c"].to_numpy()
        return pd.DataFrame(
            [(key[0], *row) for row in
             _quantiles_from_counts(counts, qs, lo, hi, n_bins)],
            columns=["grp", "q", "value_ub", "n"])

    binned = events.select("grp", _bin_col("v", lo, hi, n_bins).alias("b"),
                           F.lit(1).cast("long").alias("c"))
    return keyed_merge_stream(binned, ["grp"], ["b"], {"c": "sum"},
                              finalize, OUT_SCHEMA)


def bin_quantiles_batch(events: DataFrame, lo: int, hi: int,
                        n_bins: int = 256,
                        qs: tuple[int, ...] = (50, 90, 99)) -> DataFrame:
    """The batch twin, as pure column work: the stream's bin column
    counted, a per-group cumulative over <= n_bins rows, and the same
    ceil-rank bin pick — the two paths agree exactly, and both fail on
    a value outside [lo, hi]."""
    from pyspark.sql import Window
    binned = events.select("grp", _bin_col("v", lo, hi, n_bins).alias("b"))
    counts = binned.groupBy("grp", "b").agg(
        F.count(F.lit(1)).alias("c"))
    w = (Window.partitionBy("grp").orderBy("b")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (counts
           .withColumn("cum", F.sum("c").over(w))
           .withColumn("n", F.sum("c").over(Window.partitionBy("grp"))))
    qdf = local_frame(events.sparkSession, [(int(q),) for q in qs], "q long")
    hits = (cum.crossJoin(qdf)
            .filter(F.col("cum") >= F.expr("(q * n + 99) div 100"))
            .groupBy("grp", "q")
            .agg(F.min("b").alias("b"), F.max("n").alias("n")))
    ub = F.lit(lo) + F.expr(f"((b + 1) * {hi + 1 - lo}) div {n_bins}") - 1
    return hits.select("grp", "q", ub.cast("long").alias("value_ub"),
                       F.col("n").cast("long").alias("n"))
