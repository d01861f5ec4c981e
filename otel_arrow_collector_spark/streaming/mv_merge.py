"""Streaming materialized-view maintenance — the stateful twin of
``operators/relational.q89_incremental_mv_merge`` (micro-batch = the
DELTA partition, parquet view store = the OLD rollup).

q89 proves the algebraic property in batch form: aggregation state per
(l_returnflag, l_linestatus) is a commutative monoid — count/sum merge
by addition, min/max by min/max — so a rollup absorbs a new partition
without re-reading history.  This module runs that merge as a
``foreachBatch`` sink: every micro-batch of lineitem delta rows
aggregates to batch partials (map-side combinable, the only pass over
the delta), the partials OUTER-merge with the stored view, and the new
view replaces the old one atomically.  Because the merge is the monoid
operation, the maintained view is BIT-EQUAL to a from-scratch recompute
over everything delivered so far — equality, not approximation
(pytest-pinned per batch, the q89 ``merge_exact`` flag in stream form).

Delivery contract: foreachBatch is at-least-once on restart, so the
sink is TRANSACTIONAL BY BATCH ID (the reference's persistent-queue
redelivery discipline, exporter/exporterhelper/internal/
persistent_storage.go:278-345): each batch commits a new view version
``v{batch_id}`` plus a marker file; a redelivered batch id is detected
and skipped, so replay cannot double-count.  Version history doubles as
the per-batch audit trail the equivalence test walks.

Scale: the view is |group-keys|-sized (a dimension grid, rows never
fact-sized); each round is one delta aggregation + one tiny
unionByName/groupBy merge — no history re-read, no growing state.  The
store rewrite is O(|view|), not O(|facts|).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

#: MV grid keys and the monoid fields (q89's exact state shape)
MV_KEYS = ["l_returnflag", "l_linestatus"]
_VIEW_SCHEMA = ("l_returnflag string, l_linestatus string, cnt long, "
                "sum_cents long, min_qty long, max_qty long")


def delta_partials(delta: DataFrame) -> DataFrame:
    """One micro-batch's aggregation state: the identical integer-cents
    arithmetic q89 uses, so stored partials are merge-compatible with
    any batch recompute."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (delta.groupBy(*MV_KEYS)
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum(cents).alias("sum_cents"),
                 F.min(F.col("l_quantity").cast("long")).alias("min_qty"),
                 F.max(F.col("l_quantity").cast("long")).alias("max_qty")))


def merge_partials(old: DataFrame, delta: DataFrame) -> DataFrame:
    """The commutative-monoid merge: count/sum add, min/max min/max.
    Union + re-aggregate keeps it one tiny hash agg over 2x|view| rows
    and inherits unionByName's missing-key handling (a key present in
    only one side passes through unchanged)."""
    return (old.unionByName(delta)
            .groupBy(*MV_KEYS)
            .agg(F.sum("cnt").alias("cnt"),
                 F.sum("sum_cents").alias("sum_cents"),
                 F.min("min_qty").alias("min_qty"),
                 F.max("max_qty").alias("max_qty")))


class MVMaintainer:
    """Parquet-backed maintained view with batch-id transactionality.

    ``store_dir`` holds one ``v{batch_id}`` parquet per committed batch
    plus a ``_COMMITTED_{batch_id}`` marker; the CURRENT view is the
    highest committed version.  Markers are written only after the
    version's parquet is fully written (write-then-mark, the
    plans/storage.py atomicity discipline), so a crash mid-write leaves
    an uncommitted version that replay simply overwrites.
    """

    def __init__(self, spark: SparkSession, store_dir: str):
        self._spark = spark
        self._dir = store_dir
        os.makedirs(store_dir, exist_ok=True)

    # -- store plumbing ----------------------------------------------------
    def committed_ids(self) -> list[int]:
        return sorted(int(f.split("_")[-1]) for f in os.listdir(self._dir)
                      if f.startswith("_COMMITTED_"))

    def _version_path(self, batch_id: int) -> str:
        return os.path.join(self._dir, f"v{batch_id}")

    def view_at(self, batch_id: int) -> DataFrame:
        """The committed view as of ``batch_id`` (audit-trail read)."""
        return self._spark.read.schema(_VIEW_SCHEMA).parquet(
            self._version_path(batch_id))

    def current(self) -> DataFrame:
        """The latest committed view (empty grid if nothing committed)."""
        ids = self.committed_ids()
        if not ids:
            return local_frame(self._spark, [], _VIEW_SCHEMA)
        return self.view_at(ids[-1])

    # -- the sink ----------------------------------------------------------
    def merge_batch(self, delta: DataFrame, batch_id: int) -> None:
        """OLD + DELTA -> new committed version.  Idempotent per batch
        id: a redelivered batch is skipped before any store write."""
        marker = os.path.join(self._dir, f"_COMMITTED_{batch_id}")
        if os.path.exists(marker):
            return                      # at-least-once replay: no-op
        merged = merge_partials(self.current(), delta_partials(delta))
        merged.coalesce(1).write.mode("overwrite").parquet(
            self._version_path(batch_id))
        with open(marker, "w") as f:    # commit point
            f.write("ok")

    def foreach_batch(self):
        """The ``writeStream.foreachBatch`` callable."""
        return lambda df, batch_id: self.merge_batch(df, int(batch_id))


def maintain_mv(deltas: DataFrame, store_dir: str, checkpoint: str):
    """Wire a lineitem delta stream into a maintained view: returns the
    started StreamingQuery; read the view via ``MVMaintainer.current``."""
    m = MVMaintainer(deltas.sparkSession, store_dir)
    return (deltas.writeStream.foreachBatch(m.foreach_batch())
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
            .start())
