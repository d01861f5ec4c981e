"""Streaming connected components — the incremental-arrival twin of
``operators/dedup.connected_components`` (verdict r14 ask #7: the last
batch/stream asymmetry in the dedup family — the LSH and exact-prefix
pair DETECTORS both have stateful twins, but the transitive-closure
CANONICALIZER they feed did not).

Incremental label maintenance over a persisted (node, label) store,
label = MIN reachable node id, via the quotient-graph lemma: contracting
every existing component to its representative preserves connectivity
for ADDED edges, so per batch it suffices to

  1. map each arriving edge's endpoints through the store labels
     (unseen nodes map to themselves) — the contracted edge set,
     batch-sized;
  2. run exact connected components over the contracted edges alone
     (bounded by 2x batch edges, so the adaptive CC takes its driver
     union-find path) — a RELABEL map old-representative -> new;
  3. apply the relabel to the store (broadcast join — the map is
     batch-bounded) and append rows for never-seen nodes.

Labels stay exactly the full-batch labels because representatives ARE
their components' minima: the min of a merged component is the min of
its representatives.  Edge ADDITION is therefore merge-on-arrival exact
with no fixpoint ever violated (labels only decrease); edge DELETION
can split a component and is a store-REBUILD operation, exactly as
re-versioning the frozen token order is for the prefix store
(incr_prefix.py module docstring).

Idempotence: a re-delivered edge contracts to a self-loop, the relabel
map is the identity on it, and the emitted delta is empty — the same
at-least-once + idempotent-sink contract as the other twins and the
reference's redelivery path
(exporter/internal/persistent_storage.go:278-345).

Per-round store relations go through ``cache_registry.plan_checkpoint``
(constant plan depth; inherits the $SPARK_GRAFT_CHECKPOINT_DIR reliable-
checkpoint knob, so the long-running ingest form survives executor
loss on a real cluster).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import cache_registry
from ..operators.cache_registry import _free_checkpoint
from ..operators.dedup import connected_components
from ..session import local_frame


def free_labels(df: DataFrame) -> None:
    """Eagerly release a delta/labels relation returned by
    ``IncrementalCCStore`` (they are checkpoint-materialized; the
    relation must not be evaluated again afterwards)."""
    _free_checkpoint(df)


class IncrementalCCStore:
    """Mutable in-session label store: (node, lbl) for every node seen
    in any applied edge, lbl = exact min-reachable id."""

    def __init__(self, spark: SparkSession, edges: DataFrame | None = None,
                 src: str = "d1", dst: str = "d2"):
        self.spark = spark
        if edges is None:
            base = local_frame(spark, [], "node long, lbl long")
        else:
            base = (connected_components(edges, src=src, dst=dst)
                    .withColumnRenamed("cluster_id", "lbl"))
        self.lbl = cache_registry.plan_checkpoint(base)

    def labels(self) -> DataFrame:
        """Current labels as (node, cluster_id)."""
        return self.lbl.select("node", F.col("lbl").alias("cluster_id"))

    def apply_batch(self, edges: DataFrame,
                    src: str = "d1", dst: str = "d2") -> DataFrame:
        """Merge one batch of arriving edges; returns the DELTA — the
        (node, cluster_id) rows that changed or appeared, checkpoint-
        materialized (caller consumes then ``free_labels`` it).  Cost
        is bounded by the batch (contracted CC) plus one broadcast
        relabel join over the store — never a store-sized shuffle of
        edges."""
        e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
             .distinct())
        la = self.lbl.select(F.col("node").alias("a"),
                             F.col("lbl").alias("la"))
        lb = self.lbl.select(F.col("node").alias("b"),
                             F.col("lbl").alias("lb"))
        contracted = (e.join(la, "a", "left").join(lb, "b", "left")
                      .select(F.coalesce("la", F.col("a")).alias("ca"),
                              F.coalesce("lb", F.col("b")).alias("cb")))
        relabel = (connected_components(contracted, src="ca", dst="cb")
                   .select(F.col("node").alias("old"),
                           F.col("cluster_id").alias("new")))
        # the hint stays: the relabel map is batch-bounded by
        # construction, but Spark cannot size it (both CC paths return a
        # relation it estimates at >= Long.MaxValue bytes)
        upd = (self.lbl.join(F.broadcast(relabel),
                             self.lbl["lbl"] == relabel["old"], "left")
               .select("node", F.coalesce("new", "lbl").alias("lbl")))
        # relabel keys absent from the store's NODE set are never-seen
        # nodes (representatives are member minima, hence store nodes)
        fresh = (relabel.join(self.lbl,
                              relabel["old"] == self.lbl["node"],
                              "left_anti")
                 .select(F.col("old").alias("node"),
                         F.col("new").alias("lbl")))
        new = cache_registry.plan_checkpoint(upd.unionByName(fresh))
        # delta BEFORE the old store is freed; checkpointed so its
        # lineage cannot dangle on the freed relation
        delta = cache_registry.plan_checkpoint(
            new.join(self.lbl, ["node", "lbl"], "left_anti")
               .select("node", F.col("lbl").alias("cluster_id")))
        old, self.lbl = self.lbl, new
        _free_checkpoint(old)
        return delta

    def release(self) -> None:
        _free_checkpoint(self.lbl)


def run_cc_stream(spark: SparkSession, edge_stream: DataFrame,
                  store: IncrementalCCStore, emit,
                  checkpoint: str | None = None):
    """Drive incremental CC over a (d1, d2) edge stream: per
    micro-batch ``emit(delta_df, batch_id)`` receives the changed/new
    (node, cluster_id) labels, then the store advances.  Returns the
    started StreamingQuery (caller awaits/stops)."""
    def process(batch_df: DataFrame, batch_id: int) -> None:
        delta = store.apply_batch(batch_df)
        try:
            # emit must CONSUME the delta inside the call: its blocks
            # are freed right after
            emit(delta, batch_id)
        finally:
            free_labels(delta)

    writer = (edge_stream.writeStream.foreachBatch(process)
              .outputMode("update"))
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()
