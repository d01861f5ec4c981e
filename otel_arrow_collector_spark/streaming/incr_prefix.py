"""Streaming EXACT near-dup detection — the incremental-arrival twin of
``operators/dedup.dedup_allpairs_prefix`` (Bayardo/PPJoin prefix
filtering against a persisted, frozen-order prefix store).

The LSH family already has both halves (``dedup_incremental`` batch +
``incr_dedup.py`` stateful stream); this closes the same asymmetry for
the EXACT path.  Unlike the LSH twin, the prefix discipline cannot be a
per-band ``applyInPandasWithState`` group: a document's PREFIX is
defined by a rank over a GLOBAL token order, so each arriving batch
must (1) rank its shingles under the store's frozen df order
(stream-static join + a batch-sized window) and (2) prefix-join against
the store relation — a composition of batch joins, expressed as a
Structured Streaming ``foreachBatch`` sink over the micro-batch stream:

    store = FrozenPrefixStore(spark, corpus_docs)
    q = run_prefix_dedup_stream(spark, stream_docs, store, emit_fn)

Per micro-batch: verified pairs touching the batch are emitted (exact,
``operators.dedup.prefix_incremental_pairs`` — the SAME function the
batch-incremental operator runs, so stream and batch cannot diverge),
then the batch's shingles/sizes/prefixes are appended to the store
UNDER THE FROZEN ORDER (tokens the original corpus never saw rank
rarest at df=1 — any fixed total order satisfies the prefix lemma, so
exactness holds across every arrival split; re-versioning the order is
a store-rebuild operation, exactly as in the batch path's docstring).

Idempotence: a re-delivered doc_id is anti-joined away before the
append, and its re-emitted pairs are the pairs already emitted (set
semantics downstream) — the same at-least-once + idempotent-sink
contract as the LSH twin and the reference's redelivery path
(exporter/internal/persistent_storage.go:278-345).

Scale shape: per-batch cost is bounded by the batch (shard-sized
ranking window, prefix-to-prefix candidate join under the
dedup_prefix_cost_model df^2 bound, candidate-bounded verify); the
store grows by append only.  In-session each store relation is
checkpoint-materialized (``cache_registry.plan_checkpoint``) per
append, so its plan stays one ``unionByName`` deep whatever the batch
count: a persisted relation would keep its whole lineage, and each
batch's docs relation holds the previous one twice (the union and the
anti-join), so its plan doubled per batch.  Production appends parquet
partitions instead, the cold-start path
test_signature_store_parquet_roundtrip pins for the LSH store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import cache_registry
from ..operators.cache_registry import _free_checkpoint
from ..operators.dedup import (JACCARD_THRESHOLD, _spark_shingles,
                               build_prefix_store,
                               prefix_incremental_pairs)


class FrozenPrefixStore:
    """Mutable in-session exact-dedup store: the four
    ``build_prefix_store`` relations over the corpus, checkpointed, plus
    the doc texts (needed by the candidate-bounded verify); appended
    per micro-batch under the corpus-frozen token order."""

    def __init__(self, spark: SparkSession, corpus_docs: DataFrame):
        self.spark = spark
        self.docs = cache_registry.plan_checkpoint(
            corpus_docs.select("doc_id", "text"))
        rels = build_prefix_store(self.docs)
        self.shd, self.sizes, self.dfr, self.pref = \
            (cache_registry.plan_checkpoint(r) for r in rels)

    def known_ids(self) -> DataFrame:
        return self.docs.select("doc_id")

    def pairs_for(self, batch_docs: DataFrame) -> DataFrame:
        """Exact verified pairs touching ``batch_docs`` (vs store and
        intra-batch), under the frozen order — see
        prefix_incremental_pairs.

        The verify relation must hold each doc_id ONCE
        (verify_candidate_pairs shingles it per row — a duplicate
        doubles n_sh/n_common and corrupts j), so re-delivered ids are
        anti-joined out of the union (their text already sits in
        ``self.docs``) and the batch is deduped within itself; the
        candidate side still sees the full batch, so a re-delivered
        doc's pairs re-emit identically (idempotent sink contract)."""
        batch_docs = batch_docs.dropDuplicates(["doc_id"])
        all_docs = self.docs.unionByName(
            batch_docs.select("doc_id", "text")
            .join(self.known_ids(), "doc_id", "left_anti"))
        return prefix_incremental_pairs(
            self.spark, all_docs,
            (self.shd, self.sizes, self.dfr, self.pref), batch_docs)

    def append(self, batch_docs: DataFrame) -> None:
        """Extend the store with the batch's docs (re-delivered ids are
        dropped — idempotent), ranking the new prefixes under the
        FROZEN dfr (unseen tokens df=1); dfr itself never changes.
        The batch is deduped within itself first: two copies of a NEW
        id in one micro-batch both survive the store anti-join, and a
        doubled doc would corrupt every later batch's verify."""
        from pyspark.sql import Window
        fresh = (batch_docs.select("doc_id", "text")
                 .dropDuplicates(["doc_id"])
                 .join(self.known_ids(), "doc_id", "left_anti"))
        f_shd = (fresh
                 .select("doc_id", F.split("text", " ").alias("ws"))
                 .select("doc_id",
                         F.explode(F.array_distinct(
                             F.expr(_spark_shingles()))).alias("sh")))
        f_sizes = f_shd.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_sh"))
        w = Window.partitionBy("doc_id").orderBy("df", "sh")
        f_pref = (f_shd.join(self.dfr, "sh", "left")
                  .withColumn("df", F.coalesce("df", F.lit(1)))
                  .withColumn("rn", F.row_number().over(w))
                  .join(f_sizes, "doc_id")
                  .filter(F.col("rn") <= F.expr("n_sh div 2 + 1"))
                  .select("doc_id", "sh"))
        # every new relation is materialized BEFORE any old one is
        # freed: each extra reads the old docs through ``fresh``
        new = {attr: cache_registry.plan_checkpoint(
                   getattr(self, attr).unionByName(extra))
               for attr, extra in (("docs", fresh), ("shd", f_shd),
                                   ("sizes", f_sizes), ("pref", f_pref))}
        for attr, rel in new.items():
            _free_checkpoint(getattr(self, attr))
            setattr(self, attr, rel)

    def release(self) -> None:
        for r in (self.docs, self.shd, self.sizes, self.dfr, self.pref):
            _free_checkpoint(r)


def run_prefix_dedup_stream(spark: SparkSession, stream_docs: DataFrame,
                            store: FrozenPrefixStore, emit,
                            checkpoint: str | None = None):
    """Drive the exact-dedup ingest over a (doc_id, text) doc stream:
    per micro-batch, ``emit(pairs_df, batch_id)`` receives the verified
    (d1, d2, n_common, j) pairs with j >= JACCARD_THRESHOLD touching
    the batch, then the batch joins the store.  Returns the started
    StreamingQuery (caller awaits/stops)."""
    def process(batch_df: DataFrame, batch_id: int) -> None:
        ver = store.pairs_for(batch_df)       # persisted + materialized
        try:
            # emit must CONSUME the pairs (collect/write) inside the
            # call: the relation's cache is released right after
            emit(ver.filter(F.col("j") >= JACCARD_THRESHOLD), batch_id)
        finally:
            ver.unpersist(False)
        store.append(batch_df)

    writer = (stream_docs.writeStream.foreachBatch(process)
              .outputMode("update"))
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()
