"""Structured Streaming operators: the reference's pipeline runtime
semantics (batching, sharding, windows, dedup, admission control)
re-expressed on Spark's micro-batch engine.

Reference parity map:
- batch processor size/time triggers + oversize split
  (processor/batchprocessor/batch_processor.go:183-258, splittraces.go)
  -> ``batching.size_capped_chunks`` inside foreachBatch + trigger config
- metadata-keyed shard batching w/ cardinality cap
  (batch_processor.go:277-330) -> ``sharding.MetadataShardedBatcher``
  (applyInPandasWithState)
- tumbling/session windows + watermark (§2.9) -> ``windows``
- persistent-queue redelivery -> idempotent sink: ``dedup_stream``
  (dropDuplicates within watermark)
- incrementally merged aggregate state (Structured Streaming's stateful
  aggregation) -> ``keyed_merge.keyed_merge_stream``: one vectorised
  keyed commutative merge (sum / min / max / distinct, optional bottom-k)
  behind the hhi, quantiles, changepoint, seasonal, streaks, theta and
  reservoir twins; the hll, cms and funnel twins are plain update-mode
  ``groupBy().agg()`` streams

The other ``applyInPandasWithState`` sites, and why each is not a
``keyed_merge`` spec:
- ``ratelimit.rate_limit_stream``: order-dependent fold (a quota spent
  in arrival order, windows carried across batches)
- ``heavy_hitters.misra_gries_stream``: order-dependent fold (Misra-Gries
  decrements depend on arrival order)
- ``bloom_novelty.bloom_novelty_stream``: order-dependent fold (novelty
  is judged against the bits earlier arrivals set)
- ``interval_union.interval_union_stream``: capped island state (an
  island list per key, refused past ``MAX_ISLANDS``)
- ``incr_dedup.incr_dedup_stream``: capped band state (a band bucket's
  documents, refused past ``MAX_BAND_DOCS``; emits only new pairs)
- ``joins.asof_join_stream``: order-dependent fold (a purchase matches
  the last signup seen so far)
- ``temporality.delta_to_cumulative_stream``: order-dependent fold (a
  running sum emitted per point in arrival order)
- ``temporality.counter_rate_stream``: order-dependent fold (a rate
  against the previous point that arrived)
- ``temporality.histogram_merge_stream``: candidate (bucket-wise sums
  per series commute; the mixed-bounds rejection would move to a check)
- ``temporality.exp_histogram_merge_stream``: order-independent, but its
  merge downscales the state to the coarsest scale seen, which no
  ``sum``/``min``/``max`` rule expresses
- ``tailsampling.tail_sample_stream``: event-time timeout (a trace is
  decided once the watermark passes its last span plus the wait)
- ``sharding.MetadataShardedBatcher``: processing-time timeout (a
  shard's batch flushes on its timer)

Every twin is tested through one conformance harness
(``tests/stream_twins.py``): the same split, restart and re-delivery
properties against its batch query or a Python fold.
"""

from .batching import size_capped_chunks, stream_in_batches
from .dedup import dedup_stream
from .sharding import MetadataShardedBatcher, TooManyShardsError
from .windows import sessionized, windowed_counts

__all__ = [
    "size_capped_chunks", "stream_in_batches", "dedup_stream",
    "MetadataShardedBatcher", "TooManyShardsError",
    "sessionized", "windowed_counts",
]
