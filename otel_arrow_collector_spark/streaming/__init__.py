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
- memory-limiter refusal -> source admission: ``rate_limited_reader``
  (maxFilesPerTrigger-style rate caps — backpressure, not data loss)
- incrementally merged aggregate state (Structured Streaming's stateful
  aggregation) -> ``keyed_merge.keyed_merge_stream``: one vectorised
  keyed commutative merge (sum / min / max / distinct, optional bottom-k)
  behind the hhi, quantiles, changepoint, seasonal, streaks, theta and
  reservoir twins; the hll, cms and funnel twins are plain update-mode
  ``groupBy().agg()`` streams
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
