"""Incremental connected components (verdict r14 ask #7): the
quotient-graph merge-on-arrival store and its foreachBatch streaming
twin must reproduce the from-scratch full-batch labels across ANY
arrival split, shuffled order, re-delivery, and intra-batch duplicate
edges — and emit exactly the changed/new labels per batch."""

from __future__ import annotations

import random
import tempfile

import pytest
from pyspark.sql import functions as F  # noqa: F401  (parity with peers)

from otel_arrow_collector_spark.operators import dedup

EDGES = "d1 long, d2 long"


def _py_components(edges):
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    nodes = set()
    for a, b in edges:
        nodes.update((a, b))
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(n, find(n)) for n in nodes}


def _store_labels(store):
    return {(r.node, r.cluster_id) for r in store.labels().collect()}


@pytest.mark.slow
def test_incremental_cc_equals_batch_across_random_splits(spark):
    """8 seeded trials: random multigraphs applied in 1-4 shuffled
    batches with ~30% re-delivered and duplicated edges — the store's
    final labels equal both the engine's one-shot CC and a pure-Python
    union-find."""
    from otel_arrow_collector_spark.streaming.incr_cc import \
        IncrementalCCStore

    for seed in range(8):
        rng = random.Random(seed)
        n = rng.randint(6, 18)
        edges = [(rng.randint(0, n), rng.randint(0, n))
                 for _ in range(rng.randint(3, 2 * n))]
        feed = edges + rng.sample(edges, k=max(1, len(edges) // 3))
        rng.shuffle(feed)
        k = rng.randint(1, 4)
        per = (len(feed) + k - 1) // k

        init = feed[:per]
        store = IncrementalCCStore(
            spark, spark.createDataFrame(init, EDGES))
        for b in range(1, k):
            batch = feed[b * per:(b + 1) * per]
            if batch:
                delta = store.apply_batch(
                    spark.createDataFrame(batch, EDGES))
                delta.collect()
                from otel_arrow_collector_spark.streaming.incr_cc import \
                    free_labels
                free_labels(delta)

        expected = _py_components(edges)
        got = _store_labels(store)
        assert got == expected, f"seed {seed}"
        full = {(r.node, r.cluster_id) for r in
                dedup.connected_components(
                    spark.createDataFrame(edges, EDGES)).collect()}
        assert got == full, f"seed {seed}"
        store.release()


@pytest.mark.slow
def test_incremental_cc_delta_is_changed_rows_only(spark):
    """The emitted delta: new nodes + relabelled nodes, nothing else;
    a pure-redelivery batch emits an EMPTY delta (idempotence)."""
    from otel_arrow_collector_spark.streaming.incr_cc import (
        IncrementalCCStore, free_labels)

    store = IncrementalCCStore(
        spark, spark.createDataFrame([(1, 2), (10, 11)], EDGES))
    assert _store_labels(store) == {(1, 1), (2, 1), (10, 10), (11, 10)}

    # edge (2,10) merges the two components: 10,11 relabel to 1; edge
    # (20,21) introduces two new nodes
    d1 = store.apply_batch(
        spark.createDataFrame([(2, 10), (20, 21)], EDGES))
    got = {(r.node, r.cluster_id) for r in d1.collect()}
    free_labels(d1)
    assert got == {(10, 1), (11, 1), (20, 20), (21, 20)}
    assert _store_labels(store) == {(1, 1), (2, 1), (10, 1), (11, 1),
                                    (20, 20), (21, 20)}

    # redelivery of everything already merged: empty delta, store stable
    d2 = store.apply_batch(
        spark.createDataFrame([(2, 10), (1, 2), (20, 21)], EDGES))
    assert d2.count() == 0
    free_labels(d2)
    assert _store_labels(store) == {(1, 1), (2, 1), (10, 1), (11, 1),
                                    (20, 20), (21, 20)}
    store.release()


@pytest.mark.slow
def test_cc_stream_twin_deltas_compose_to_batch_labels(spark, tmp_path):
    """foreachBatch twin over 4 shuffled micro-batches with
    re-delivery: replaying the per-batch deltas in order (last write
    wins) yields exactly the one-shot batch labels."""
    from otel_arrow_collector_spark.streaming.incr_cc import (
        IncrementalCCStore, run_cc_stream)

    rng = random.Random(23)
    edges = [(rng.randint(0, 30), rng.randint(0, 30)) for _ in range(40)]
    feed = edges + rng.sample(edges, k=12)
    rng.shuffle(feed)
    src = tempfile.mkdtemp(prefix="incr_cc_stream_")
    per = (len(feed) + 3) // 4
    for b in range(4):
        batch = feed[b * per:(b + 1) * per]
        if batch:
            (spark.createDataFrame(batch, EDGES)
             .coalesce(1).write.mode("append").parquet(src))

    store = IncrementalCCStore(spark)           # empty store
    replay: dict = {}
    order: list = []

    def grab(delta, bid):
        order.append(bid)
        for r in delta.collect():
            replay[r.node] = r.cluster_id       # last write wins

    stream = (spark.readStream.schema(EDGES.replace(" long", " long"))
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = run_cc_stream(spark, stream, store, grab,
                      checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    expected = _py_components(edges)
    assert set(replay.items()) == expected
    assert _store_labels(store) == expected
    assert len(order) >= 2                      # genuinely incremental
    store.release()


@pytest.mark.slow
def test_cc_incremental_query_matches_full_closure(spark):
    """The registered batch query: store(corpus edges) + one shard
    batch == full-closure labels restricted to changed/new rows."""
    from tests.conftest import SF_SMALL

    delta = {(r.node, r.cluster_id) for r in
             dedup.dedup_cc_incremental(spark, SF_SMALL).collect()}
    assert delta
    edges = [(r.d1, r.d2) for r in
             dedup._jaccard_verified(spark, SF_SMALL)
             .filter(F.col("j") >= dedup.JACCARD_THRESHOLD)
             .select("d1", "d2").collect()]
    m, rem = dedup.INCR_SHARD_MOD, dedup.INCR_SHARD_REM
    full = _py_components(edges)
    corpus = _py_components([(a, b) for a, b in edges
                             if a % m != rem and b % m != rem])
    assert delta == full - corpus
