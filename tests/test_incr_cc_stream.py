"""Incremental connected components: the quotient-graph
merge-on-arrival store reproduces the one-shot labels over random
splits and emits exactly the changed/new labels per batch, and the
registered batch query matches the full closure.  The
``run_cc_stream`` twin (splits, shuffled order, re-delivery, restart)
runs through the harness (``tests/stream_twins.py``)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from otel_arrow_collector_spark.operators import dedup
from tests.stream_twins import py_components

EDGES = "d1 long, d2 long"


def _store_labels(store):
    return {(r.node, r.cluster_id) for r in store.labels().collect()}


@pytest.mark.slow
def test_incremental_cc_equals_batch_across_random_splits(spark):
    """8 seeded trials: random multigraphs applied to the store in 1-4
    shuffled batches with ~30% re-delivered edges; the final labels
    equal the engine's one-shot CC and a Python union-find."""
    from otel_arrow_collector_spark.streaming.incr_cc import (
        IncrementalCCStore, free_labels)

    for seed in range(8):
        rng = random.Random(seed)
        n = rng.randint(6, 18)
        edges = [(rng.randint(0, n), rng.randint(0, n))
                 for _ in range(rng.randint(3, 2 * n))]
        feed = edges + rng.sample(edges, k=max(1, len(edges) // 3))
        rng.shuffle(feed)
        k = rng.randint(1, 4)
        per = -(-len(feed) // k)
        store = IncrementalCCStore(spark,
                                   spark.createDataFrame(feed[:per], EDGES))
        for b in range(1, k):
            if feed[b * per:(b + 1) * per]:
                delta = store.apply_batch(spark.createDataFrame(
                    feed[b * per:(b + 1) * per], EDGES))
                delta.collect()
                free_labels(delta)
        got = _store_labels(store)
        assert got == set(py_components(edges).items()), f"seed {seed}"
        assert got == {(r.node, r.cluster_id) for r in
                       dedup.connected_components(spark.createDataFrame(
                           edges, EDGES)).collect()}, f"seed {seed}"
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
    full = set(py_components(edges).items())
    corpus = set(py_components([(a, b) for a, b in edges
                                if a % m != rem and b % m != rem]).items())
    assert delta == full - corpus
