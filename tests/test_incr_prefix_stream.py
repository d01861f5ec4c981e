"""Exact-path incremental dedup (the dedup_allpairs_prefix batch/stream
closure): the store-based incremental operator reproduces the
from-scratch exact all-pairs result restricted to pairs touching the
arriving docs.  The ``run_prefix_dedup_stream`` twin (splits, shuffled
arrival, re-delivery, restart) runs through the harness
(``tests/stream_twins.py``)."""

from __future__ import annotations

import pytest

from otel_arrow_collector_spark.operators import dedup
from tests.conftest import SF_SMALL


def _allpairs(spark):
    """Full-corpus exact result as a set of value tuples (the batch
    query caps at 500 rows; assert the cap never binds at this SF so
    the restriction below is complete)."""
    rows = dedup.dedup_allpairs_prefix(spark, SF_SMALL).collect()
    assert len(rows) < 500
    return {(r.d1, r.d2, r.n_common, r.jaccard) for r in rows}


@pytest.mark.slow
def test_incremental_prefix_equals_batch_restricted(spark):
    """Store-based exact incremental pairs == the from-scratch exact
    all-pairs join restricted to shard-touching pairs.  The candidate
    sets DIFFER (global df order vs store-frozen order) — the verified
    outputs may not: both algorithms are exact."""
    m, rem = dedup.INCR_SHARD_MOD, dedup.INCR_SHARD_REM
    incr = {(r.d1, r.d2, r.n_common, r.jaccard) for r in
            dedup.dedup_incremental_prefix(spark, SF_SMALL).collect()}
    expected = {t for t in _allpairs(spark)
                if t[0] % m == rem or t[1] % m == rem}
    assert incr == expected and incr


@pytest.mark.slow
def test_prefix_store_append_is_idempotent(spark):
    """Appending the same docs twice leaves the store relations at
    their first-append cardinalities (anti-join on known ids)."""
    from otel_arrow_collector_spark.streaming.incr_prefix import \
        FrozenPrefixStore

    d = dedup.load_table(spark, SF_SMALL, "documents")
    corpus = d.filter("doc_id % 10 < 5")
    batch = d.filter("doc_id % 10 = 7").select("doc_id", "text")
    store = FrozenPrefixStore(spark, corpus)
    store.append(batch)
    sizes = (store.docs.count(), store.shd.count(),
             store.sizes.count(), store.pref.count())
    store.append(batch)                       # re-delivery
    assert (store.docs.count(), store.shd.count(),
            store.sizes.count(), store.pref.count()) == sizes
    store.release()


# -- property sweep: frozen-order exactness over random corpora ----------

from hypothesis import given, settings
from hypothesis import strategies as st

#: tiny vocab so random docs collide often (near-dups are the point)
_WORD = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])
_DOC = st.lists(_WORD, min_size=1, max_size=9).map(" ".join)


def _py_shingles(text: str) -> frozenset:
    ws = text.split(" ")
    return frozenset(" ".join(ws[i:i + 3]) for i in range(len(ws) - 2))


def _py_exact_pairs(docs: dict, touching: set) -> set:
    """Brute-force exact near-dup pairs (3-gram Jaccard >= threshold)
    with >= 1 endpoint in ``touching`` — fully independent of Spark."""
    out = set()
    ids = sorted(docs)
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            d1, d2 = ids[a], ids[b]
            if d1 not in touching and d2 not in touching:
                continue
            s1, s2 = _py_shingles(docs[d1]), _py_shingles(docs[d2])
            if not s1 or not s2:
                continue
            inter = len(s1 & s2)
            if inter and inter / len(s1 | s2) >= dedup.JACCARD_THRESHOLD:
                out.add((d1, d2, inter))
    return out


@settings(max_examples=8, deadline=None)
@given(texts=st.lists(_DOC, min_size=4, max_size=14),
       mask=st.integers(min_value=1, max_value=(1 << 14) - 1))
@pytest.mark.slow
def test_prefix_incremental_exact_on_random_corpora(spark, texts, mask):
    """Frozen-order PPJoin exactness, property-swept: on ANY corpus and
    ANY store/shard split, prefix_incremental_pairs finds EXACTLY the
    brute-force shard-touching near-dup pairs — unseen-token ranking,
    length filter, and verify can drop nothing and invent nothing."""
    docs = {i: t for i, t in enumerate(texts)}
    shard_ids = {i for i in docs if (mask >> (i % 14)) & 1}
    if not shard_ids or len(shard_ids) == len(docs):
        shard_ids = {min(docs)}
    rows = [(i, t) for i, t in docs.items()]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    store_docs = d.filter(~d.doc_id.isin(*shard_ids))
    shard_docs = d.filter(d.doc_id.isin(*shard_ids))
    store = tuple(dedup.build_prefix_store(store_docs))
    ver = dedup.prefix_incremental_pairs(spark, d, store, shard_docs)
    got = {(r.d1, r.d2, r.n_common) for r in
           ver.filter(ver.j >= dedup.JACCARD_THRESHOLD).collect()}
    ver.unpersist(False)
    assert got == _py_exact_pairs(docs, shard_ids)
