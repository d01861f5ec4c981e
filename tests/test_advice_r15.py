"""Round-15 ADVICE closures, each pinned by a test that FAILS on the
pre-fix code:

1. (high) FrozenPrefixStore.pairs_for must not double a re-delivered
   doc's rows in the verify relation (n_sh/n_common inflate, j corrupts
   up to 2x).
2. (high) FrozenPrefixStore.append must dedupe WITHIN the batch: two
   copies of a NEW id both survive the store anti-join and permanently
   double that doc in the store.
3. (medium) embedding_pca_covariance publishes cov_num AS decimal(38,0)
   — a long cast wraps/throws at the docstring's own claimed scale
   (n*s_ij ~ 4e27 at n=1e12).
4. (low) text_bpe_capacity's oracle interpolates BPE_MIN_FREQ /
   BPE_VOCAB_MAX instead of hardcoding literals.
5. (low) train_bpe's default min_freq is merge-preserving (=1): pair
   mass spread across many freq-1 words is real mass; the textbook
   guard is on the winning PAIR count, not the word counts.
"""

from __future__ import annotations

import inspect

import pytest
from pyspark.sql import functions as F

from otel_arrow_collector_spark.operators import dedup
from tests.conftest import SF_SMALL

DOCS = "doc_id long, text string"


def _pairs(store, batch):
    ver = store.pairs_for(batch)
    rows = {(r.d1, r.d2, r.n_common, round(r.j, 6)) for r in
            ver.filter(F.col("j") >= dedup.JACCARD_THRESHOLD).collect()}
    ver.unpersist(False)
    return rows


@pytest.mark.slow
def test_pairs_for_redelivered_doc_is_exact(spark):
    """A re-delivered doc_id in the batch must appear ONCE in the
    verify relation: pre-fix, store.docs ∪ batch held doc 2 twice, so
    its shingle rows doubled (n_sh 3→6, n_common 2→4) and the (1,2)
    pair re-emitted with j=0.8 instead of the true 0.5."""
    from otel_arrow_collector_spark.streaming.incr_prefix import \
        FrozenPrefixStore

    corpus = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x")], DOCS)
    store = FrozenPrefixStore(spark, corpus)
    batch = spark.createDataFrame(
        [(2, "a b c d x"), (3, "q r s t u")], DOCS)
    # doc1 {abc,bcd,cde} vs doc2 {abc,bcd,cdx}: inter 2, union 4, j 0.5
    assert _pairs(store, batch) == {(1, 2, 2, 0.5)}
    store.release()


@pytest.mark.slow
def test_pairs_for_intra_batch_duplicate_is_exact(spark):
    """Two copies of the SAME doc inside one batch must also verify
    exactly (dropDuplicates before the union and the candidate side)."""
    from otel_arrow_collector_spark.streaming.incr_prefix import \
        FrozenPrefixStore

    corpus = spark.createDataFrame([(1, "a b c d e")], DOCS)
    store = FrozenPrefixStore(spark, corpus)
    batch = spark.createDataFrame(
        [(2, "a b c d x"), (2, "a b c d x")], DOCS)
    assert _pairs(store, batch) == {(1, 2, 2, 0.5)}
    store.release()


@pytest.mark.slow
def test_append_dedupes_within_batch(spark):
    """Pre-fix, a NEW doc_id delivered twice in one micro-batch passed
    the store anti-join twice: store.shd permanently doubled its
    shingle rows and every LATER batch's verify against it corrupted."""
    from otel_arrow_collector_spark.streaming.incr_prefix import \
        FrozenPrefixStore

    corpus = spark.createDataFrame([(1, "a b c d e")], DOCS)
    store = FrozenPrefixStore(spark, corpus)
    dup_batch = spark.createDataFrame(
        [(3, "f g h i j"), (3, "f g h i j")], DOCS)
    store.append(dup_batch)
    assert store.docs.filter("doc_id = 3").count() == 1
    assert store.shd.filter("doc_id = 3").count() == 3   # 3 shingles, once
    assert store.sizes.filter("doc_id = 3").count() == 1
    # a later near-dup of doc 3 verifies with exact values
    later = spark.createDataFrame([(4, "f g h i x")], DOCS)
    assert _pairs(store, later) == {(3, 4, 2, 0.5)}
    store.release()


def test_cov_num_staged_decimal_published_bigint(spark):
    """r16 revert of the r15 decimal publish: the driver's value hash is
    type/representation-sensitive and failed on decimal(38,0) even with
    values equal (VERDICT r15 gate), so cov_num is STAGED through
    decimal (the arithmetic can never wrap) but PUBLISHED as BIGINT in
    both engines — the r14 hash-green form."""
    from otel_arrow_collector_spark.operators import similarity

    df = similarity.embedding_pca_covariance(spark, SF_SMALL)
    assert dict(df.dtypes)["cov_num"] == "bigint"
    ora = similarity.ORACLES["embedding_pca_covariance"]
    assert "BIGINT) AS cov_num" in ora
    # staging stays decimal so the subtraction cannot wrap pre-cast
    import re
    src = __import__("inspect").getsource(
        similarity.embedding_pca_covariance)
    assert re.search(r'cast\(dec\)', src)
    # the model step consumes Decimal cells without loss at test scale
    vals, comps = similarity.pca_components(spark, SF_SMALL, k=2)
    assert len(vals) == 2 and all(v >= 0 for v in vals)


def test_bpe_capacity_oracle_interpolates_constants():
    """A future BPE_MIN_FREQ / BPE_VOCAB_MAX bump must move the oracle
    with the Spark side instead of silently breaking parity: the SQL
    carries the imported constants, at every site they appear."""
    from otel_arrow_collector_spark.operators.bpe import (BPE_MIN_FREQ,
                                                          BPE_VOCAB_MAX)
    from otel_arrow_collector_spark.operators.text import ORACLES

    import re
    ora = ORACLES["text_bpe_capacity"]
    assert len(re.findall(rf">= {BPE_MIN_FREQ}\b", ora)) == 2
    assert ora.count(str(BPE_VOCAB_MAX)) == 2


def test_train_bpe_default_min_freq_is_merge_preserving():
    """freq-1 words carry real pair mass: three distinct freq-1 words
    sharing the (a, b) pair give it count 3 >= 2, so the textbook
    algorithm learns the merge — a min_freq=2 default would silently
    learn a different model on the same corpus."""
    from otel_arrow_collector_spark.operators.bpe import (
        train_bpe, train_bpe_reference)

    assert inspect.signature(train_bpe).parameters["min_freq"].default == 1
    assert (inspect.signature(train_bpe_reference)
            .parameters["min_freq"].default == 1)
    vocab = [("aba", 1), ("abb", 1), ("abc", 1)]
    assert train_bpe_reference(vocab, 1) == [("a", "b")]
    # the production floor remains available as an explicit opt-in
    assert train_bpe_reference(vocab, 1, min_freq=2) == []
