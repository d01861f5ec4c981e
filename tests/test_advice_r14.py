"""Regression pins for the round-13 ADVICE findings (fixed in round 14).

1. NULL-attribute metric series survive the histogram-merge joins —
   pinned in test_metric_semantics.py (sentinel-coalesced fingerprints).
2. NULL-text hardening is TWO-sided in the multimodal family: the Spark
   side (``_binary_docs`` coalesces text before encode; ``decode_features``
   guards a None payload) and the DuckDB oracles (``greatest(n, 1)`` in the
   audio modulo, ``md5(coalesce(text,''))``) must agree byte-for-byte on a
   corpus that actually CONTAINS NULL and empty texts — the stock testdata
   has none, so this builds an adversarial documents.parquet and runs the
   affected queries through the real parity harness.
3. connected_components frees each superseded localCheckpoint eagerly —
   storage-level audit below (one outstanding relation, not one per round).
4. incremental_pairs derives the bucket cap without re-scanning the raw
   band union per micro-batch — pinned below via the precomputed-counts
   equality and the per-side count-summation semantics.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from otel_arrow_collector_spark.oracle import compare, register_duckdb_views

from tests.conftest import SF_SMALL

# doc_ids chosen so the NULL/empty rows land in every doc_id % 3 class
# (the media synthesizer cycles BMP/WAV/PNG by doc_id % 3; audio is % 3 == 1).
_DOCS = [
    (0, "alpha beta gamma", "en", "web", 16),
    (1, None, "en", "web", 0),            # NULL text, audio class
    (2, "delta", "de", "web", 5),
    (3, "", "en", "web", 0),              # empty text, image class
    (4, None, "fr", "cc", 0),             # NULL text, audio class
    (5, "epsilon zeta", "en", "cc", 12),
    (6, None, "en", "cc", 0),             # NULL text, image class
    (7, "été café", "fr", "web", 8),  # multi-byte utf-8
    (8, "", "de", "web", 0),              # empty text, png class
    (9, "long tail " * 9, "en", "cc", 90),
]


@pytest.fixture(scope="module")
def null_doc_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("nulldocs")
    t = pa.table({
        "doc_id": pa.array([r[0] for r in _DOCS], pa.int64()),
        "text": pa.array([r[1] for r in _DOCS], pa.string()),
        "lang": pa.array([r[2] for r in _DOCS], pa.string()),
        "source": pa.array([r[3] for r in _DOCS], pa.string()),
        "n_chars": pa.array([r[4] for r in _DOCS], pa.int64()),
    })
    pq.write_table(t, os.path.join(str(d), "documents.parquet"))
    return str(d)


@pytest.mark.parametrize("qname", [
    "multimodal_binary_meta",
    "multimodal_decode_stub",
    "multimodal_audio_windows",
])
def test_multimodal_null_text_parity(spark, null_doc_dir, qname):
    """Spark query == DuckDB oracle on a corpus with NULL + empty texts."""
    from otel_arrow_collector_spark.operators import collect_registry
    qs, oracles = collect_registry()
    con = duckdb.connect()
    try:
        register_duckdb_views(con, null_doc_dir)
        r = compare(qs[qname](spark, null_doc_dir), con, oracles[qname])
    finally:
        con.close()
    assert r["cols_match"] and r["rowcount_match"], r
    assert r["values_match"] and r["dtype_match"], r
    assert r["spark_rows"] > 0          # NULL rows kept, not dropped


def test_decode_features_none_payload(spark):
    """decode_features must not crash on a NULL payload column value."""
    from otel_arrow_collector_spark.operators.multimodal import \
        decode_features
    df = spark.createDataFrame(
        [(1, None), (2, b"abc")], "doc_id: long, payload: binary")
    rows = {r.doc_id: r for r in decode_features(df).collect()}
    assert rows[1].n_bytes == 0 and rows[2].n_bytes == 3


@pytest.mark.slow
def test_cc_loop_frees_superseded_checkpoints(spark):
    """The distributed label-propagation loop must end with at most ONE
    outstanding materialized relation (the returned labels) — superseded
    rounds' localCheckpoint blocks are freed eagerly, not left for the
    ContextCleaner (a high-diameter graph runs many rounds)."""
    from otel_arrow_collector_spark.operators.dedup import \
        connected_components
    jsc = spark.sparkContext._jsc.sc()
    before = len(jsc.getRDDStorageInfo())
    n = 64                                      # chain: diameter 63
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "d1 long, d2 long")
    out = connected_components(edges, force_distributed=True)
    rows = out.collect()
    assert {r.cluster_id for r in rows} == {0} and len(rows) == n
    after = len(jsc.getRDDStorageInfo())
    assert after - before <= 1, (
        f"checkpoint leak: {after - before} persisted relations left "
        f"by the CC loop (expected <= 1: the returned labels)")


@pytest.mark.slow
def test_incremental_pairs_precomputed_store_counts(spark):
    """incremental_pairs accepts a per-store-version count relation in
    place of its own per-batch store scan — results must be identical
    (the ADVICE fix: no full cap aggregation over the raw store+shard
    union per micro-batch)."""
    from otel_arrow_collector_spark.operators import dedup

    d = dedup.load_table(spark, SF_SMALL, "documents")
    shard_pred = dedup.F.expr(dedup._SPARK_SHARD)
    store = dedup.build_signature_store(d.filter(~shard_pred)).persist()
    store.count()
    counts = dedup._band_counts(store).persist()
    counts.count()
    base = {(r.d1, r.d2, r.n_common) for r in dedup.incremental_pairs(
        spark, d, store, d.filter(shard_pred)).collect()}
    pre = {(r.d1, r.d2, r.n_common) for r in dedup.incremental_pairs(
        spark, d, store, d.filter(shard_pred),
        store_band_counts=counts).collect()}
    store.unpersist()
    counts.unpersist()
    assert base == pre and base


def test_band_cap_sums_per_side_counts(spark):
    """A band is oversized by its TOTAL (store + shard) count: per-side
    counts below the cap must still trip it when their sum exceeds
    LSH_BUCKET_CAP — the union semantics the split cap must preserve."""
    from otel_arrow_collector_spark.operators.dedup import (
        LSH_BUCKET_CAP, _band_counts, _oversized_list)
    n_store = LSH_BUCKET_CAP - 1
    store = spark.createDataFrame(
        [(i, "x") for i in range(n_store)] + [(10_000, "y")],
        "doc_id long, band string")
    shard = spark.createDataFrame(
        [(20_000, "x"), (20_001, "x"), (20_002, "y")],
        "doc_id long, band string")
    both = _oversized_list(
        _band_counts(store).unionByName(_band_counts(shard)))
    assert both == ["x"]                      # 255 + 2 > 256; y: 1 + 1
    assert _oversized_list(_band_counts(store)) == []
    assert _oversized_list(_band_counts(shard)) == []
