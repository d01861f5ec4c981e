"""Parity tests: every declared query hash-matches its DuckDB oracle at
sf0.001 (the driver's gate runs the same comparison at sf0.01; see
tools/check_parity.py for the full-scale run)."""

from __future__ import annotations

import pytest

from otel_arrow_collector_spark.operators import collect_registry
from otel_arrow_collector_spark.oracle import compare
from tests.conftest import SF_SMALL

QUERIES, ORACLES = collect_registry()

#: queries whose parity check measured >5 s (run with --runslow)
SLOW = frozenset((
    "curation_ingest_funnel",
    "dedup_band_sensitivity",
    "dedup_incremental_epoch2",
    "dedup_incremental_prefix",
    "dedup_semantic_keep",
    "dedup_simhash",
    "dedup_source_overlap",
    "dedup_substring",
    "embedding_drift",
    "graph_assortativity",
    "graph_clustering_coefficient",
    "graph_label_propagation",
    "graph_link_prediction",
    "graph_modularity",
    "heavy_hitter_events",
    "q113_autocorrelation",
))


@pytest.mark.parametrize("name", [
    pytest.param(n, marks=pytest.mark.slow) if n in SLOW else n
    for n in sorted(ORACLES)])
def test_query_matches_oracle(spark, duck, name):
    r = compare(QUERIES[name](spark, SF_SMALL), duck, ORACLES[name])
    assert r["cols_match"], f"{name} cols: {r['spark_cols']} vs {r['duck_cols']}"
    assert r["rowcount_match"], f"{name}: {r['spark_rows']} vs {r['duck_rows']}"
    assert r["values_match"], f"{name}: value multiset mismatch"


def test_every_query_has_entry_or_weak_flag():
    """Every queries() entry without an oracle must be a deliberate
    non-SQL-expressible op (the driver records a weaker rows-only check)."""
    weak = set(QUERIES) - set(ORACLES)
    allowed_weak_prefixes = ("stream_", "arrow_", "multimodal_")
    for name in weak:
        assert name.startswith(allowed_weak_prefixes), (
            f"{name} lacks an oracle but is not a declared non-SQL op")


def test_driver_contract():
    import __spark_entry__ as e
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 34
