"""Property pins for the round-12 additions beyond the DuckDB oracle
gate: structural invariants the oracle's value-hash can't state
directly (coverage bounds, exact systematic sample size, BMP padding
shear, ACF bounds, HHI bounds, novelty monotonicity)."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_SMALL


def _rows(df):
    return [r.asDict() for r in df.collect()]


# ---------------------------------------------------------------------------
# q112_interval_coverage
# ---------------------------------------------------------------------------

def test_interval_coverage_bounds(spark):
    from otel_arrow_collector_spark.operators.relational import QUERIES
    out = _rows(QUERIES["q112_interval_coverage"](spark, SF_SMALL))
    assert out
    for r in out:
        # merged coverage can never exceed the raw sum of lease widths,
        # and a single un-merged event contributes exactly 60s
        assert 0 < r["covered_us"] <= 60_000_000 * r["n_events"]
        assert 1 <= r["n_islands"] <= r["n_events"]
        assert r["n_users"] <= r["n_islands"]
        assert 0 < r["coverage_permille"] <= 1000


def test_interval_coverage_merges_overlaps(spark):
    """Three overlapping leases + one disjoint must merge to 2 islands
    with the exact union width (hand-checkable micro-case)."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    pdf = pd.DataFrame({
        "k": ["a"] * 4,
        "s": [0, 30_000_000, 50_000_000, 300_000_000],
        "eid": [1, 2, 3, 4]})
    df = spark.createDataFrame(pdf).withColumn(
        "t", F.col("s") + 60_000_000)
    w = Window.partitionBy("k").orderBy("s", "eid")
    prev_end = F.max("t").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    marked = df.select(
        "k", "s", "t", "eid",
        F.when(prev_end.isNull() | (F.col("s") > prev_end), 1)
        .otherwise(0).alias("new_isl"))
    numbered = marked.select(
        "k", "s", "t",
        F.sum("new_isl").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).alias("isl"))
    islands = (numbered.groupBy("k", "isl")
               .agg(F.min("s").alias("st"), F.max("t").alias("en")))
    got = {(r["isl"], r["en"] - r["st"]) for r in islands.collect()}
    # [0, 110s) merged from the first three, [300s, 360s) alone
    assert got == {(1, 110_000_000), (2, 60_000_000)}


# ---------------------------------------------------------------------------
# q113_autocorrelation
# ---------------------------------------------------------------------------

def test_autocorrelation_bounds(spark):
    from otel_arrow_collector_spark.operators.relational import QUERIES
    out = _rows(QUERIES["q113_autocorrelation"](spark, SF_SMALL))
    assert [r["lag"] for r in out] == [1, 2, 3, 4, 5, 6, 7]
    for r in out:
        assert r["sign_r"] in (-1, 0, 1)
        # Cauchy-Schwarz: r^2 <= 1 (ppm scale, floor-div so strict <=)
        if r["r2_ppm"] is not None:
            assert 0 <= r["r2_ppm"] <= 1_000_000
        assert r["n_pairs"] > 0


# ---------------------------------------------------------------------------
# q114_herfindahl
# ---------------------------------------------------------------------------

def test_herfindahl_bounds(spark):
    from otel_arrow_collector_spark.operators.relational import QUERIES
    out = _rows(QUERIES["q114_herfindahl"](spark, SF_SMALL))
    assert out
    for r in out:
        # floor-rounded shares: HHI in (0, 10000]; a monopoly nation
        # would print exactly 10000, perfect fragmentation ~ 1e8/n/1e4
        assert 0 < r["hhi_bp"] <= 10_000
        # lower bound: sum of squares minimized at equal shares
        assert r["hhi_bp"] >= 10_000 // r["n_suppliers"] - 1


# ---------------------------------------------------------------------------
# sample_systematic
# ---------------------------------------------------------------------------

def test_systematic_exact_size(spark):
    from otel_arrow_collector_spark.operators.sampling import (
        SYSTEMATIC_K, QUERIES)
    from otel_arrow_collector_spark.sources.tables import load_table
    out = _rows(QUERIES["sample_systematic"](spark, SF_SMALL))
    per = {}
    for r in out:
        per[r["source"]] = per.get(r["source"], 0) + 1
        assert r["rk"] % SYSTEMATIC_K == 1
    n_src = {r["source"]: r["n"] for r in
             load_table(spark, SF_SMALL, "documents")
             .groupBy("source").count()
             .withColumnRenamed("count", "n").collect()}
    # systematic guarantee: EXACTLY ceil(n/k) rows per stratum
    for src, n in n_src.items():
        assert per.get(src, 0) == -(-n // SYSTEMATIC_K)


def test_systematic_rerun_stable(spark):
    from otel_arrow_collector_spark.operators.sampling import QUERIES
    a = {(r["source"], r["doc_id"])
         for r in QUERIES["sample_systematic"](spark, SF_SMALL).collect()}
    b = {(r["source"], r["doc_id"])
         for r in QUERIES["sample_systematic"](spark, SF_SMALL).collect()}
    assert a == b


# ---------------------------------------------------------------------------
# text_ngram_novelty
# ---------------------------------------------------------------------------

def test_ngram_novelty_bounds(spark):
    from otel_arrow_collector_spark.operators.text import QUERIES
    out = _rows(QUERIES["text_ngram_novelty"](spark, SF_SMALL))
    assert out
    for r in out:
        assert 0 <= r["n_novel"] <= r["n_test"]
        assert 0 <= r["novel_ppm"] <= 1_000_000


# ---------------------------------------------------------------------------
# text_vocab_overlap
# ---------------------------------------------------------------------------

def test_vocab_overlap_symmetric_bounds(spark):
    from otel_arrow_collector_spark.operators.text import QUERIES
    out = _rows(QUERIES["text_vocab_overlap"](spark, SF_SMALL))
    assert out
    for r in out:
        assert r["src_a"] < r["src_b"]
        assert r["n_inter"] <= min(r["n_a"], r["n_b"])
        assert 0 <= r["jaccard_permille"] <= 1000


# ---------------------------------------------------------------------------
# multimodal BMP padding
# ---------------------------------------------------------------------------

def test_bmp_roundtrip_padded_geometry():
    """15x17 rows carry 3 pad bytes each; the raster must come back
    byte-identical (the oracle pins sums, this pins every byte)."""
    from otel_arrow_collector_spark.operators.multimodal import (
        _bmp_raster, encode_bmp)
    rng = np.random.default_rng(7)
    raw = rng.integers(0, 256, size=15 * 17 * 3, dtype=np.uint8)
    bmp = encode_bmp(raw.tobytes(), 15, 17)
    # encoded row stride is 45 + 3 pad = 48 bytes
    assert len(bmp) == 54 + 48 * 17
    w, h, px = _bmp_raster(bmp)
    assert (w, h) == (15, 17)
    assert (px.reshape(-1) == raw).all()


def test_bmp_query_lossless_column(spark):
    from otel_arrow_collector_spark.operators.multimodal import QUERIES
    out = _rows(QUERIES["multimodal_bmp_roundtrip"](spark, SF_SMALL))
    assert out and all(r["lossless"] == 1 for r in out)


# ---------------------------------------------------------------------------
# curation_diversity_sample
# ---------------------------------------------------------------------------

@pytest.mark.slow
def test_diversity_sample_per_cell_budget(spark):
    from otel_arrow_collector_spark.operators.similarity import (
        DIVERSITY_M, QUERIES)
    out = _rows(QUERIES["curation_diversity_sample"](spark, SF_SMALL))
    per: dict = {}
    for r in out:
        per.setdefault(r["cid"], []).append(r)
    for cid, rows in per.items():
        assert len(rows) <= DIVERSITY_M
        assert [x["rk"] for x in
                sorted(rows, key=lambda x: x["rk"])] == \
            list(range(1, len(rows) + 1))
        # within a cell, rank order == descending cosine order
        cs = [x["cos"] for x in sorted(rows, key=lambda x: x["rk"])]
        assert cs == sorted(cs, reverse=True)


# ---------------------------------------------------------------------------
# dedup_band_sensitivity
# ---------------------------------------------------------------------------

def test_band_sensitivity_scurve_monotone(spark):
    """LSH theory: fewer rows per band => more candidates and >= recall
    (r=1 candidates strictly superset coarser geometries)."""
    from otel_arrow_collector_spark.operators.dedup import QUERIES
    out = sorted(_rows(QUERIES["dedup_band_sensitivity"](spark,
                                                         SF_SMALL)),
                 key=lambda r: r["rows_per_band"])
    assert [r["rows_per_band"] for r in out] == [1, 2, 4]
    cands = [r["n_candidates"] for r in out]
    caught = [r["n_caught"] for r in out]
    assert cands[0] >= cands[1] >= cands[2]
    assert caught[0] >= caught[1] >= caught[2]
    for r in out:
        assert r["n_caught"] <= r["n_true_total"]
        assert r["n_caught"] <= r["n_candidates"]
    # r=1 collides on any shared hash: it must catch EVERY true dup
    # (truth was verified from its own candidate set)
    assert caught[0] == out[0]["n_true_total"]


# ---------------------------------------------------------------------------
# q115_winsorize
# ---------------------------------------------------------------------------

def test_winsorize_invariants(spark):
    from otel_arrow_collector_spark.operators.relational import QUERIES
    out = _rows(QUERIES["q115_winsorize"](spark, SF_SMALL))
    assert out
    for r in out:
        assert r["p05_cents"] <= r["p95_cents"]
        # clipping both tails pulls the mean toward the middle band
        assert r["p05_cents"] <= r["wins_mean_cents"] <= r["p95_cents"]
        # each tail clips < 5% of rows (rank-exclusive strict compare)
        assert r["n_clipped_low"] <= r["n"] * 5 // 100
        assert r["n_clipped_high"] <= r["n"] * 5 // 100


# ---------------------------------------------------------------------------
# q116_zorder_pruning
# ---------------------------------------------------------------------------

def test_zorder_prunes_at_least_as_well_as_xrange(spark):
    """The layout hierarchy the study exists to demonstrate: hash
    prunes nothing, x-range prunes on one dimension, z-order prunes on
    both — and every layout scans the rows its stats cannot exclude."""
    from otel_arrow_collector_spark.operators.relational import QUERIES
    out = {r["layout"]: r for r in
           _rows(QUERIES["q116_zorder_pruning"](spark, SF_SMALL))}
    assert set(out) == {"hash", "xrange", "zorder"}
    assert out["hash"]["n_pruned"] == 0
    assert out["zorder"]["n_pruned"] >= out["xrange"]["n_pruned"] > 0
    assert out["zorder"]["rows_scanned"] <= out["xrange"]["rows_scanned"]
    for r in out.values():
        assert 0 <= r["n_pruned"] <= r["n_buckets"]


def test_morton_interleave_micro():
    """The 32-term arithmetic interleave == the bit-twiddled Morton
    code on a sample grid."""
    def arith(x, y):
        return sum((((x >> i) & 1) << (2 * i))
                   + (((y >> i) & 1) << (2 * i + 1)) for i in range(16))
    # independent reference: textbook part1by1 spreading
    def spread(v):
        v &= 0xFFFF
        v = (v | (v << 8)) & 0x00FF00FF
        v = (v | (v << 4)) & 0x0F0F0F0F
        v = (v | (v << 2)) & 0x33333333
        v = (v | (v << 1)) & 0x55555555
        return v
    for x in (0, 1, 5, 255, 65535, 12345):
        for y in (0, 1, 7, 1024, 65535):
            assert arith(x, y) == spread(x) | (spread(y) << 1)


# ---------------------------------------------------------------------------
# q117_fuzzy_name_match
# ---------------------------------------------------------------------------

def test_fuzzy_match_within_blocks_and_bounds(spark):
    from otel_arrow_collector_spark.operators.relational import QUERIES
    out = _rows(QUERIES["q117_fuzzy_name_match"](spark, SF_SMALL))
    assert out
    for r in out:
        assert 1 <= r["dist"] <= 3
        assert r["k1"] < r["k2"]
        assert r["n1"] != r["n2"]  # dist > 0 excludes exact twins
