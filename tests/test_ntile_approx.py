"""ntile_approx — the flag-selected 100x-scale path for the two global
tiering queries (q49 deciles, q77 RFM quartiles).

Exact NTILE needs a total order => a single-partition Window sort; the
approx path cuts on approx_percentile boundaries (one 1-row broadcast
aggregate + a scan-side aggregate() over the bounds) — fully parallel.
These tests pin (a) plan shape: NO Window operator anywhere in the
gated plans, and (b) equivalence: per-tile counts match the exact form
within boundary tolerance on distinct-valued data.
"""

import pytest

from otel_arrow_collector_spark import plan_tree
from otel_arrow_collector_spark.operators import relational as R
from otel_arrow_collector_spark.plans.featuregate import global_registry

SF001 = "/root/testdata/sf0.01"


@pytest.fixture
def approx_gate():
    R._ntile_approx_enabled()          # ensure registered
    reg = global_registry()
    reg.set(R.NTILE_APPROX_GATE, True)
    try:
        yield reg
    finally:
        reg.set(R.NTILE_APPROX_GATE, False)


def test_ntile_approx_unit_counts_and_order(spark):
    vals = [(i, float((i * 37) % 1000) + i / 1000.0) for i in range(1000)]
    df = spark.createDataFrame(vals, "id long, v double")
    out = R.ntile_approx(df, "v", 10, out="tile").collect()
    by_tile = {}
    for r in out:
        by_tile.setdefault(r.tile, []).append(r.v)
    assert sorted(by_tile) == list(range(1, 11))
    for t, vs in by_tile.items():
        assert abs(len(vs) - 100) <= 2, (t, len(vs))
    # tiles are order-respecting: tile k's max <= tile k+1's min
    for t in range(1, 10):
        assert max(by_tile[t]) <= min(by_tile[t + 1])
    # descending direction flips the order
    out_d = R.ntile_approx(df, "v", 4, ascending=False, out="tile").collect()
    by_tile_d = {}
    for r in out_d:
        by_tile_d.setdefault(r.tile, []).append(r.v)
    for t in range(1, 4):
        assert min(by_tile_d[t]) >= max(by_tile_d[t + 1])


def test_q49_approx_plan_has_no_window(spark, approx_gate):
    plan = plan_tree.read(R.QUERIES["q49_ntile_deciles"](spark, SF001))
    assert not plan.find("Window", "WindowGroupLimit")
    assert plan.find("BroadcastNestedLoopJoin", "BroadcastExchange")


def test_q77_approx_plan_has_no_window(spark, approx_gate):
    plan = plan_tree.read(R.QUERIES["q77_rfm_segments"](spark, SF001))
    assert not plan.find("Window", "WindowGroupLimit")


def test_q49_exact_plan_keeps_window_by_default(spark):
    plan = plan_tree.read(R.QUERIES["q49_ntile_deciles"](spark, SF001))
    assert plan.windows()              # the oracle-exact default path


def test_q49_approx_matches_exact_within_boundary_tolerance(
        spark, approx_gate):
    approx = {r.decile: r.n_users
              for r in R.QUERIES["q49_ntile_deciles"](spark, SF001)
              .collect()}
    approx_gate.set(R.NTILE_APPROX_GATE, False)
    exact = {r.decile: r.n_users
             for r in R.QUERIES["q49_ntile_deciles"](spark, SF001)
             .collect()}
    assert sorted(exact) == sorted(approx) == list(range(1, 11))
    assert sum(exact.values()) == sum(approx.values())
    for d in exact:
        assert abs(exact[d] - approx[d]) <= 2, (d, exact[d], approx[d])
