"""engine.rank_select_scale — the default-on exact-rank-selection plan
for sketch_quantile_sampled (r6 verdict's one perf-weak item).

Pins (the ntile_approx pattern):
- plan shape: the gated plan has NO single-partition exchange anywhere
  (the legacy global `Window.orderBy` plan does — asserted as the
  contrast), so no stage serializes the fact table at 100x;
- equivalence: gate on and gate off produce identical rows (the scale
  path is exact, which is why the DuckDB oracle stands unchanged).
"""

from __future__ import annotations

import pytest

from otel_arrow_collector_spark import plan_tree
from otel_arrow_collector_spark.operators import sketches as S
from otel_arrow_collector_spark.plans.featuregate import global_registry

SF_SMALL = "/root/testdata/sf0.001"
SF_GATE = "/root/testdata/sf0.01"


@pytest.fixture
def gate():
    S._rank_select_enabled()           # ensure registered (BETA: on)
    reg = global_registry()
    yield reg
    reg.set(S.RANK_SELECT_GATE, True)  # restore the default


def test_default_on_and_beta(gate):
    assert S._rank_select_enabled() is True


def _single_partition_sorts(plan: plan_tree.Node) -> int:
    """Count fact-serializing stages: a Sort (or Window) whose child is
    a single-partition exchange.  The tiny 1-row percentile_approx
    partial-merge exchanges (a final aggregate above the exchange) do
    NOT count — those move 32 sketch objects, not rows."""
    return sum(1 for n in plan.find("Sort", "Window")
               for c in n.children
               if c.is_shuffle and c.partitioning == "single")


def test_scale_plan_has_no_single_partition_sort(spark, gate):
    gate.set(S.RANK_SELECT_GATE, True)
    plan = plan_tree.read(
        S.QUERIES["sketch_quantile_sampled"](spark, SF_SMALL))
    assert _single_partition_sorts(plan) == 0
    # every window partitions by the bucket column — parallel
    windows = plan.windows()
    assert windows and all(w.keys[:1] == ("__bkt",) for w in windows)


def test_legacy_plan_is_single_partition(spark, gate):
    """The contrast pin: with the gate off, the definitional global
    window serializes the whole table through one partition — the plan
    the gate exists to avoid."""
    gate.set(S.RANK_SELECT_GATE, False)
    plan = plan_tree.read(
        S.QUERIES["sketch_quantile_sampled"](spark, SF_SMALL))
    assert _single_partition_sorts(plan) > 0


def test_gated_and_legacy_results_identical(spark, gate):
    gate.set(S.RANK_SELECT_GATE, True)
    on = S.QUERIES["sketch_quantile_sampled"](spark, SF_GATE).collect()
    gate.set(S.RANK_SELECT_GATE, False)
    off = S.QUERIES["sketch_quantile_sampled"](spark, SF_GATE).collect()
    assert [tuple(r) for r in on] == [tuple(r) for r in off]
    assert len(on) == 6


def test_rank_values_at_unit(spark, gate):
    """_rank_values_at returns exactly the rows at the requested global
    ranks, on adversarially tied data (all ties land in one bucket)."""
    rows = [(v, k, 0) for k, v in enumerate([5, 1, 3, 3, 3, 9, 7, 1])]
    df = spark.createDataFrame(
        rows, "v long, l_orderkey long, l_linenumber long")
    got = sorted(
        (r["__rk"], r["v"])
        for r in S._rank_values_at(df, [1, 4, 8], n_buckets=4).collect())
    # sorted order: 1,1,3,3,3,5,7,9 -> ranks 1,4,8 = values 1,3,9
    assert got == [(1, 1), (4, 3), (8, 9)]


@pytest.mark.slow
def test_rank_values_at_property(spark):
    """Property: for random multisets and random rank sets, the
    distributed selector returns exactly the sorted-order elements at
    those ranks (hypothesis-style sweep, deterministic seeds)."""
    import random
    for seed in (1, 7, 42):
        rng = random.Random(seed)
        n = rng.randint(5, 400)
        vals = [rng.randint(-50, 50) * 10 for _ in range(n)]
        rows = [(v, i, i % 3) for i, v in enumerate(vals)]
        df = spark.createDataFrame(
            rows, "v long, l_orderkey long, l_linenumber long")
        positions = sorted(rng.sample(range(1, n + 1),
                                      min(5, n)))
        got = {int(r["__rk"]): int(r["v"])
               for r in S._rank_values_at(df, positions,
                                          n_buckets=16).collect()}
        truth = sorted(rows, key=lambda t: (t[0], t[1], t[2]))
        assert got == {p: truth[p - 1][0] for p in positions}
