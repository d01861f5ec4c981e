"""Benchmark-local checks: seeded inputs, the tail-percentile rule and
the self-time arithmetic of the span recorder.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import random

import pytest

from perfbench import gen
from perfbench.stats import tail
from perfbench.trace import Span, Tracer, self_time_by_name, self_times


def _inputs(seed: int):
    rng = random.Random(seed)
    return (gen.pb_requests(rng, 3, 20), gen.arrow_fragments(rng, 3, 20),
            gen.splits(rng, list(range(50)), 4))


def test_same_seed_gives_byte_identical_inputs():
    assert _inputs(7) == _inputs(7)


def test_different_seed_gives_different_inputs():
    a, b = _inputs(7), _inputs(8)
    assert a[0][0][0] != b[0][0][0]          # pb bodies
    assert a[1][0][0] != b[1][0][0]          # arrow fragments
    assert a[2] != b[2]                      # micro-batch split


def test_splits_partition_every_row_once():
    parts = gen.splits(random.Random(1), list(range(10)), 3)
    assert sorted(x for p in parts for x in p) == list(range(10))
    assert [len(p) for p in parts] == [4, 4, 2]


@pytest.mark.parametrize("n, pct", [(100, 90.0), (1000, 99.0),
                                    (10010, 99.9), (24, 58.0), (20, 50.0)])
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    vals = [float(i) for i in range(n)]
    value, got_pct, got_n = tail(vals)
    assert (got_pct, got_n) == (pct, n)
    assert sum(v > value for v in vals) >= 10
    # one step higher on the ladder would leave fewer than ten beyond
    assert value == vals[-(n - int(-(-pct * n // 100))) - 1]


def test_tail_with_too_few_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_self_time_subtracts_union_of_children():
    spans = [Span(0, "p", 0.0, 10.0, None, "r", {}),
             Span(1, "c", 1.0, 3.0, 0, "r", {}),
             Span(2, "c", 2.0, 5.0, 0, "r", {}),      # overlaps span 1
             Span(3, "c", 8.0, 12.0, 0, "r", {}),     # clipped at 10
             Span(4, "g", 1.5, 2.5, 1, "r", {})]      # grandchild
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 2)
    assert st[1] == pytest.approx(2 - 1)
    assert st[4] == pytest.approx(1)
    by = self_time_by_name(spans)
    assert by == pytest.approx({"p": 4, "c": 1 + 3 + 4, "g": 1})


def test_self_times_of_a_sequential_tree_add_up_to_its_wall_time():
    spans = [Span(0, "pass", 0.0, 9.0, None, "r", {}),
             Span(1, "build", 1.0, 6.0, 0, "r", {}),
             Span(2, "build", 2.0, 4.0, 1, "r", {}),  # nested build
             Span(3, "run", 6.0, 8.0, 0, "r", {})]
    assert sum(self_times(spans).values()) == pytest.approx(9.0)
    # the naive sum counts the nested build twice
    assert sum(s.end - s.start for s in spans if s.name == "build") == 7.0
    assert self_time_by_name(spans)["build"] == pytest.approx(5.0)


def test_tracer_nests_and_restores_patched_attributes():
    class Mod:
        @staticmethod
        def work(x):
            return x + 1

    tr = Tracer("t")
    orig = Mod.work

    def traced(x):
        with tr.span("work"):
            return orig(x)
    tr.patch(Mod, "work", traced)
    with tr.span("outer"):
        assert Mod.work(1) == 2
    tr.restore()
    assert Mod.work is orig
    inner, outer = tr.spans
    assert (inner.name, outer.name) == ("work", "outer")
    assert inner.parent == outer.sid and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_schedule_puts_the_fixed_mix_before_the_ladder():
    from perfbench import ingest
    sched = ingest._schedule(2.0, True)
    counts = [sum(1 for _, ph in sched if ph == i)
              for i in range(len(ingest.LADDER) + 1)]
    assert counts == [int(2.0 * ingest.MIX_RATE)] + [
        int(r * ingest.RUNG_S) for r in ingest.LADDER]
    assert [off for off, _ in sched] == sorted(off for off, _ in sched)
    assert ingest._schedule(0.5, False) == [(k / ingest.MIX_RATE, 0)
                                            for k in range(10)]


def test_rung_is_not_sustained_when_its_backlog_grows():
    from perfbench.ingest import _rung_ok

    def rung(acks_ms, late_ms=1.0):
        return [{"due": i * 0.01, "ack": a / 1e3, "late": late_ms / 1e3,
                 "ok": True} for i, a in enumerate(acks_ms)]
    assert _rung_ok(rung([45.0] * 12))
    # every ack under the tail limit, but the last third waits longer
    assert not _rung_ok(rung([40.0, 45.0, 50.0, 100.0, 150.0, 200.0]))
    assert not _rung_ok(rung([45.0] * 12, late_ms=200.0))
    assert not _rung_ok(rung([45.0] * 11 + [300.0]))
