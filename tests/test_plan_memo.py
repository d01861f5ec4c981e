"""Plan-object memoization (operators.__init__._plan_memoized).

The registry returned by ``collect_registry`` memoizes each query's
ANALYZED PLAN — a lazy logical plan — per (query, application, sf_dir),
so a repeated invocation skips the py4j plan-construction round-trips
(measured r15: 27.5 s of the 271-query sf0.1 sweep was Python-side plan
RE-construction).  This is plan caching, never result caching:

- every call returns a fresh ``select("*")`` wrapper, never the
  memoized DataFrame object itself — re-collecting the SAME object
  would let Spark reuse its shuffle files (skipped stages), which would
  silently cache computation across invocations (measured: 12-stage
  query re-ran with 1 stage).  The stage-count pin below is the
  anti-regression proof that every invocation re-executes fully.
- builders that run Spark jobs / driver-side model fits at construction
  time (``PLAN_MEMO_EXCLUDED``) are never memoized, because their
  DataFrame can embed data-derived values.  The zero-jobs pin is the
  completeness proof for that list.
"""

from __future__ import annotations

import pytest

from otel_arrow_collector_spark import query_run
from otel_arrow_collector_spark.operators import (PLAN_MEMO_EXCLUDED,
                                                  cache_registry,
                                                  clear_plan_memo,
                                                  collect_registry)
from tests.conftest import SF_SMALL


def _plans() -> int:
    """Live plan entries in the cache registry."""
    return sum(k[0] == cache_registry._PLAN for k in cache_registry._ENTRIES)


def test_pure_builders_reuse_the_memoized_plan(spark):
    queries, _ = collect_registry()
    clear_plan_memo()
    df1 = queries["q01_scan_project"](spark, SF_SMALL)
    assert _plans() == 1
    df2 = queries["q01_scan_project"](spark, SF_SMALL)
    assert _plans() == 1                 # hit, not a second build
    assert df1 is not df2                # ...but never the same object
    # keyed by sf_dir
    queries["q01_scan_project"](spark, "/root/testdata/sf0.01")
    assert _plans() == 2


def test_excluded_builders_are_never_memoized(spark):
    queries, _ = collect_registry()
    clear_plan_memo()
    name = "graph_pagerank"     # driver-computed rank table at build
    assert name in PLAN_MEMO_EXCLUDED
    queries[name](spark, SF_SMALL)
    assert _plans() == 0


def test_every_invocation_reexecutes_all_stages(spark):
    """The anti-result-caching pin: two registry invocations of a
    multi-stage shuffle query run the SAME number of stages with tasks
    — no skipped-stage shuffle reuse between bench runs."""
    queries, _ = collect_registry()
    clear_plan_memo()
    name = "q13_star_join"
    queries[name](spark, SF_SMALL).collect()    # memo + shuffle files hot

    def run_stages():
        # each measured run is one query_run record: its jobs are read
        # through their own job group, after the listener bus drains,
        # with a bounded poll for status-store entries (see query_run)
        r = query_run.run(spark, name, queries[name], SF_SMALL)
        return r.stages, r.tasks

    s1, t1 = run_stages()
    s2, t2 = run_stages()
    assert s1 == s2 and t1 == t2 and s1 >= 2


def test_memoized_plan_still_recomputes_from_storage(spark):
    """collect() twice through the registry returns identical rows (the
    wrapper is a lazy plan, not a materialized result)."""
    queries, _ = collect_registry()
    df = queries["q05_groupby"](spark, SF_SMALL)
    r1 = df.collect()
    r2 = queries["q05_groupby"](spark, SF_SMALL).collect()
    assert r1 == r2 and len(r1) > 0


@pytest.mark.slow
def test_exclusion_list_is_complete_zero_jobs_at_construction(spark):
    """With all session memos hot, constructing any non-excluded query
    launches ZERO Spark jobs — the proof that nothing data-dependent is
    baked into a memoized plan object."""
    queries, _ = collect_registry()
    # an un-evictable registry for the duration of the sweep: an LRU
    # eviction between the two passes would rebuild a memo at
    # construction time and read as a false offender
    from otel_arrow_collector_spark.operators import cache_registry
    old_cap, cache_registry.MAX_ENTRIES = cache_registry.MAX_ENTRIES, 10_000
    try:
        # pass 1: build every session memo (and the plan memos)
        for name in sorted(queries):
            queries[name](spark, SF_SMALL)
    finally:
        cache_registry.MAX_ENTRIES = old_cap
    clear_plan_memo()                     # force re-construction below
    offenders = []
    for name in sorted(queries):
        if name in PLAN_MEMO_EXCLUDED:
            continue
        # each construction gets its OWN job group, so only jobs this
        # construction actually launched can flag it
        tag = f"zero-jobs-pin-{name}"
        with query_run.job_group(spark, tag):
            queries[name](spark, SF_SMALL)
        if query_run.read_group(spark, tag).jobs > 0:
            offenders.append(name)
    assert offenders == []
