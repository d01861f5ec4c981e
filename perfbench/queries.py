"""query-cold: a closed loop with one client running a fixed panel of
substrate-heavy declared queries per pass, each result checked.

Every pass starts by emptying ``cache_registry`` and the plan memo, so
it rebuilds the memoized substrates.  The first pass is the warm-up: it
is thrown away, and it checks each query's result against its DuckDB
oracle (``oracle.norm_rows``).  The one measured pass is compared with
that first result.
"""

from __future__ import annotations

import random
from time import perf_counter as now

from . import layers
from .harness import DATA_DIR, Context, Result, process_age_s
from .stats import event_log_totals, median, tail
from .trace import self_time_by_name

#: queries whose passes are mostly memoized-substrate builds when the
#: registry is empty
COLD_PANEL = ("dedup_minhash_lsh", "dedup_er_blocking", "ann_ivf_probe",
              "sketch_theta_jaccard")


def _install_cache_tracing(ctx: Context, counts: dict) -> None:
    """Spans around ``cached`` (lookup), its ``build`` callback (a miss),
    ``materialized`` and ``plan_checkpoint``; materialize jobs run in a
    job group of their own.  ``dedup`` and ``similarity`` bind these
    names at import time, so their module attributes are wrapped too."""
    from otel_arrow_collector_spark.operators import (cache_registry, dedup,
                                                      similarity)
    tr, sc = ctx.tracer, ctx.spark.sparkContext
    orig_cached = cache_registry.cached

    def cached(kind, spark, sf_dir, build, extra=()):
        built = []

        def traced_build():
            built.append(1)
            with tr.span("cache_registry.build", kind=kind):
                return build()
        with tr.span("cache_registry.cached", kind=kind):
            val = orig_cached(kind, spark, sf_dir, traced_build, extra)
        counts["builds" if built else "hits"] += 1
        return val

    def materializing(fn, name):
        def wrapper(df):
            prev = sc.getLocalProperty("spark.jobGroup.id") or ""
            sc.setJobGroup(prev + "|materialize", name)
            try:
                with tr.span(name):
                    return fn(df)
            finally:
                sc.setJobGroup(prev, "")
        return wrapper

    wrapped = {
        "cached": cached,
        "materialized": materializing(cache_registry.materialized,
                                      "cache_registry.materialized"),
        "plan_checkpoint": materializing(cache_registry.plan_checkpoint,
                                         "cache_registry.plan_checkpoint"),
    }
    for mod in (cache_registry, dedup, similarity):
        for attr, fn in wrapped.items():
            if hasattr(mod, attr):
                tr.patch(mod, attr, fn)


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def run(ctx: Context, res: Result) -> None:
    import duckdb

    from otel_arrow_collector_spark.operators import (cache_registry,
                                                      clear_plan_memo,
                                                      collect_registry)
    from otel_arrow_collector_spark.oracle import (norm_rows,
                                                   register_duckdb_views)

    spark = ctx.start_spark()
    registry, oracles = collect_registry()
    counts = {"builds": 0, "hits": 0}
    if ctx.traced:
        _install_cache_tracing(ctx, counts)
    rng = random.Random(ctx.seed)
    tr = ctx.tracer

    def execute(name: str, group: str):
        """One query: builder, (traced: forced physical plan), collect."""
        fn = registry[name]
        if tr is None:
            df = fn(spark, DATA_DIR)
            return df.columns, df.collect()
        ctx.set_group(group, name)
        with tr.span("query", query=name):
            with tr.span(layers.BUILDER):
                df = fn(spark, DATA_DIR)
            with tr.span(layers.PLAN):
                df._jdf.queryExecution().executedPlan()
            with tr.span(layers.RUN):
                rows = df.collect()
        return df.columns, rows

    def one_pass(tag: str):
        """Empty the registry and plan memo, then run the panel in seeded
        order; returns (wall s, {query: (latency s, columns, rows)})."""
        order = list(COLD_PANEL)
        rng.shuffle(order)
        got = {}
        t = now()
        cache_registry.clear_caches()
        clear_plan_memo()
        for name in order:
            a = now()
            cols, rows = execute(name, f"{tag}:{name}")
            got[name] = (now() - a, cols, rows)
        return now() - t, got

    # warm-up pass, thrown away, checked against the oracle
    _, got = one_pass("w")
    con = duckdb.connect()
    register_duckdb_views(con, DATA_DIR)
    first: dict[str, list] = {}
    for name, (_, cols, rows) in got.items():
        cur = con.execute(oracles[name])
        want_cols = [d[0] for d in cur.description]
        first[name] = norm_rows(cols, rows)
        res.attempted += 1
        if (first[name] != norm_rows(want_cols, cur.fetchall())
                or sorted(cols) != sorted(want_cols)):
            res.fail(f"{name}: result differs from its DuckDB oracle")
    con.close()
    setup_s = process_age_s()
    if tr is not None:
        tr.spans.clear()
        counts.update(builds=0, hits=0)

    # the one measured pass, checked against the warm-up
    pass_s, got = one_pass("m")
    cached_bytes = _cached_bytes(spark) if tr is not None else 0
    lat = [s for s, _, _ in got.values()]
    for name, (_, cols, rows) in got.items():
        res.attempted += 1
        if norm_rows(cols, rows) != first[name]:
            res.fail(f"{name}: measured pass differs from the warm-up")

    p50, (tl, pct, n) = median(lat), tail(lat)
    res.note("pass_s", pass_s, "s", "one measured pass")
    res.note("query_p50_s", p50, "s", f"n={n}")
    res.note("query_tail_s", tl, "s", f"p{pct:g}, n={n}")
    for name, (s, _, _) in sorted(got.items()):
        res.note(f"query_s.{name}", s, "s")
    res.finish(setup_s, p50 * 1e3, tl * 1e3, pass_s)
    if tr is not None:
        tr.restore()
        ctx.stop_spark()
        looked = counts["builds"] + counts["hits"]
        self_s = self_time_by_name(tr.spans)
        build_s = self_s.get("cache_registry.build", 0.0)
        mat = (self_s.get("cache_registry.materialized", 0.0)
               + self_s.get("cache_registry.plan_checkpoint", 0.0))
        mat_jobs = sum(v["jobs"] for g, v in
                       event_log_totals(ctx.event_dir).items()
                       if g.startswith("m:") and "|materialize" in g)
        layers.fill(ctx, res, pass_s, lambda g: g.startswith("m:"), {
            "cache_registry.builds": counts["builds"],
            "cache_registry.hits": counts["hits"],
            "cache_registry.hit_ratio": counts["hits"] / looked
            if looked else 0.0,
            "cache_registry.build_share": build_s / pass_s,
            "cache_registry.materialize_share": mat / pass_s,
            "cache_registry.materialize_jobs": mat_jobs,
            "cache_registry.cached_bytes": cached_bytes,
        })
        res.note("cache_registry.build_self_s", build_s, "s")
        res.note("cache_registry.materialize_s", mat, "s")
