"""stream-twins: Structured Streaming twins drained with ``availableNow``
and one file per trigger, over a seeded split of fact rows into
micro-batch files.

- ``hhi_stream``: per-row pandas state; must end equal to batch q114.
- ``hll_stream``: sketch twin; must end equal to ``hll_registers`` over
  the whole events table.
- ``ewma_stream``: declarative ``groupBy`` plus watermark (the control);
  must end equal to batch q101 on q101's days.

A pass drains all three twins from fresh checkpoints, with the session
as the engine configures it.  Micro-batch latency is each batch's
``triggerExecution`` from ``recentProgress``.
"""

from __future__ import annotations

import itertools
import os
import random
from time import perf_counter as now

from . import gen, layers
from .harness import DATA_DIR, Context, Result, process_age_s
from .stats import median, tail

#: micro-batch files per twin
FILES = 2
#: twins the warm-up drains: every twin keeps its state in the same
#: state store, and ``hhi`` is the slowest of them
WARMUP_TWINS = ("hhi",)
#: EWMA watermark: longer than the orders' whole date range, so shuffled
#: arrival is never late; a sentinel order in the last file, dated past
#: it, closes every day
EWMA_WATERMARK_DAYS = 3000


def _inputs(spark):
    """Fact rows per twin plus each twin's batch answer."""
    from pyspark.sql import functions as F

    from otel_arrow_collector_spark.operators import collect_registry
    from otel_arrow_collector_spark.operators.sketches import hll_registers
    from otel_arrow_collector_spark.sources.tables import load_table
    registry, _ = collect_registry()
    li = load_table(spark, DATA_DIR, "lineitem")
    su = load_table(spark, DATA_DIR, "supplier")
    hhi = [tuple(r) for r in
           li.join(F.broadcast(su), F.col("s_suppkey") == F.col("l_suppkey"))
           .select(F.col("s_nationkey").cast("long"),
                   F.col("l_suppkey").cast("long"),
                   F.round(F.col("l_extendedprice") * 100).cast("long"))
           .collect()]
    ev = load_table(spark, DATA_DIR, "events").select(
        F.col("user_id").cast("long").alias("user_id"))
    hll = [tuple(r) for r in ev.collect()]
    orders = load_table(spark, DATA_DIR, "orders")
    ewma = [tuple(r) for r in orders.select(
        F.col("o_orderpriority"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")),
        F.round(F.col("o_totalprice") * 100).cast("long")).collect()]
    want = {
        "hhi": {r.nation: (r.n_suppliers, r.total_cents, r.hhi_bp)
                for r in registry["q114_herfindahl"](spark, DATA_DIR)
                .collect()},
        "hll": {r.bucket: r.max_rho
                for r in hll_registers(ev, "user_id").collect()},
        "ewma": sorted(tuple(r) for r in
                       registry["q101_ewma_smoothing"](spark, DATA_DIR)
                       .collect()),
    }
    return {"hhi": hhi, "hll": hll, "ewma": ewma}, want


def _schemas():
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)
    return {
        "hhi": StructType([StructField("nation", LongType()),
                           StructField("suppkey", LongType()),
                           StructField("cents", LongType())]),
        "hll": StructType([StructField("user_id", LongType())]),
        "ewma": StructType([StructField("pr", StringType()),
                            StructField("day_us", LongType()),
                            StructField("cents", LongType())]),
    }


def _write_files(base: str, schemas, rows: dict, rng: random.Random,
                 files: int = FILES):
    """Seeded split of each twin's rows into ``files`` parquet files with
    increasing modification times (the file source's arrival order)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from otel_arrow_collector_spark.operators.relational import EWMA_W
    from otel_arrow_collector_spark.streaming.ewma import DAY_US
    dirs = {}
    for twin, schema in schemas.items():
        parts = gen.splits(rng, rows[twin], files)
        if twin == "ewma":
            # the watermark moves at the end of the sentinel's batch, and
            # the no-data batch after it closes every day
            last = max(r[1] for r in rows[twin])
            parts[-1] = parts[-1] + [(
                "1-URGENT", last + (EWMA_WATERMARK_DAYS + EWMA_W + 2) * DAY_US,
                0)]
        d = os.path.join(base, twin)
        os.makedirs(d)
        asch = to_arrow_schema(schema)
        for i, part in enumerate(parts):
            path = os.path.join(d, f"part-{i:03d}.parquet")
            cols = list(zip(*part))
            pq.write_table(pa.table([pa.array(c, type=f.type) for c, f in
                                     zip(cols, asch)], schema=asch), path)
            os.utime(path, (1_000_000 + i, 1_000_000 + i))
        dirs[twin] = d
    return dirs


def _twin(name: str, df):
    if name == "hhi":
        from otel_arrow_collector_spark.streaming.hhi import hhi_stream
        return hhi_stream(df), "update"
    if name == "hll":
        from otel_arrow_collector_spark.streaming.hll import hll_stream
        return hll_stream(df, "user_id"), "update"
    from otel_arrow_collector_spark.streaming.ewma import DAY_US, ewma_stream
    return ewma_stream(df, EWMA_WATERMARK_DAYS * DAY_US), "append"


def _final(name: str, rows):
    """A twin's final emission from everything its sink received."""
    if name == "hhi":      # totals only grow: the last emission is the max
        out: dict = {}
        for r in rows:
            cur = (r.n_suppliers, r.total_cents, r.hhi_bp)
            if r.nation not in out or cur[1] >= out[r.nation][1]:
                out[r.nation] = cur
        return out
    if name == "hll":
        regs: dict = {}
        for r in rows:
            regs[r.bucket] = max(regs.get(r.bucket, 0), r.max_rho)
        return regs
    import datetime
    lo, hi = datetime.date(1997, 1, 1), datetime.date(1998, 1, 1)
    return sorted((r.pr, r.day, r.revenue_cents, r.ewma_scaled)
                  for r in rows if lo <= r.day < hi)


def run(ctx: Context, res: Result) -> None:
    spark = ctx.start_spark()
    rng = random.Random(ctx.seed)
    schemas = _schemas()
    rows, want = _inputs(spark)
    dirs = _write_files(ctx.path("stream-in"), schemas, rows, rng)
    # the warm-up drains a smaller feed: every row in one file
    warm_dirs = _write_files(ctx.path("stream-warm"),
                             {t: schemas[t] for t in WARMUP_TWINS}, rows,
                             random.Random(ctx.seed), files=1)
    tr = ctx.tracer
    run_ids: set[str] = set()
    drains = itertools.count()

    def drain(name: str, measured: bool):
        """One twin from a fresh checkpoint; returns (final, progress)."""
        n = next(drains)
        table = f"perfbench_{name}_{n}"
        src = (spark.readStream.schema(schemas[name])
               .option("maxFilesPerTrigger", 1)
               .parquet(dirs[name] if measured else warm_dirs[name]))
        if tr is None:
            out, mode = _twin(name, src)
        else:
            with tr.span(layers.BUILDER, twin=name):
                out, mode = _twin(name, src)
        q = (out.writeStream.format("memory").queryName(table)
             .outputMode(mode)
             .option("checkpointLocation",
                     ctx.path("ckpt", f"{name}-{n}"))
             .trigger(availableNow=True).start())
        try:
            if not q.awaitTermination(120):
                raise TimeoutError(f"{name} stream did not drain in 120 s")
            progress = q.recentProgress
        finally:
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"{name} stream failed: {q.exception()}")
        if measured:
            run_ids.add(str(q.runId))
        final = _final(name, spark.table(table).collect())
        spark.sql(f"DROP VIEW IF EXISTS {table}")
        return final, progress

    def one_pass(measured: bool, twins=("hhi", "hll", "ewma")):
        got, progress = {}, {}
        t = now()
        for name in twins:
            got[name], progress[name] = drain(name, measured)
        return now() - t, got, progress

    # warm-up, thrown away: one twin over a one-file feed
    _, got, _ = one_pass(False, WARMUP_TWINS)
    for name in got:
        res.attempted += 1
        if got[name] != want[name]:
            res.fail(f"{name}: warm-up stream differs from its batch query")
    setup_s = process_age_s()
    if tr is not None:
        tr.spans.clear()

    # the one measured pass
    pass_s, got, progress = one_pass(True)
    per_twin: dict[str, list[float]] = {}
    st = {"add": 0.0, "plan": 0.0, "wal": 0.0, "commit": 0.0,
          "state_rows": 0, "state_bytes": 0, "rows": 0, "batches": 0}
    for name, prog in progress.items():
        res.attempted += len(prog)
        if got[name] != want[name]:
            res.fail(f"{name}: measured stream differs from its batch query")
        per_twin[name] = [float(p["durationMs"].get("triggerExecution", 0))
                          for p in prog]
        for p in prog:
            dur = p["durationMs"]
            st["add"] += dur.get("addBatch", 0) / 1e3
            st["plan"] += dur.get("queryPlanning", 0) / 1e3
            st["wal"] += dur.get("walCommit", 0) / 1e3
            st["rows"] += p.get("numInputRows", 0)
            st["batches"] += 1
            for op in p.get("stateOperators") or []:
                st["commit"] += op.get("commitTimeMs", 0) / 1e3
                st["state_rows"] = max(st["state_rows"],
                                       op.get("numRowsTotal", 0))
                st["state_bytes"] = max(st["state_bytes"],
                                        op.get("memoryUsedBytes", 0))

    batch_ms = [ms for vals in per_twin.values() for ms in vals]
    p50, (tl, pct, n) = median(batch_ms), tail(batch_ms)
    res.note("microbatch_p50_ms", p50, "ms", f"n={n}")
    res.note("microbatch_tail_ms", tl, "ms", f"p{pct:g}, n={n}")
    # the twins' batches differ in kind, so the pooled median jumps
    # between them with the batch counts, and the pooled tail is one
    # batch; the gated figures average each twin's own median and tail
    twin_p50, twin_tail = [], []
    for name, vals in per_twin.items():
        t_v, t_p, t_n = tail(vals)
        twin_p50.append(median(vals))
        twin_tail.append(t_v)
        res.note(f"microbatch_p50_ms.{name}", twin_p50[-1], "ms",
                 f"n={t_n}")
        res.note(f"microbatch_tail_ms.{name}", t_v, "ms",
                 f"p{t_p:g}, n={t_n}")
    res.finish(setup_s, sum(twin_p50) / len(twin_p50),
               sum(twin_tail) / len(twin_tail), pass_s)
    res.note("stream_drain_s", pass_s, "s", "three twins, one pass")
    if tr is not None:
        ctx.stop_spark()
        n_b = max(1, st["batches"])
        for key, span in (("plan", layers.PLAN), ("add", layers.RUN)):
            tr.add(span, 0.0, st[key])
        res.note("streaming.add_batch_ms", st["add"] / n_b * 1e3, "ms",
                 f"mean of {n_b} batches")
        res.note("streaming.planning_ms", st["plan"] / n_b * 1e3, "ms")
        res.note("streaming.wal_commit_ms", st["wal"] / n_b * 1e3, "ms")
        res.note("streaming.state_commit_ms", st["commit"] / n_b * 1e3, "ms")
        res.note("streaming.rows_per_s", st["rows"] / max(1e-9, st["add"]),
                 "rows/s", "input rows / addBatch time")
        layers.fill(ctx, res, pass_s, lambda g: g in run_ids, {
            "streaming.batches": st["batches"],
            "streaming.input_rows": st["rows"],
            "streaming.state_rows": st["state_rows"],
            "streaming.state_bytes": st["state_bytes"],
        })
