"""The per-layer record of a traced run.

Every workload prints the same keys, for its one measured pass.  A
layer a workload does not touch reads 0.  Busy time of a layer that
only some workloads touch is given as a share of the traced pass time
(unit ``ratio``); the layers every workload crosses (builder, Catalyst,
execution) are given in seconds.
"""

from __future__ import annotations

from .stats import event_log_totals, sum_totals
from .trace import count_by_name, self_time_by_name

#: name -> unit, in print order
LAYER_UNITS: dict[str, str] = {
    "trace.pass_s": "s",
    "builder.self_s": "s",
    "catalyst.plan_s": "s",
    "execution.run_s": "s",
    "execution.task_cpu_s": "s",
    "execution.task_run_s": "s",
    "execution.gc_share": "ratio",
    "execution.jobs": "count",
    "execution.stages": "count",
    "execution.tasks": "count",
    "execution.shuffle_read_bytes": "bytes",
    "execution.shuffle_write_bytes": "bytes",
    "execution.spill_bytes": "bytes",
    "cache_registry.builds": "count",
    "cache_registry.hits": "count",
    "cache_registry.hit_ratio": "ratio",
    "cache_registry.build_share": "ratio",
    "cache_registry.materialize_share": "ratio",
    "cache_registry.materialize_jobs": "count",
    "cache_registry.cached_bytes": "bytes",
    "sources.accepted": "count",
    "sources.refused": "count",
    "sources.spool_bytes": "bytes",
    "sources.pb_decode_share": "ratio",
    "sources.arrow_consume_share": "ratio",
    "exporters.requests": "count",
    "exporters.attempts": "count",
    "exporters.rows_sent": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "gen.late_share": "ratio",
}

#: span names every workload records around its calls into the engine
BUILDER, PLAN, RUN = "builder", "catalyst.plan", "execution.run"


def fill(ctx, res, pass_s: float, groups_measured, values: dict):
    """Fill ``res.layers`` for a traced run after the session stopped.

    ``groups_measured`` selects the event-log job groups of the measured
    pass.  ``values`` holds workload-specific entries of
    :data:`LAYER_UNITS`."""
    spans = ctx.tracer.spans
    self_s = self_time_by_name(spans)
    totals = sum_totals({g: v for g, v in
                         event_log_totals(ctx.event_dir).items()
                         if groups_measured(g)})
    out = {k: 0.0 for k in LAYER_UNITS}
    out.update({
        "trace.pass_s": pass_s,
        "builder.self_s": self_s.get(BUILDER, 0.0),
        "catalyst.plan_s": self_s.get(PLAN, 0.0),
        "execution.run_s": self_s.get(RUN, 0.0),
        "execution.gc_share": (totals["gc_s"] / totals["task_run_s"]
                               if totals["task_run_s"] else 0.0),
    })
    for k in ("task_cpu_s", "task_run_s", "jobs", "stages", "tasks",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out["execution." + k] = totals[k]
    out.update(values)
    res.layers = {k: (float(out[k]), u) for k, u in LAYER_UNITS.items()}
    for name, cnt in sorted(count_by_name(spans).items()):
        res.note(f"span {name}", self_s.get(name, 0.0), "s",
                 f"self time, {cnt} spans")
    res.note("trace.gc_s", totals["gc_s"], "s", "JVM GC")
