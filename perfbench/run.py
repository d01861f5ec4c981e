"""Benchmark entry point.

    python3 perfbench/run.py --workload query-cold --seed 1 --seconds 5 \
        --trace 0

Run from the root of a source checkout.  Prints one report line per
metric (name, value, unit, sample count), then, as the last line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a
traced run with ``--trace 1``.  Workloads are listed in
``BENCHMARK.json``; ``perfbench/README.md`` describes them.  Each run
measures one pass after one warm-up pass, whatever ``--seconds`` says:
every pass is longer than the benchmark's ``run_seconds``, and a pass
count that followed host speed would mix first and later passes.
"""

from __future__ import annotations

import argparse
import faulthandler
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

WORKLOADS = ("query-cold", "otlp-ingest", "stream-twins")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    from perfbench.harness import (DATA_DIR, ROOT, Context, Result, emit)
    if not os.path.isfile(os.path.join(ROOT, "otel_arrow_collector_spark",
                                       "__init__.py")):
        print("perfbench: engine sources not found next to perfbench/",
              file=sys.stderr)
        return 2
    if not os.path.isdir(DATA_DIR):
        print(f"perfbench: input tables missing: {DATA_DIR}",
              file=sys.stderr)
        return 2

    from perfbench.stats import PeakRss, cpu_ticks
    # a hung run must still end well inside the 180 s a run may take
    faulthandler.dump_traceback_later(170, exit=True)
    ctx = Context(args.workload, args.seed, bool(args.trace))
    res = Result()
    steal0, total0 = cpu_ticks()
    try:
        with PeakRss(os.getpid()) as rss:
            if args.workload == "query-cold":
                from perfbench import queries
                queries.run(ctx, res)
            elif args.workload == "otlp-ingest":
                from perfbench import ingest
                ingest.run(ctx, res)
            else:
                from perfbench import streams
                streams.run(ctx, res)
    finally:
        ctx.stop_spark()
        ctx.cleanup()
    res.note("peak_rss_mb", rss.peak / 2**20, "MB",
             "driver + JVM + receivers")
    res.note("workers_peak_rss_mb", rss.workers_peak / 2**20, "MB",
             "Spark's Python workers")
    res.note("failed_frac", res.failed / max(1, res.attempted), "ratio",
             f"{res.failed} of {res.attempted}")
    steal1, total1 = cpu_ticks()
    res.note("host.steal_share", (steal1 - steal0) / max(1, total1 - total0),
             "ratio", "CPU time the hypervisor took, whole run")
    print(f"perfbench {args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace}")
    emit(res, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
