"""Profile registry queries: two ``query_run`` records per query.

    python tools/query_profile.py [--out FILE] [--stages] [--plans DIR]
                                  [query ...]

Runs each named query (every registered query, sorted, if none is named)
twice at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).  Run 1 is
the query's first invocation in this process, substrate builds included;
run 2 is the steady state, and ``min_of_2`` is what bench.py reports.
To tell a slowdown from host noise, run it twice in separate processes:
only a slowdown present in both is real.

--out FILE    write the JSON document (both runs' records per query,
              min-of-2 and totals) to FILE instead of stdout
--stages      print every run's stages: job, stage, seconds, tasks, name
--plans DIR   write DIR/<query>_initial.txt, the formatted plan before
              run 1 executes, and DIR/<query>_final.txt, the final
              adaptive plan after it
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from dataclasses import asdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_text(df) -> str:
    """``explain("formatted")`` text; a plan over 2400 lines keeps its
    first 2000 and last 400 lines and its full size."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    lines = plan.splitlines(keepends=True)
    if len(lines) <= 2400:
        return plan
    return "".join(lines[:2000]
                   + [f"\n... EXCERPT: {len(lines)} total lines "
                      f"({len(plan)} chars) — middle elided ...\n\n"]
                   + lines[-400:])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--out")
    ap.add_argument("--stages", action="store_true")
    ap.add_argument("--plans")
    args = ap.parse_args()

    from otel_arrow_collector_spark import query_run
    spark, registry, sf_dir = query_run.open_sweep("profile")
    names = args.queries or sorted(registry)

    def write_plan(name, kind, df):
        with open(os.path.join(args.plans, f"{name}_{kind}.txt"), "w") as f:
            f.write(plan_text(df))

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    runs: dict[str, list] = {}
    for name in names:
        fn, seen = registry[name], []

        def planned(df):
            seen.append(df)
            write_plan(name, "initial", df)
        first = query_run.run(spark, name, fn, sf_dir,
                              planned=planned if args.plans else None)
        if args.plans:
            write_plan(name, "final", seen[0])
        runs[name] = [first, query_run.run(spark, name, fn, sf_dir)]

    if args.stages:
        for name, rs in runs.items():
            print(f"\n== {name}  wall "
                  + " ".join(f"run{i}={r.wall_s:.3f}s"
                             for i, r in enumerate(rs, 1)))
            for i, r in enumerate(rs, 1):
                print(f"  -- run{i}: {r.jobs} jobs ({r.builder_jobs} while "
                      f"building), {r.stages} stages")
                for s in r.stage_table:
                    print(f"    job {s.job} stage {s.stage:4d} {s.sec:.3f}s "
                          f"tasks={s.tasks:3d}  {s.name[:90]}")
                print(f"    stage-sec sum: "
                      f"{sum(s.sec for s in r.stage_table):.3f}")

    best = {name: round(min(r.wall_s for r in rs), 3)
            for name, rs in runs.items()}
    doc = json.dumps({
        "sf_dir": sf_dir,
        "total_min_of_2": round(sum(best.values()), 3),
        "total_run1": round(sum(rs[0].wall_s for rs in runs.values()), 3),
        "total_run2": round(sum(rs[1].wall_s for rs in runs.values()), 3),
        "min_of_2": best,
        "runs": {name: [dict(asdict(r), wall_s=r.wall_s) for r in rs]
                 for name, rs in runs.items()},
    }, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(doc + "\n")
    else:
        print(doc)


if __name__ == "__main__":
    main()
