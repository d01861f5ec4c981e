"""Determinism sweep: every queries() entry must produce IDENTICAL
rows under different physical parallelism.

The oracle gate catches wrong answers; it cannot catch answers that are
only ACCIDENTALLY stable — a missing tie-break that happens to order the
same way in both engines on one machine (the q93 lesson: both engines
shared the ambiguity, so parity alone would have flaked later rather
than failed now).  This sweep forces different physical orders by
re-running each query under several ``spark.sql.shuffle.partitions``
settings (runtime-settable) and comparing the FULL row lists — values
and order both, which is the registry's contract: every queries() entry
ends in an explicit ORDER BY / deterministic top-k, so an order flip is
itself a determinism defect.

    python tools/determinism_check.py [sf_dir] [query ...]

Exit non-zero listing every query whose output changed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PARTITION_SETTINGS = ("32", "7", "3")


def _rows(df):
    return [tuple(r) for r in df.collect()]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from otel_arrow_collector_spark.operators import collect_registry
    from otel_arrow_collector_spark.operators.cache_registry import \
        clear_caches
    from otel_arrow_collector_spark.session import get_spark

    spark = get_spark("determinism")
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = collect_registry()
    names = sys.argv[2:] or sorted(queries)

    failures = []
    for name in names:
        base = None
        failed = False
        for parts in PARTITION_SETTINGS:
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            clear_caches()          # substrates and plans rebuild per setting
            try:
                got = _rows(queries[name](spark, sf_dir))
            except Exception as e:
                failures.append(f"{name}@parts={parts}: {e}")
                failed = True
                break
            if base is None:
                base = got
            elif got != base:
                n_diff = sum(1 for a, b in zip(base, got) if a != b)
                failures.append(
                    f"{name}: output differs at shuffle.partitions={parts} "
                    f"(rows {len(base)} vs {len(got)}, {n_diff} positions "
                    f"changed) — missing tie-break or partition-dependent "
                    f"expression")
                failed = True
                break
        print(f"  {'FAIL' if failed else 'ok':4s}  {name}")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    if failures:
        print(f"== {len(failures)} DETERMINISM FAILURES")
        for f in failures:
            print("  " + f)
        return 1
    print(f"== {len(names)} queries deterministic across "
          f"shuffle.partitions in {PARTITION_SETTINGS}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
