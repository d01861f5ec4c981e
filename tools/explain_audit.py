"""Plan audit: print the physical-plan quality indicators of registered
queries — pushed filters, read schemas, join strategies, shuffle counts.

    python tools/explain_audit.py [sf_dir] [query ...]

With no sf_dir it reads the sf0.1 corpus; with no query names, every
registered query, sorted.
This is the reproducible form of README's "Design for 100 TB" audit.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit(spark, fn, sf_dir: str) -> dict:
    from otel_arrow_collector_spark import plan_tree
    p = plan_tree.read(fn(spark, sf_dir))
    scans = p.scans()
    return {
        "broadcast_joins": p.count("BroadcastHashJoin"),
        "sortmerge_joins": p.count("SortMergeJoin"),
        "shuffles": len(p.exchanges()),
        "top_k": bool(p.find("TakeOrderedAndProject")),
        "pushed_filters": [s.pushed_filters for s in scans
                           if s.pushed_filters],
        "read_schemas": [s.read_schema for s in scans],
    }


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) \
        else "/root/testdata/sf0.1"

    from otel_arrow_collector_spark.operators import collect_registry
    from otel_arrow_collector_spark.session import get_spark
    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = collect_registry()
    names = [a for a in args if not os.path.isdir(a)] or sorted(queries)

    for name in names:
        if name not in queries:
            print(f"== {name}: NOT REGISTERED")
            continue
        a = audit(spark, queries[name], sf_dir)
        print(f"== {name}")
        print(f"   joins: {a['broadcast_joins']} broadcast / "
              f"{a['sortmerge_joins']} sort-merge; "
              f"shuffles: {a['shuffles']}; "
              f"top-k op: {a['top_k']}")
        for p in a["pushed_filters"][:4]:
            print(f"   pushed: [{', '.join(p)}]")
        for r in a["read_schemas"][:4]:
            print(f"   reads:  {', '.join(c for c, _ in r)[:100]}")


if __name__ == "__main__":
    main()
