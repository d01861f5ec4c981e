"""Shard-axis stress for incremental corpus dedup — the production
scaling claim is "ingest cost scales with the SHARD, not the corpus",
so this harness scales ONLY the shard slice (doc_id % 10 = 7) while the
corpus stays fixed, the axis tools/stress.py's whole-table replication
cannot express.

Replication discipline (same philosophy as stress.py's key
re-spreading, applied to content): copy i of a shard doc gets
doc_id + i * (1 << 33) * 10 (a multiple of INCR_SHARD_MOD, so every
copy stays in the shard slice) and every WORD suffixed with the copy
tag, so copies share no shingles and cross-copy candidate pairs are
impossible — k-times the shard produces k-times the real work, never
k^2 output growth (the dedup_allpairs_prefix exclusion rationale,
inverted into a usable axis).

Usage: python tools/stress_incremental.py [--scales 1,2,4,8]
       [--sf-dir /root/testdata/sf0.1] [--runs 2]
Prints one JSON document; non-zero exit if alpha > --max-exponent.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stress import fit_exponent, run_query  # noqa: E402


def build_shard_scaled_dir(spark, src_dir: str, work_dir: str,
                           k: int, shard_expr: str | None = None,
                           tag: str = "shard") -> str:
    """Scale ONLY the ``shard_expr`` slice k-fold (corpus + any other
    slice stay fixed).  ``tag`` separates work dirs when two different
    slices are scaled (epoch-A vs epoch-B axes)."""
    from pyspark.sql import functions as F

    from otel_arrow_collector_spark.operators.dedup import (INCR_SHARD_MOD,
                                                            _SPARK_SHARD)
    shard_expr = shard_expr or _SPARK_SHARD
    out = os.path.join(work_dir, f"{tag}_x{k}")
    done = os.path.join(out, ".complete")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    base = spark.read.parquet(os.path.join(src_dir, "documents.parquet"))
    corpus = base.filter(~F.expr(shard_expr))
    shard = base.filter(F.expr(shard_expr))
    parts = [corpus, shard]
    for i in range(1, k):
        off = i * (1 << 33) * INCR_SHARD_MOD
        parts.append(shard
                     .withColumn("doc_id", F.col("doc_id") + F.lit(off))
                     .withColumn("text", F.expr(
                         f"array_join(transform(split(text, ' '), "
                         f"w -> concat(w, '_{i}')), ' ')")))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    u.write.mode("overwrite").parquet(os.path.join(out,
                                                   "documents.parquet"))
    open(done, "w").close()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,2,4,8")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--work-dir", default="/tmp/spark_graft_stress_incr")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--max-exponent", type=float, default=1.35)
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]

    from otel_arrow_collector_spark import query_run
    spark, queries, _ = query_run.open_sweep("stress-incremental",
                                             args.sf_dir)

    report, failures = {}, []
    # curation_ingest_funnel rides the same shard axis (r11 verdict ask
    # #5): the quality gate runs on the shard BEFORE dedup, so its cost
    # must also scale with the shard, not the corpus
    from otel_arrow_collector_spark.operators.dedup import _SPARK_SHARD_B
    # dedup_incremental_epoch2 scales the EPOCH-B slice (doc_id%10=3)
    # with corpus AND epoch-A fixed: its production claim is that the
    # second epoch's ingest cost tracks shard B, the store+deltaA side
    # being a fixed, already-materialized relation.
    axes = {"dedup_incremental": None, "dedup_incremental_delta": None,
            "curation_ingest_funnel": None,
            "dedup_incremental_epoch2": _SPARK_SHARD_B,
            # r14: the EXACT path's incremental form — same claim as
            # dedup_incremental (cost tracks the shard, corpus prefix
            # relation fixed), PPJoin bounds instead of LSH bands
            "dedup_incremental_prefix": None,
            # r15: incremental CC canonicalization — store built from
            # corpus-only edges (fixed), shard-touching edges merge via
            # the contracted-quotient relabel; copies share no shingles
            # (content re-spreading), so edges and delta scale with the
            # shard, never shard^2
            "dedup_cc_incremental": None}
    for name, axis_expr in axes.items():
        fn = queries[name]
        per_scale = {}
        base_shape = None
        for k in scales:
            d = build_shard_scaled_dir(spark, args.sf_dir,
                                       args.work_dir, k,
                                       shard_expr=axis_expr,
                                       tag="shard" if axis_expr is None
                                       else "shard_b")
            best = None
            for _ in range(args.runs):
                dt, internal, shape, n_rows = run_query(spark, name, fn, d)
                if best is None or dt < best[0]:
                    best = (dt, internal, shape, n_rows)
            dt, internal, shape, n_rows = best
            per_scale[k] = {"sec": round(dt, 3), "rows": n_rows}
            if k == scales[0]:
                base_shape = shape
            elif shape != base_shape:
                diff = (shape - base_shape) + (base_shape - shape)
                failures.append(f"{name}@x{k}: plan shape changed: "
                                f"{dict(diff)}")
        rep = [k for k in scales if k > 1] or scales
        alpha = fit_exponent(rep, [per_scale[k]["sec"] for k in rep])
        if alpha > args.max_exponent:
            failures.append(f"{name}: shard-axis exponent {alpha:.2f} > "
                            f"{args.max_exponent}")
        report[name] = {"scales": per_scale, "alpha": round(alpha, 3)}

    print(json.dumps({"sf_base": args.sf_dir, "axis": "shard-only",
                      "scales": scales, "queries": report,
                      "failures": failures}, indent=1))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
