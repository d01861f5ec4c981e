"""Scale-up stress harness — measured evidence for the "survives 100x"
design claims (the scaling audit the round-7 verdict asked for).

Synthesizes 2x/4x/8x working sets from sf0.1 by unionAll replication
with KEY RE-SPREADING (each copy's join/group keys shifted into a
disjoint range, so joins stay linear — k copies produce k times the
rows, never k^2) and runs the most expensive queries at every scale,
recording:

(a) the wall-time scaling exponent alpha where t ~ scale^alpha
    (least-squares slope of log t vs log scale over the replicated
    scales; alpha <= ~1 + eps is "scales linearly or better"),
(b) the bounded-collect invariant: every INTERNAL ``DataFrame.collect``
    a query performs while building/running (rank-select bucket count
    tables, k-means centroids, PQ codebooks, probe cell lists) stays
    under a fixed row bound and does NOT grow with data scale,
(c) the plan shape: the multiset of physical operator node types is
    identical across scales (no strategy flip, no surprise exchange).

Usage:

    python tools/stress.py [--scales 1,2,4,8] [--queries a,b,...]
                           [--sf-dir /root/testdata/sf0.1]
                           [--work-dir /tmp/spark_graft_stress]

Prints one JSON document; non-zero exit if an invariant fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the round-7 bench tail: slowest queries at sf0.1, each a different
# scale-risk family (shingle explode, pure-map PQ, fact-fact join,
# Python WARC stage, distributed rank selection, wedge join), plus the
# round-8 heavyweights (fact-window SCD2 build, corpus MinHash overlap
# with exact self-join audit, capped-vocab pair mining).
#
# Deliberately EXCLUDED: the IVF-cell-local family (ann_knn_graph /
# ann_loo_accuracy).  Their per-cell self-join is quadratic in CELL
# size, and the deterministic test model pins N_CENTROIDS=8 for oracle
# parity — replicating the corpus under a fixed cell count measures the
# model's miscalibration, not the operator: at real scale the cell
# count grows with the corpus (cells ~ sqrt(N), the standard IVF
# sizing), keeping cell-local work linear.  The bound that IS the
# operator's contract — candidate pairs never exceed sum(cell^2),
# never all-pairs — is plan-pinned in tests/test_plan_quality.py.
DEFAULT_QUERIES = ["bloom_screen", "ann_pq_codes", "q83_intransit_peak",
                   "cc_pipeline_warc", "sketch_quantile_sampled",
                   "graph_triangle_count",
                   "q93_scd2_merge", "dedup_source_overlap",
                   "text_cooccur_lift",
                   # round-9 additions: per-doc tf-idf windows, per-cell
                   # IVF health pass, banded-Hamming near-dup join
                   "text_keywords", "ann_ivf_cell_quality",
                   "multimodal_phash_dedup",
                   # round-9 additions: iterative label joins, broadcast
                   # set-vs-corpus shingle probe, ADC table-lookup scan
                   "graph_label_propagation", "dedup_contamination",
                   "ann_pq_adc_topk",
                   # round-9 additions: blocked self-join verify (the
                   # quadratic-in-block bound is the contract under
                   # test), vocab-sized pair explode.  dedup_er_clusters/
                   # _canonical are EXCLUDED like the IVF-cell family:
                   # connected_components' driver fast path collects the
                   # edge list below CC_DRIVER_MAX_EDGES by design, so its
                   # internal collect legitimately grows with scale until
                   # the distributed pointer-jumping path takes over —
                   # the bounded-collect invariant would flag the adaptive
                   # cutover, not a defect
                   "dedup_er_blocking", "text_bpe_merge",
                   # round-10 additions (verdict ask #6): PQ recall's
                   # deliberate exact-scan audit, span-level explode ->
                   # hash join dedup, the bounded Arrow-batched EXIF
                   # slice; plus the new IVF-PQ composition (pruned-cell
                   # ADC), the theta AnotB array algebra on one
                   # sketch row per set, and the nation-window Gini.  graph_k_core is EXCLUDED for
                   # the same reason as dedup_er_clusters: its driver
                   # fast path collects the edge list below
                   # KCORE_DRIVER_EDGE_CAP by design, so the internal
                   # collect legitimately grows until the distributed
                   # node-state peel takes over.
                   "ann_pq_recall", "text_dedup_spans",
                   "multimodal_exif_audit", "ann_ivf_pq",
                   "sketch_theta_difference", "q99_revenue_gini",
                   # round-10 additions: the link-prediction wedge join
                   # (the new bench heavyweight) and the Heaps corpus
                   # explode + id-sort + first-seen agg
                   "graph_link_prediction", "text_heaps",
                   # bootstrap explode x16 (constant factor) and the
                   # cohort-windowed conversion-latency percentiles
                   "sample_bootstrap", "q102_time_to_convert",
                   # round-11 additions (r10 verdict ask #6): the theta
                   # union array algebra and the modularity evaluation
                   # of the memoized LPA labels; plus the new brand
                   # market-basket self-join (order-keyed, bounded
                   # baskets) and the containment verify over LSH
                   # candidates
                   "sketch_theta_union", "graph_modularity",
                   "q105_market_basket", "dedup_containment",
                   # round-12 additions (r11 verdict ask #5): the wedge
                   # join behind the clustering coefficient, the
                   # two-degree-join assortativity aggregate, and the
                   # theta-sketch Jaccard array algebra (every theta
                   # query: one |types|² cross join of the sketch rows)
                   "graph_clustering_coefficient", "graph_assortativity",
                   "sketch_theta_jaccard",
                   # round-12 new heavies: the two-hop wedge expansion,
                   # the corpus-shingle bloom probe (distinct collapses
                   # replicated text, so work is the linear explode),
                   # the (source, token) moment aggs, the bitmap bit_or
                   # rollup, and the (type, day) LEAD window
                   "graph_two_hop_reach", "sketch_bloom_fpr",
                   "text_simpson_diversity", "q108_bitmap_distinct",
                   "q111_time_weighted_avg",
                   # round-12 second wave: the (type, user)-keyed
                   # interval-union double window, the |days|-collapse
                   # ACF self-join, the two-level HHI agg, the
                   # per-stratum systematic rank window, and the two
                   # distinct-collapse text screens (replication copies
                   # text verbatim so the distinct relations are
                   # fixed points — the measured work is the linear
                   # explode feeding them, the sketch_bloom_fpr shape)
                   "q112_interval_coverage", "q113_autocorrelation",
                   "q114_herfindahl", "sample_systematic",
                   "text_ngram_novelty", "text_vocab_overlap",
                   # the per-cell cosine + top-M rank over the
                   # (distinct-vec_id-collapsed) assignment relation
                   "curation_diversity_sample",
                   # the 3-key window selection + broadcast-threshold
                   # clip agg (low-cardinality sort partitions: per-
                   # partition n log n, alpha ~ 1 by construction)
                   "q115_winsorize",
                   # the Morton-interleave map + two hash aggs (key
                   # re-spreading widens the min/max frame; the
                   # normalization adapts — pure linear map work)
                   "q116_zorder_pruning",
                   # round-13: the LSH bucket-health audit — two
                   # combinable hash aggs over the band relation; its
                   # RUNTIME is linear in bands regardless of how the
                   # bucket-size distribution shifts under replication
                   # (the distribution itself legitimately changes: the
                   # replicated identical texts collide)
                   "dedup_bucket_cap_audit",
                   # round-14: the BPE vocab capacity audit — one
                   # map-side-combinable word-count agg + a one-row
                   # report; replication grows token mass linearly while
                   # the distinct vocab stays flat (verbatim copies), so
                   # runtime must stay linear in the scan
                   "text_bpe_capacity",
                   # round-14: exact-integer PCA covariance — one scan
                   # into one combinable agg on a constant 136-key
                   # space; output is 136 rows at every scale
                   "embedding_pca_covariance",
                   # round-15: the SemDeDup cell-capacity audit — one
                   # combinable hash agg on cid + a one-row rollup,
                   # linear in the corpus.  dedup_semantic /
                   # dedup_semantic_keep themselves are EXCLUDED for
                   # the ann_knn_graph reason: their within-cell pair
                   # join is quadratic in CELL size and the test model
                   # pins N_CENTROIDS=8 for oracle parity, so corpus
                   # replication under a fixed cell count measures the
                   # model's miscalibration, not the operator; the
                   # contract bound (pairs <= sum(cell^2)/2, cells
                   # capped at SEM_CELL_CAP) is exactly what THIS audit
                   # publishes, and the cid-keyed join shape is
                   # plan-pinned in tests/test_plan_quality.py
                   "dedup_semantic_cell_audit"]
# dedup_prefix_cost_model is EXCLUDED for the dedup_allpairs_prefix
# reason: replication makes every cross-copy pair a real candidate, so
# its actual-candidate count (and join time) legitimately grows ~k^2;
# its adversarial-df behavior is covered by tools/stress_skew.py.
# q117_fuzzy_name_match is EXCLUDED: part replication deliberately
# keeps p_brand and p_name FIXED (the market-basket bounded-brand
# contract), so a k-times part table has k-times-larger brand blocks
# and the MATCHED PAIR OUTPUT legitimately grows ~k^2 — output-
# faithful growth the harness would misread as a defect.  The
# expensive side (the edit-distance DP) is collapsed to the distinct-
# name cross and pinned by plan test; dedup_er_blocking stays IN
# because its blocking key re-spreads (more blocks, same block size).
# dedup_band_sensitivity is EXCLUDED for the dedup_allpairs_prefix /
# dedup_minhash_estimate_error reason: whole-table replication copies
# document TEXT verbatim, so the r=1 (collide-on-any-hash) candidate
# relation legitimately grows ~k^2 with the replication factor — the
# harness would flag output-faithful growth, not a defect.  Its
# candidate-bounded verify stage is the shared verify_candidate_pairs
# join already pinned by the incremental-dedup stress record.
# dedup_minhash_estimate_error is EXCLUDED for the dedup_allpairs_prefix
# reason: whole-table replication copies document TEXT verbatim, so
# every cross-copy doc pair is a real near-duplicate and the candidate
# relation (hence the estimate join's output) legitimately grows ~k^2 —
# the harness would flag output-faithful growth, not a defect; its
# candidate-bounded shape is pinned by the LeftSemi plan test instead
# (curation_ingest_funnel scales on the shard axis in
# tools/stress_incremental.py, where content IS re-spread per copy).
# dedup_incremental / dedup_incremental_delta / dedup_incremental_prefix
# scale on the SHARD axis (corpus fixed) — tools/stress_incremental.py
# covers them; whole-table replication would scale the corpus side too
# and measure the store rebuild, not the ingest step.
# dedup_allpairs_prefix is EXCLUDED like the IVF-cell family:
# unionAll content replication makes every cross-copy document
# pair a REAL near-duplicate (identical text), so the exact
# all-pairs output -- and therefore wall time -- legitimately
# grows ~k^2 with replication; the harness would flag
# output-faithful growth, not an operator defect.  The actual
# scale bound (candidates = sum over prefix tokens of df^2,
# rarest-first ordering keeps df small) is pinned by the plan
# test + the brute-force-equality pytest instead.

#: tables the default queries read; only these are replicated
TABLES = ("documents", "embeddings", "lineitem", "orders", "events",
          "customer", "part", "supplier")

#: per-copy key offsets — disjoint ranges per replica so within-copy
#: joins line up and cross-copy joins are impossible.  events keeps its
#: timestamps (the calendar frame must stay fixed while volume grows —
#: the q92/q93 scale claim is precisely "windows key on user/hour, so
#: k x users at the same time-spread costs k x, not k^2")
KEY_OFFSETS = {
    "documents": {"doc_id": 1 << 33},
    "embeddings": {"vec_id": 1 << 33},
    "lineitem": {"l_orderkey": 1 << 33, "l_partkey": 1 << 30,
                 "l_suppkey": 1 << 30},
    "orders": {"o_orderkey": 1 << 33, "o_custkey": 1 << 30},
    "events": {"event_id": 1 << 33, "user_id": 1 << 30},
    # the BLOCKING key re-spreads too: a k-times customer base has
    # k-times the blocking cells (more nations), NOT k-times-larger
    # cells — block size is the ER contract's bounded quantity, so
    # replicating it unchanged would measure a modeling artifact
    # (k^2 pairs per block), not the operator
    "customer": {"c_custkey": 1 << 33, "c_nationkey": 1 << 8},
    # matches lineitem's l_partkey offset so within-copy part joins
    # line up; p_brand deliberately stays fixed — the market-basket
    # contract is a BOUNDED brand-pair space, so k x corpus must mean
    # k x work per pair, never more pairs
    "part": {"p_partkey": 1 << 30},
    # matches lineitem's l_suppkey offset so within-copy supplier joins
    # line up; s_nationkey deliberately stays fixed — q114's HHI
    # contract is a BOUNDED nation space, so k x suppliers means k x
    # linear work per nation, never more nations
    "supplier": {"s_suppkey": 1 << 30},
}

#: bound every internal driver materialization must respect (the
#: rank-select count table is <=1024 by construction; centroids,
#: codebooks and cell lists are far smaller)
INTERNAL_COLLECT_MAX_ROWS = 4096


def build_scaled_dir(spark, src_dir: str, work_dir: str, k: int) -> str:
    """Materialize the k-times working set under work_dir/x{k} (skipped
    if already present)."""
    from pyspark.sql import functions as F
    out = os.path.join(work_dir, f"x{k}")
    done = os.path.join(out, ".complete")
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        # per-TABLE idempotence (not one dir-level marker): adding a
        # table to TABLES must backfill it into working sets built by
        # an earlier round without rebuilding the rest
        if os.path.exists(os.path.join(out, f"{t}.parquet")):
            continue
        base = spark.read.parquet(os.path.join(src_dir, f"{t}.parquet"))
        parts = []
        for i in range(k):
            df = base
            for col, off in KEY_OFFSETS[t].items():
                df = df.withColumn(col, F.col(col) + F.lit(i * off))
            parts.append(df)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionAll(p)
        # one flat parquet dir per table, like the source layout
        u.write.mode("overwrite").parquet(os.path.join(out, f"{t}.parquet"))
    open(done, "w").close()
    return out


#: the node type AQE inserts/varies at RUNTIME as a function of data
#: volume (partition coalescing, local reads) — its count changing with
#: scale is adaptive execution working as designed, not a strategy flip
#: (query stages are transparent in the plan tree)
AQE_RUNTIME_NODES = {"AQEShuffleRead"}

#: the three size-gated EQUI-join strategies are one semantic plan: AQE
#: choosing sort-merge once a build side outgrows the broadcast
#: threshold is the design working (README: "broadcast at bench scale,
#: sort-merge with skew splitting at cluster scale — the same declared
#: plan serves both"), so they normalize to one label; their mechanical
#: companions (exchanges and Sort) are dropped with them.
#: What still MUST NOT change with scale: any CartesianProduct or
#: BroadcastNestedLoopJoin appearing, the number of joins, aggregates
#: flipping hash->sort, new Window/Generate/Expand, or a Python stage
#: appearing.
EQUI_JOINS = {"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"}
STRATEGY_COMPANIONS = {"ShuffleExchange", "BroadcastExchange", "Sort"}


_AGG_NODES = {"HashAggregate", "ObjectHashAggregate", "SortAggregate"}


def plan_shape(df) -> Counter:
    """Multiset of SEMANTIC physical node types of the executed plan,
    each operator counted once.  AQE's volume-dependent runtime nodes
    are excluded and the size-gated equi-join strategies normalize to
    one label; hash-aggregate partial/merge/final stages of the SAME
    logical aggregate collapse to one entry keyed by their grouping
    keys — AQE re-planning around a normalized join flip legitimately
    inserts/removes a partial stage.  Key-less (global) aggregates are
    keyed by their functions instead, so a NEW global aggregate
    appearing at scale still counts (ADVICE r11).  A hash->sort
    aggregate flip still fails (different node name), as do
    cartesian/nested-loop appearances, extra joins, new
    windows/generates, and Python stages."""
    from otel_arrow_collector_spark import plan_tree
    shape, aggs = Counter(), set()
    for n in plan_tree.read(df).walk():
        if n.name in _AGG_NODES:
            aggs.add((n.name,
                      n.keys or ("()", *sorted(a for _, a in n.aggs))))
        elif n.name not in AQE_RUNTIME_NODES | STRATEGY_COMPANIONS:
            shape["EquiJoin" if n.name in EQUI_JOINS else n.name] += 1
    shape.update(name for name, _ in aggs)
    return shape


class CollectRecorder:
    """Patch DataFrame.collect to record the size of every internal
    driver materialization a query performs."""

    def __init__(self):
        self.sizes: list[int] = []
        self._orig = None

    def __enter__(self):
        # patch the CONCRETE class (pyspark.sql.DataFrame is the
        # abstract parent in Spark 4; the classic subclass overrides
        # collect, so patching the parent would record nothing)
        from pyspark.sql.classic.dataframe import DataFrame
        self._cls = DataFrame
        self._orig = DataFrame.collect
        rec = self

        def collect(df):
            rows = rec._orig(df)
            rec.sizes.append(len(rows))
            return rows
        DataFrame.collect = collect
        return self

    def __exit__(self, *exc):
        self._cls.collect = self._orig
        return False


def run_query(spark, name: str, fn, sf_dir: str):
    """One timed end-to-end run: cache-cold build + materialize, one
    ``query_run`` record.
    Returns (seconds, internal_collect_sizes, plan_nodes, n_rows)."""
    from otel_arrow_collector_spark import query_run
    from otel_arrow_collector_spark.operators.cache_registry import \
        clear_caches
    clear_caches()
    planned = []
    with CollectRecorder() as rec:
        r = query_run.run(spark, name, fn, sf_dir, planned=planned.append)
    internal = rec.sizes[:-1]           # last collect is the result
    return r.wall_s, internal, plan_shape(planned[0]), r.rows


def fit_exponent(scales: list[int], times: list[float]) -> float:
    """Least-squares slope of log t vs log scale."""
    xs = [math.log(s) for s in scales]
    ys = [math.log(max(t, 1e-9)) for t in times]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,2,4,8")
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--work-dir", default="/tmp/spark_graft_stress")
    ap.add_argument("--runs", type=int, default=2,
                    help="timed runs per (query, scale); min is kept")
    ap.add_argument("--max-exponent", type=float, default=1.35,
                    help="fail if alpha exceeds this (linear + noise)")
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    names = args.queries.split(",")

    from otel_arrow_collector_spark import query_run
    spark, queries, _ = query_run.open_sweep("stress", args.sf_dir)

    dirs = {}
    for k in scales:
        dirs[k] = (args.sf_dir if k == 1 else
                   build_scaled_dir(spark, args.sf_dir, args.work_dir, k))

    # JVM/codegen warmup outside every timed region (first-action cost
    # lands on whichever (query, scale) runs first otherwise)
    run_query(spark, names[0], queries[names[0]], dirs[scales[0]])

    report, failures = {}, []
    for name in names:
        fn = queries[name]
        per_scale = {}
        base_shape = base_internal = None
        for k in scales:
            best = None
            for _ in range(args.runs):
                dt, internal, shape, n_rows = run_query(spark, name, fn,
                                                        dirs[k])
                if best is None or dt < best[0]:
                    best = (dt, internal, shape, n_rows)
            dt, internal, shape, n_rows = best
            per_scale[k] = {"sec": round(dt, 3), "rows": n_rows,
                            "internal_collects": internal}
            if internal and max(internal) > INTERNAL_COLLECT_MAX_ROWS:
                failures.append(
                    f"{name}@x{k}: internal collect of {max(internal)} rows "
                    f"exceeds {INTERNAL_COLLECT_MAX_ROWS}")
            if k == scales[0]:
                base_shape, base_internal = shape, internal
            else:
                if shape != base_shape:
                    diff = (shape - base_shape) + (base_shape - shape)
                    failures.append(
                        f"{name}@x{k}: plan shape changed vs x{scales[0]}: "
                        f"{dict(diff)}")
                # zip() would silently truncate: EXTRA collects at
                # higher scale are themselves growth and must fail
                if len(internal) != len(base_internal):
                    failures.append(
                        f"{name}@x{k}: internal collect COUNT changed "
                        f"with scale: {len(base_internal)} -> "
                        f"{len(internal)} ({base_internal} -> {internal})")
                grow = [b for a, b in zip(base_internal, internal)
                        if b > max(a * 1.1, a + 8)]
                if grow:
                    failures.append(
                        f"{name}@x{k}: internal collects grew with scale: "
                        f"{base_internal} -> {internal}")
        rep_scales = [k for k in scales if k > 1] or scales
        if len(rep_scales) < 2:          # fall back to the full set
            rep_scales = scales
        alpha = fit_exponent(rep_scales,
                             [per_scale[k]["sec"] for k in rep_scales])
        if alpha > args.max_exponent:
            failures.append(f"{name}: scaling exponent {alpha:.2f} > "
                            f"{args.max_exponent}")
        report[name] = {"scales": per_scale, "alpha": round(alpha, 3)}

    print(json.dumps({"sf_base": args.sf_dir, "scales": scales,
                      "queries": report, "failures": failures},
                     indent=1))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
