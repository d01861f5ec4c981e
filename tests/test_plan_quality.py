"""Plan-quality regression tests: the 100 TB design claims, asserted
against the physical plan so a refactor cannot silently regress them
(the executable form of README's "Design for 100 TB" audit).

Plans are inspected at SF_SMALL — plan SHAPE (pushdown, join strategy,
shuffle count, top-k operator) is scale-invariant for these queries; only
AQE's broadcast-vs-SMJ choice depends on size, and the assertions below
avoid pinning choices AQE may legitimately flip at scale.
"""

from __future__ import annotations

import re

import pytest

from otel_arrow_collector_spark.operators import collect_registry
from tests.conftest import SF_SMALL

QUERIES, _ = collect_registry()


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMALL)
    jpe = df._jdf.queryExecution()
    return jpe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def _df_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def _shuffles(plan: str) -> int:
    return len(re.findall(r"\bExchange\b(?! *Broadcast)", plan))


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "q02_filter")
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)" \
        in plan or "EqualTo(event_type,error)" in plan
    # column pruning: only the three projected columns are read
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(m.group(1).split(",")) <= {
        "event_id:bigint", "event_type:string", "value:double", "ts:bigint"}


def test_global_topk_is_take_ordered_not_full_sort(spark):
    plan = _plan(spark, "q23_topk")
    assert "TakeOrderedAndProject" in plan


def test_star_join_broadcasts_dimensions(spark):
    plan = _plan(spark, "q13_star_join")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_asof_join_is_single_shuffle_merge_plan(spark):
    """q37's whole point: NOT a quadratic range join.  One exchange for
    the per-user window + the final top-k; no join operator at all."""
    plan = _plan(spark, "q37_asof_join")
    assert "Join" not in plan                      # no theta/range join
    assert _shuffles(plan) <= 2
    assert "TakeOrderedAndProject" in plan


def test_quantization_is_pure_scan_map(spark):
    """int8 quantization must stay inside the scan: zero non-broadcast
    exchanges before the final top-k."""
    plan = _plan(spark, "embedding_quantize_int8")
    assert _shuffles(plan) == 0
    assert "TakeOrderedAndProject" in plan


def test_pack_sequences_window_is_partitioned_by_shard(spark):
    """Packing must never run a global (single-partition) window: the
    window spec partitions by the shard key."""
    plan = _plan(spark, "pack_sequences")
    assert "windowspecdefinition(shard" in plan
    assert "SinglePartition" not in plan


def test_contamination_benchmark_side_is_broadcast(spark):
    plan = _plan(spark, "contamination_screen")
    assert "BroadcastHashJoin" in plan


def test_bigram_lm_model_joins_are_not_cartesian(spark):
    plan = _plan(spark, "text_bigram_lm")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_shape_joins_push_filters_and_broadcast_dims(spark):
    """q43/q44: every selective filter reaches its parquet scan, dims are
    broadcast (the fact side is never the build side of a dim join), and
    the grouped top-k is TakeOrdered, not a global sort."""
    plan = _plan(spark, "q43_shipping_priority")
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan
    assert "GreaterThan(l_shipdate," in plan and "LessThan(o_orderdate," in plan
    assert "TakeOrderedAndProject" in plan
    plan5 = _plan(spark, "q44_local_supplier_volume")
    assert "EqualTo(r_name,ASIA)" in plan5
    assert plan5.count("BroadcastHashJoin") >= 3    # region/nation/dims/sup
    assert "CartesianProduct" not in plan5


def test_salted_join_spreads_hot_keys(spark):
    """q45's salted join must key the shuffle on (key, salt), not the raw
    hot key alone, and still contain no cartesian expansion."""
    plan = _plan(spark, "q45_salted_hot_key_join")
    assert "__salt" in plan                        # salt participates
    assert "CartesianProduct" not in plan


def test_retention_cohort_has_no_global_window(spark):
    """q46 is joins+aggs only — a window over all users would be the
    wrong plan at scale."""
    plan = _plan(spark, "q46_retention_cohorts")
    assert "windowspecdefinition" not in plan
    assert "SinglePartition" not in plan


def test_hopping_window_explodes_before_single_agg(spark):
    """q47: constant-factor explode then ONE aggregation — no self-join,
    no range join."""
    plan = _plan(spark, "q47_hopping_window")
    assert "Generate" in plan and "explode(array" in plan
    assert "Join" not in plan


def test_df_topterms_distinct_is_per_document(spark):
    """text_df_topterms: array_distinct runs inside the scan-side project
    (per-doc dedup before explode), so the shuffle carries unique tokens
    per doc, not every token occurrence."""
    plan = _plan(spark, "text_df_topterms")
    assert "array_distinct" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", [
    "q53_large_volume_orders",
    "dedup_cross_corpus",
    "dedup_containment",
    "contamination_screen",
])
def test_corpus_sized_join_is_not_forced_broadcast(spark, name):
    """Every join input here grows with the corpus: q53's (TPC-H Q18
    shape) qualifying-key set comes from a groupBy HAVING over the fact
    table, dedup_cross_corpus and dedup_containment verify candidates
    against the per-document shingle-array relation, and
    contamination_screen attaches each shingle's source from the
    documents table.  So the plan must NOT carry a compile-time
    broadcast hint.  The logical plan stays hint-free (AQE may still
    choose broadcast at runtime once the size is known — that choice is
    legal and size-gated by autoBroadcastJoinThreshold).
    """
    df = QUERIES[name](spark, SF_SMALL)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical and "broadcast" not in logical
    plan = _plan(spark, name)
    # physically: either AQE broadcast or a co-partitioned shuffle join
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_q60_disjunction_pushes_per_side_conjuncts_to_scans(spark):
    """q60 (TPC-H Q19 shape): Catalyst extracts the per-side conjuncts of
    the OR-of-ANDs and pushes them into BOTH parquet scans (quantity
    ranges to lineitem, brand/size to part) — the scans must not read
    unfiltered."""
    plan = _plan(spark, "q60_disjunctive_revenue")
    assert re.search(r"PushedFilters: \[[^\]]*l_quantity", plan)
    assert re.search(r"PushedFilters: \[[^\]]*p_brand", plan)


def test_q59_qualifier_reuses_fact_shuffle_key(spark):
    """q59 (TPC-H Q17 shape): the per-part AVG qualifier and the probe
    join both key on l_partkey — no cartesian, no global window."""
    plan = _plan(spark, "q59_small_quantity_revenue")
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan


def test_q63_pair_filter_date_range_pushed_one_fact_shuffle(spark):
    """q63 (TPC-H Q7 shape): the ship-date range is a pushed scan filter;
    supplier/customer/nation broadcast; lineitem-orders is the only
    fact-fact join (no cartesian from the two nation roles)."""
    plan = _plan(spark, "q63_volume_shipping")
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q64_like_filter_stays_on_dim_side(spark):
    """q64 (TPC-H Q9 shape): the LIKE-filtered part dim broadcasts; the
    fact scan reads only the join/measure columns."""
    plan = _plan(spark, "q64_product_profit")
    assert "BroadcastHashJoin" in plan
    m = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    li = [x for x in m if "l_extendedprice" in x]
    assert li and all("l_returnflag" not in x for x in li)  # pruned


def test_q65_pairs_distinct_before_argmin_joinback(spark):
    """q65 (TPC-H Q2 shape): the distinct (type, supplier) pair set is
    aggregated BEFORE the min join-back, so everything after the fact
    scan runs on dim-sized data; no window over the fact."""
    plan = _plan(spark, "q65_min_acctbal_supplier")
    # r16: the grouped-MIN + join-back became a per-type WINDOW over the
    # one distinct pass (Catalyst elided the distinct under the MIN
    # branch, so the join-back form ran the fact pass twice); the window
    # partitions by p_type over the dim-sized distinct relation
    assert "windowspecdefinition(p_type" in plan
    assert "CartesianProduct" not in plan


def test_q66_both_fact_branches_are_pruned_aggregations(spark):
    """q66 (TPC-H Q11 shape): the scalar-total branch recomputes the
    per-part aggregation (the textbook Q11 plan — engines evaluate the
    CTE per consumer); what must hold is that BOTH fact scans prune to
    the 3 needed columns and nothing goes cartesian."""
    plan = _plan(spark, "q66_important_parts")
    import re as _re
    for cols in _re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        names = {c.split(":")[0] for c in cols.split(",")}
        assert names <= {"l_partkey", "l_quantity", "l_extendedprice",
                         "p_partkey", "p_name"}, names
    assert "CartesianProduct" not in plan


def test_q68_single_fact_join_no_triple_self_join(spark):
    """q68 (TPC-H Q21 shape): the aggregation-first reformulation keeps
    exactly ONE lineitem-orders join — the textbook EXISTS/NOT-EXISTS
    plan would scan and join the fact three times."""
    plan = _plan(spark, "q68_waiting_suppliers")
    assert len(re.findall(r"lineitem", plan)) <= 2   # one scan (+reuse ref)
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") \
        + plan.count("BroadcastHashJoin") >= 2       # fact join + supplier


def test_perplexity_gate_vocab_is_broadcast_no_window(spark):
    """text_perplexity_gate: the sample vocabulary joins broadcast-side
    (model, not data) and the funnel is pure aggregation — no windows,
    no cartesian."""
    plan = _plan(spark, "text_perplexity_gate")
    assert "BroadcastHashJoin" in plan
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_semantic_blocks_by_cell_no_all_pairs(spark):
    """dedup_semantic: the pair join keys on the k-means cell id — never
    an unconstrained cross join of the corpus."""
    plan = _plan(spark, "dedup_semantic")
    assert "CartesianProduct" not in plan
    assert re.search(r"\bcid\b", plan)


def test_dedup_semantic_keep_is_pair_bounded(spark):
    """dedup_semantic_keep (r15): consumes the memoized cid-keyed pair
    relation (cache/table scan, no corpus re-join in the query plan)
    and its CC labels — candidate-bounded, no cartesian."""
    plan = _plan(spark, "dedup_semantic_keep")
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan or "InMemoryTableScan" in plan \
        or "LocalTableScan" in plan


def test_dedup_semantic_cell_audit_is_one_agg(spark):
    """dedup_semantic_cell_audit: two stacked hash aggs (cid, then the
    one-row rollup) over the assignments — no window, no corpus-corpus
    join, linear at every scale (the stress row's contract).  The only
    join the un-cached lineage may show is the assignment stage's 8-row
    centroid broadcast (the ann_knn_graph adjudication)."""
    plan = _plan(spark, "dedup_semantic_cell_audit")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan


def test_q69_pure_scan_aggregate_no_join_no_window(spark):
    """q69 (TPC-H Q6 shape): the canonical scan-filter-agg — every
    predicate pushes into the parquet scan, no join/window anywhere, and
    the only exchange is the 1-row partial→final agg hand-off (formatted
    explain prints each node twice: tree + detail)."""
    plan = _plan(spark, "q69_forecast_revenue")
    assert "Join" not in plan
    assert "windowspecdefinition" not in plan
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan)
    assert re.search(r"PushedFilters: \[[^\]]*l_quantity", plan)
    assert _shuffles(plan) <= 2
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) <= {
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_q70_single_scan_single_window_no_join(spark):
    """q70: the rank cut and the outlier aggregation share one window
    over ONE fact scan — no threshold re-join, no fact self-join
    (formatted explain prints each node twice: tree + detail)."""
    plan = _plan(spark, "q70_tail_latency_outliers")
    assert plan.count("Scan parquet") == 2      # one scan, printed twice
    assert "Join" not in plan


def test_q71_funnel_is_single_aggregate_no_window_no_join(spark):
    """q71: N funnel stages = N conditional aggregates over ONE fact
    scan; no join, no window, shuffle only on user_id + the final 1-row
    agg."""
    plan = _plan(spark, "q71_conversion_funnel")
    assert "Join" not in plan
    assert "windowspecdefinition" not in plan
    assert plan.count("Scan parquet") == 2      # one scan, printed twice


def test_q72_islands_share_one_window_exchange(spark):
    """q72: the lag change-flag and the running-sum island id use the
    SAME window spec, so the plan carries ONE wide exchange (plus the
    final TakeOrdered) — not one sort+shuffle per window function."""
    plan = _plan(spark, "q72_scd2_intervals")
    assert plan.count("Scan parquet") == 2      # one scan, printed twice
    assert "Join" not in plan
    assert _shuffles(plan) <= 4                 # window + agg, each x2


def test_q76_sparse_series_broadcast_no_dense_grid(spark):
    """q76: the query series joins by broadcast on bucket; no cartesian
    user x bucket grid, no full-outer blowup."""
    plan = _plan(spark, "q76_timeseries_similarity")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "FullOuter" not in plan


def test_q74_range_frame_single_window_exchange(spark):
    """q74: both RANGE-frame aggregates share one (user_id, sec) window
    partitioning — no second sort/exchange, no join."""
    plan = _plan(spark, "q74_range_frame_moving_sum")
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 2      # one scan, printed twice
    assert "specifiedwindowframe(RangeFrame" in plan


def test_q75_constant_explode_single_agg(spark):
    """q75: the exp->explicit conversion is a constant-factor expansion
    (sequence explode) into ONE hash aggregation — no joins beyond the
    union, no windows."""
    plan = _plan(spark, "q75_exp_to_explicit_histogram")
    assert "windowspecdefinition" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_q77_windows_run_over_aggregated_rows(spark):
    """q77: the NTILE windows consume the per-user AGGREGATE (fact
    scanned once), never the raw event stream."""
    plan = _plan(spark, "q77_rfm_segments")
    assert plan.count("Scan parquet") == 4      # events + tmax branch, x2
    assert "CartesianProduct" not in plan


def test_q78_cube_is_single_expand_exchange(spark):
    """q78: CUBE compiles to one Expand + one aggregation exchange, not
    2^k scans."""
    plan = _plan(spark, "q78_cube_matrix")
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 2      # one scan, printed twice


def test_q79_median_shares_group_partitioning(spark):
    """q79: rank + count + final aggregation all key on event_type — no
    join, a single scan."""
    plan = _plan(spark, "q79_exact_median")
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 2      # one scan, printed twice


def test_q80_sessionization_single_data_shuffle(spark):
    """q80: lag flag + island id + both aggregations all key on
    user_id prefixes — ONE data shuffle plus the presentation sort."""
    plan = _plan(spark, "q80_sessionization")
    assert "Join" not in plan
    assert _shuffles(plan) <= 4                 # printed 2x: 1 hash + 1 sort
    assert "windowspecdefinition(user_id" in plan


def test_q81_transitions_no_self_join(spark):
    """q81: consecutive-pair extraction is a LEAD window, never a
    rank-to-rank self-join of the fact."""
    plan = _plan(spark, "q81_event_transitions")
    assert "Join" not in plan
    assert "windowspecdefinition(user_id" in plan
    assert plan.count("Scan parquet") == 2      # one scan, printed twice


def test_q82_anomaly_preaggregates_before_window(spark):
    """q82: the trailing-stats window runs over the (type, day)
    aggregate, not the raw fact; everything keys on event_type."""
    plan = _plan(spark, "q82_anomaly_days")
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 2
    assert "windowspecdefinition(event_type" in plan


def test_q83_sweep_line_not_range_join(spark):
    """q83: interval concurrency via boundary deltas — keyed equi-join
    + keyed window only; no range/theta join, nothing quadratic."""
    plan = _plan(spark, "q83_intransit_peak")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "windowspecdefinition(suppkey" in plan


def test_q84_brand_growth_broadcasts_part_dim(spark):
    plan = _plan(spark, "q84_brand_growth")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "windowspecdefinition(p_brand" in plan


def test_ann_knn_graph_is_cell_bounded(spark):
    """ann_knn_graph: the vector-vector self-join is KEYED on the IVF
    cell id (cid equi-join), and the only nested-loop joins are the
    deliberate 8-row centroid broadcasts of the assignment stage — the
    corpus never cross-joins itself."""
    plan = _plan(spark, "ann_knn_graph")
    assert "CartesianProduct" not in plan
    # r15: the memoized edge relation is plan-truncated; the cid-keyed
    # self-join + per-src rank window are pinned on the raw builder plan
    from otel_arrow_collector_spark.operators import similarity as sim
    bplan = _df_plan(spark, sim._build_knn_edges(spark, SF_SMALL))
    assert re.search(r"Left keys \[1\]: \[cid", bplan) \
        or "SortMergeJoin Inner" in bplan
    assert "windowspecdefinition(src" in bplan
    assert "CartesianProduct" not in bplan


def test_hll_registers_map_side_combinable(spark):
    """The HLL sketch's scale claim: one hash-aggregate pair (partial +
    final) over a map-side expression — a single exchange whose payload
    is at most 256 register rows, and no Python in the plan."""
    plan = _plan(spark, "sketch_hll_registers")
    # formatted explain prints each node twice -> 2 matches per real
    # exchange; 2 real exchanges = partial->final agg + output sort
    assert _shuffles(plan) <= 4
    assert "HashAggregate" in plan
    assert "Python" not in plan                   # pure JVM expressions
    assert "Join" not in plan


def test_cms_counters_single_aggregation(spark):
    """CMS construction: explode to d cells then ONE aggregation; the
    shuffle payload is bounded by d*w cells, not the input size."""
    plan = _plan(spark, "sketch_cms_counters")
    assert "Generate" in plan                     # the explode
    assert _shuffles(plan) <= 4                   # 2 real (see above)
    assert "Python" not in plan


def test_triangle_count_no_cartesian(spark):
    """Wedge-join triangle counting must stay a pair of equi-joins on
    the (capped) edge list — never a cartesian/BNLJ expansion.  r15:
    the wedge join lives in the memoized _tri_counts builder, so the
    equi-join pin reads the raw builder plan."""
    plan = _plan(spark, "graph_triangle_count")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan        # top-20, no full sort
    from otel_arrow_collector_spark.operators import graph as g
    bplan = _df_plan(spark, g.triangle_participation(
        g._edges_cached(spark, SF_SMALL)))
    assert "CartesianProduct" not in bplan
    assert "BroadcastNestedLoopJoin" not in bplan


def test_pagerank_scan_once_iterate_local(spark):
    """graph_pagerank's scale shape: the fact table feeds ONE
    distributed transition-edge aggregation (consumed by collect() at
    build time), and the returned plan is the driver-computed rank
    relation — no iteration joins over re-scanned facts at all."""
    plan = _plan(spark, "graph_pagerank")
    assert "Join" not in plan
    assert "Scan parquet" not in plan          # local relation only


def test_pagerank_distributed_broadcasts_rank_side(spark):
    """The distributed operator (node-cardinality graphs): each
    iteration joins the big edge list against the tiny rank table —
    the rank side must broadcast (no SMJ on edges)."""
    from otel_arrow_collector_spark.operators.graph import (
        pagerank_fixed_point)
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 2), ("a", "c", 1)],
        "src string, dst string, w long")
    df = pagerank_fixed_point(edges)
    jpe = df._jdf.queryExecution()
    plan = jpe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bloom_screen_broadcasts_filter_bits(spark):
    """The Bloom screen's reason to exist: the probe side joins a
    broadcast bitset, never a shuffled benchmark set."""
    plan = _plan(spark, "bloom_screen")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_weighted_sample_no_global_sort_before_topk(spark):
    """Per-stratum top-k via window rank: one exchange on the stratum
    key; priorities are map-side expressions (no Python)."""
    plan = _plan(spark, "sample_weighted")
    assert "Python" not in plan
    assert "Window" in plan


def test_pq_codes_map_only_encoding(spark):
    """PQ encoding's scale claim: the codebook is inlined literals, so
    encoding is pure map work — no join, no Python; the only exchanges
    are the 64-row histogram aggregation + output sort."""
    plan = _plan(spark, "ann_pq_codes")
    assert "Join" not in plan
    assert "Python" not in plan
    assert _shuffles(plan) <= 4                   # 2 real (agg + sort)


def test_html_extract_is_pure_column_regex(spark):
    """The HTML strip must stay JVM-side regexp codegen — no Python
    worker anywhere in the plan, no join."""
    plan = _plan(spark, "text_html_extract")
    assert "Python" not in plan
    assert "Join" not in plan


def test_warc_and_tar_extract_plan_shape(spark):
    """Ingest paths: WARC is map-only (one Python stage, no join);
    tar bundles shuffle ONCE on the bundle key."""
    plan = _plan(spark, "warc_extract")
    assert "Join" not in plan
    plan = _plan(spark, "tar_extract")
    assert "Join" not in plan
    assert _shuffles(plan) <= 4          # bundle group + output sort


def test_cc_pipeline_pure_jvm_funnel(spark):
    """The capstone's claim: the whole extract->langid->gate funnel is
    JVM column work — no Python stage, no join, one aggregation."""
    plan = _plan(spark, "cc_pipeline")
    assert "Python" not in plan
    assert "Join" not in plan


def test_cc_pipeline_warc_one_python_stage(spark):
    """The WARC-fronted capstone: exactly ONE Arrow-batched Python map
    stage (the binary leg), the rest stays JVM column work — no join,
    no second Python worker anywhere."""
    import re as _re
    plan = _plan(spark, "cc_pipeline_warc")
    assert "Join" not in plan
    n_python = len(_re.findall(r"MapInPandas|ArrowEvalPython|"
                               r"BatchEvalPython", plan))
    # formatted explain prints each node twice (tree + detail)
    assert 1 <= n_python <= 2


def test_dq_expectations_fk_check_broadcasts(spark):
    """q88's FK orphan check must be a broadcast anti-join on the
    small dimension, and no check materializes violating rows."""
    plan = _plan(spark, "q88_dq_expectations")
    assert "CartesianProduct" not in plan


def test_cross_corpus_no_cartesian(spark):
    plan = _plan(spark, "dedup_cross_corpus")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gap_fill_single_window_exchange(spark):
    """q86: the moving average runs over the dense spine with one
    window exchange on the series key."""
    plan = _plan(spark, "q86_gap_filled_daily")
    assert plan.count("Window") >= 1
    assert "CartesianProduct" not in plan


def test_quantile_binned_windows_over_bin_cardinality(spark):
    """sketch_quantile_binned's scale claim: the only windows run over
    the PRE-AGGREGATED (grp, bin) rows (<= groups x 256), never the
    fact table — the fact-side work is one map + one hash aggregation."""
    plan = _plan(spark, "sketch_quantile_binned")
    # windows partition by grp (bin-cardinality input); no global sort
    # of fact rows feeds any single partition
    assert "windowspecdefinition(grp" in plan
    assert "CartesianProduct" not in plan


def test_q92_slo_burn_windows_over_hour_cardinality(spark):
    """q92: ONE fact scan collapses to |hours| rows before the 6h
    trailing window — the window's single partition is calendar-bounded
    (720 rows/month at any corpus size), same adjudication as q86."""
    plan = _plan(spark, "q92_slo_burn")
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 2      # one scan, printed twice
    assert "windowspecdefinition(hour" in plan


def test_source_overlap_joins_are_keyed(spark):
    """dedup_source_overlap: the only nested-loop join is the 16-row
    seed broadcast; the signature pairwise compare keys on seed
    (|sources|^2 x 16 cells) and the exact audit self-join keys on the
    content hash — the corpus never cross-joins itself."""
    plan = _plan(spark, "dedup_source_overlap")
    assert "CartesianProduct" not in plan
    # the sig subtree plans twice (a/b sides of the pairwise compare);
    # both nested-loop joins are the 16-row seed broadcast.  Formatted
    # explain prints each node twice (tree + detail), so the distinct
    # BNLJ count is half the string count.
    nested = plan.count("BroadcastNestedLoopJoin") // 2
    assert nested <= 2
    assert plan.count("Join type: Cross") == nested


def test_q93_scd2_single_user_exchange(spark):
    """q93: change flag, island id, run aggregate, and valid_to LEAD all
    key on user_id (prefix rule) — no join, one fact scan."""
    plan = _plan(spark, "q93_scd2_merge")
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 2      # one scan, printed twice
    assert "windowspecdefinition(user_id" in plan


def test_q94_attribution_one_pass(spark):
    """q94: both attribution models ride ONE user_id window over ONE
    fact scan (stack unpivot, no self-join, no per-purchase lookup)."""
    plan = _plan(spark, "q94_attribution")
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 2
    assert "windowspecdefinition(user_id" in plan


def test_cooccur_vocab_is_partial_topk(spark):
    """text_cooccur_lift: the vocabulary cap is a TakeOrderedAndProject
    (per-partition partial top-k, never a global sort of the vocab) and
    the only nested-loop join is the broadcast 1-row n_docs aggregate;
    the per-doc pair join keys on doc_id."""
    plan = _plan(spark, "text_cooccur_lift")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    nested = plan.count("BroadcastNestedLoopJoin") // 2
    assert nested <= 1                          # the 1-row n_docs side
    assert plan.count("Join type: Cross") == nested


def test_loo_accuracy_reuses_knn_edge_substrate(spark):
    """ann_loo_accuracy: the 1-NN comes from the MEMOIZED kNN edge list
    (InMemoryTableScan of _knn_edges — the per-cell pairs pass is
    shared with ann_knn_graph, never re-run), and the two label joins
    are keyed — the corpus never cross-joins itself."""
    plan = _plan(spark, "ann_loo_accuracy")
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan          # the cached edge relation
    # r15: the substrate is plan-truncated, so the per-cell pairs pass
    # must NOT reappear in the consumer plan (reuse, not rebuild) — the
    # cid join/window pins live in test_ann_knn_graph_is_cell_bounded
    assert "windowspecdefinition(src" not in plan


def test_resample_one_python_stage(spark):
    """multimodal_resample: both WAV legs and both resample passes run
    inside ONE Arrow-batched Python map stage — no join, no shuffle
    beyond the final presentation sort."""
    import re as _re
    plan = _plan(spark, "multimodal_resample")
    assert "Join" not in plan
    n_python = len(_re.findall(r"MapInPandas|ArrowEvalPython|"
                               r"BatchEvalPython", plan))
    assert 1 <= n_python <= 2


def test_q95_cdc_one_key_exchange_no_join(spark):
    """q95: the LWW rank and the version count share ONE user_id
    exchange; the MERGE anti-join is folded into the rank-1 filter."""
    plan = _plan(spark, "q95_cdc_apply")
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 2      # one scan, printed twice
    assert "windowspecdefinition(user_id" in plan


def test_embedding_drift_is_sum_aggregates_no_order_pin(spark):
    """embedding_drift: integer quantized SUMs (map-side combinable
    hash aggregates) — no window, no order-pinned collect of corpus
    rows (the bounded collect_list groups 64 dim-sums, not vectors),
    no cartesian; the half joins key on label."""
    plan = _plan(spark, "embedding_drift")
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan
    assert "Generate" in plan                   # posexplode of dims


def test_phash_dedup_candidates_are_band_keyed(spark):
    """multimodal_phash_dedup: ONE Arrow-batched hash stage; candidate
    pairs come from an equi-join on (band index, band value) — the
    image corpus never cross-joins itself."""
    plan = _plan(spark, "multimodal_phash_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the memoized hash relation runs synthesize_media + the hash map
    # ONCE (persisted, cache-registry keyed); all four consumer sites
    # read the InMemoryRelation — formatted explain re-prints the
    # cached plan per scan site, so Python node NAMES repeat in the
    # string while execution stays single-pass
    assert "InMemoryTableScan" in plan


def test_q96_changepoint_windows_over_day_cardinality(spark):
    """q96: the fact collapses to |types| x |days| rows before the
    CUSUM window (calendar-bounded, q92's adjudication); the totals
    join is a broadcast; the argmax is a hash-agg, not a second
    window."""
    plan = _plan(spark, "q96_changepoint")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "windowspecdefinition(event_type" in plan


def test_data_uri_extraction_is_pure_jvm_map(spark):
    """multimodal_data_uri: regex capture + base64 decode stay
    ENTIRELY JVM-side — zero Python stages, zero joins, one scan."""
    import re as _re
    plan = _plan(spark, "multimodal_data_uri")
    assert "Join" not in plan
    assert not _re.search(r"MapInPandas|ArrowEvalPython|BatchEvalPython",
                          plan)
    assert plan.count("Scan parquet") == 2      # one scan, printed twice


def test_keywords_windows_per_document(spark):
    """text_keywords: the salience rank windows PER DOCUMENT (bounded
    partitions), the df join is keyed, and n_docs is the broadcast
    1-row aggregate — never a global vocabulary sort."""
    plan = _plan(spark, "text_keywords")
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition(doc_id" in plan
    nested = plan.count("BroadcastNestedLoopJoin") // 2
    assert nested <= 1                          # the 1-row n_docs side
    assert "TakeOrderedAndProject" in plan      # presentation top-600


def test_cell_quality_is_one_aggregation_pass(spark):
    """ann_ivf_cell_quality: one pass over the persisted assignments
    with broadcast centroids; per-cid hash aggregates; no window."""
    plan = _plan(spark, "ann_ivf_cell_quality")
    assert "CartesianProduct" not in plan
    # r16: the global (total, cells) frame is a window over the
    # |cells|-row stats relation — the agg + crossJoin form re-ran the
    # whole cosine pass (cached subtrees never stage-reuse); the window
    # input is <= |cells| rows, so SinglePartition there is dim-sized
    assert plan.count("windowspecdefinition") >= 1


def test_adc_topk_is_map_plus_take_ordered(spark):
    """ann_pq_adc_topk: the 1-row query broadcasts (nested-loop against
    one row is the != join), fold work stays in the scan projection,
    and the top-k is TakeOrdered — never a global sort of the corpus."""
    plan = _plan(spark, "ann_pq_adc_topk")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # r15 array-LUT form: the 64-entry distance table collapses to ONE
    # broadcast row and scoring is pure codegen subscripts — the only
    # joins are 1-row nested-loop broadcasts (query-id filter + LUT),
    # no per-row hash join, no explode, no re-aggregation
    nested = plan.count("BroadcastNestedLoopJoin") // 2
    assert nested <= 3
    assert "Generate" not in plan            # no code explode
    assert "SortMergeJoin" not in plan


def test_theta_sketch_retains_k_rows_per_set(spark):
    """sketch_theta_intersection: per-set rank window (bounded at
    THETA_K retained), all downstream joins on the retained relation,
    thetas broadcast; no cartesian."""
    plan = _plan(spark, "sketch_theta_intersection")
    assert "CartesianProduct" not in plan
    from otel_arrow_collector_spark.operators import sketches as sk
    from otel_arrow_collector_spark.sources.tables import load_table
    dist = (load_table(spark, SF_SMALL, "events")
            .select("event_type", "user_id").distinct())
    assert "windowspecdefinition(event_type" in _df_plan(
        spark, sk._build_theta_kept(dist))


def test_dedup_spans_joins_on_span_hash(spark):
    """text_dedup_spans: the df join keys on the md5 span hash (near-
    uniform), reassembly is a hash aggregate — no window over the
    corpus, no cartesian, no Python."""
    plan = _plan(spark, "text_dedup_spans")
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan
    assert "array_sort" in plan                 # in-group reassembly
    assert "mapInPandas" not in plan.lower()


def test_label_propagation_broadcasts_label_relation(spark):
    """graph_label_propagation: each iteration joins the edge list
    against the |nodes|-row label side as a BROADCAST (the PageRank
    adjudication) with per-node rank windows; no cartesian."""
    plan = _plan(spark, "graph_label_propagation")
    assert "CartesianProduct" not in plan
    from pyspark.sql import functions as F

    from otel_arrow_collector_spark.operators import graph as g
    e = g._edges_cached(spark, SF_SMALL)
    edges = (e.select(F.col("u").alias("src"), F.col("v").alias("dst"))
             .unionAll(e.select(F.col("v").alias("src"),
                                F.col("u").alias("dst"))))
    bplan = _df_plan(spark, g._build_lpa_labels(edges))
    assert bplan.count("BroadcastHashJoin") >= 2
    assert "windowspecdefinition(node" in bplan


def test_contamination_probe_broadcasts_bench_side(spark):
    """dedup_contamination: the benchmark shingle relation broadcasts
    (eval sets are MBs; the corpus side must not shuffle for the probe
    join); no cartesian."""
    plan = _plan(spark, "dedup_contamination")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q97_seasonal_spike_baseline_is_broadcast(spark):
    """q97: the fact collapses to the hourly spine in ONE hash
    aggregate; the |types| x 24 baseline joins back as a broadcast —
    no sort-merge join, no window, no cartesian."""
    plan = _plan(spark, "q97_seasonal_spike")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "windowspecdefinition" not in plan


def test_er_blocking_join_is_keyed_never_all_pairs(spark):
    """dedup_er_blocking: the candidate self-join is an EQUALITY join
    on the blocking key — a cartesian/nested-loop plan would mean the
    blocking stopped bounding the verify."""
    plan = _plan(spark, "dedup_er_blocking")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bpe_merge_explodes_vocab_not_corpus(spark):
    """text_bpe_merge: the pair explode runs over the DISTINCT-WORD
    aggregate (vocab-sized), i.e. AFTER the word-count hash aggregate —
    never over the raw corpus rows."""
    import re as _re
    plan = _plan(spark, "text_bpe_merge")
    # the pair explode's direct child in the plan tree is the vocab
    # hash aggregate (explode-over-aggregate, not explode-over-scan)
    assert _re.search(r"Generate \(\d+\)\n\s*\+- HashAggregate", plan)
    assert "TakeOrderedAndProject" in plan


def test_url_canonicalize_is_pure_scan_map(spark):
    """text_url_canonicalize: regexp/array surgery is one whole-stage
    map over the scan — zero joins, zero Python, zero windows."""
    import re as _re
    plan = _plan(spark, "text_url_canonicalize")
    assert "Join" not in plan
    assert not _re.search(r"MapInPandas|ArrowEvalPython|BatchEvalPython",
                          plan)
    assert "windowspecdefinition" not in plan


def test_er_clusters_edge_join_is_keyed(spark):
    """dedup_er_clusters: the match-pair generation stays a keyed
    blocked join (the er_blocking contract) feeding the CC labeler."""
    plan = _plan(spark, "dedup_er_clusters")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_length_buckets_single_scan_single_agg(spark):
    """curation_length_buckets: CASE-ladder map + one hash aggregate —
    no join, no window, no Python."""
    import re as _re
    plan = _plan(spark, "curation_length_buckets")
    assert "Join" not in plan
    assert "windowspecdefinition" not in plan
    assert not _re.search(r"MapInPandas|ArrowEvalPython|BatchEvalPython",
                          plan)


def test_mojibake_is_pure_scan_map(spark):
    """text_mojibake: damage synthesis + regexp_count stay one codegen
    map over the scan — no join, no window, no Python."""
    import re as _re
    plan = _plan(spark, "text_mojibake")
    assert "Join" not in plan
    assert "windowspecdefinition" not in plan
    assert not _re.search(r"MapInPandas|ArrowEvalPython|BatchEvalPython",
                          plan)


def test_dataset_card_windows_lang_frame_only(spark):
    """curation_dataset_card: the top-1 window runs over the tiny
    (source, lang) aggregate, never the corpus; the three signal
    branches join on source (broadcast-size) with no cartesian."""
    plan = _plan(spark, "curation_dataset_card")
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition(source" in plan


def test_pq_recall_both_rankings_are_take_ordered(spark):
    """ann_pq_recall: ADC ranking and exact ground truth are each a
    broadcast-query scan map + TakeOrdered(k) — no cartesian, no global
    sort, no Python stage."""
    import re as _re
    plan = _plan(spark, "ann_pq_recall")
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan
    assert not _re.search(r"MapInPandas|ArrowEvalPython|BatchEvalPython",
                          plan)


def test_er_queries_share_one_candidate_build(spark):
    """The three ER queries share ONE memoized candidate relation (the
    _knn_edges discipline): after any of them runs, the registry holds
    the 'dedup.er_pairs' artifact and the others consume it instead of
    re-running the quadratic-in-block verify.  (The relation cannot be
    plan-pinned on er_clusters/er_canonical: connected_components'
    driver fast path consumes it at BUILD time, so the returned plan
    only contains the label table.)"""
    from otel_arrow_collector_spark.operators import cache_registry as cr
    QUERIES["dedup_er_blocking"](spark, SF_SMALL).collect()
    assert any(k[0] == "dedup.er_pairs" for k in cr._ENTRIES)
    before = [k for k in cr._ENTRIES if k[0] == "dedup.er_pairs"]
    QUERIES["dedup_er_canonical"](spark, SF_SMALL).collect()
    after = [k for k in cr._ENTRIES if k[0] == "dedup.er_pairs"]
    assert before == after            # reused, not rebuilt under a new key
    plan = _plan(spark, "dedup_er_canonical")
    assert "CartesianProduct" not in plan


def test_exif_audit_single_python_stage_no_join(spark):
    """multimodal_exif_audit: exactly one Arrow-batched Python stage
    over the doc slice + one hash aggregate — zero joins."""
    import re as _re
    plan = _plan(spark, "multimodal_exif_audit")
    assert "Join" not in plan
    assert len(_re.findall(r"\bMapInPandas\b", plan)) <= 2  # tree+detail


def test_snapshot_diff_is_two_scans_one_join(spark):
    """curation_snapshot_diff: each snapshot leg is a pushed-filter scan
    and the compare is ONE keyed full-outer join — no cartesian, no
    window over the corpus."""
    plan = _plan(spark, "curation_snapshot_diff")
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan


def test_waterfill_windows_only_the_source_frame(spark):
    """curation_budget_waterfill: the corpus collapses to |sources| rows
    in ONE hash aggregate; windows and the 1-row cut broadcast operate
    on that tiny frame only (a SinglePartition window over ~20 rows is
    the intended plan, NOT a smell here)."""
    plan = _plan(spark, "curation_budget_waterfill")
    # the corpus-side aggregate happens before any window (the 1-row cut
    # crossJoin may legally plan as a broadcast nested loop — the
    # dedup_cc_keep adjudication)
    assert plan.index("HashAggregate") < plan.index("windowspecdefinition")


def test_calibration_single_scan_single_agg(spark):
    """text_classifier_calibration: both signals (score + gopher keep)
    are column expressions over ONE scan; one hash aggregate on the bin
    — no join, no window, no Python."""
    import re as _re
    plan = _plan(spark, "text_classifier_calibration")
    assert "Join" not in plan
    assert "windowspecdefinition" not in plan
    assert not _re.search(r"MapInPandas|ArrowEvalPython|BatchEvalPython",
                          plan)


def test_theta_difference_plan_mirrors_intersection(spark):
    """sketch_theta_difference: same bounded shape as the intersection
    sketch — per-set rank window, K-row retained relation, broadcast
    theta pairs, anti-join for the AnotB survivors; no cartesian over
    anything data-sized."""
    plan = _plan(spark, "sketch_theta_difference")
    # per-set rank window pinned on the shared builder
    # (test_theta_sketch_retains_k_rows_per_set); here: the AnotB shape
    assert "LeftAnti" in plan
    # the only cross product is the |types| x |types| theta-pair frame
    assert plan.count("CartesianProduct") <= 1


def test_ivf_pq_prunes_cells_and_stays_codegen(spark):
    """ann_ivf_pq: candidates come from the cell-partitioned PQ code
    store (pq_code_store — codes precomputed at index-build time, r15)
    with a Dynamic Partition Pruning directory filter derived from the
    broadcast (query, cell) join — JVM-side prune, zero per-query
    driver collects (verdict r14 ask #3); the ADC fold is codegen (no
    Python, no per-pair re-encode); the per-query rank windows on
    q_id; no corpus-sized cartesian and no full-store shuffle (the
    store side joins broadcast, never sort-merge)."""
    plan = _plan(spark, "ann_ivf_pq")
    assert re.search(
        r"PartitionFilters: \[[^\]]*dynamicpruning[^\]]*cid", plan)
    assert "SortMergeJoin" not in plan
    assert "windowspecdefinition(q_id" in plan
    assert "mapInPandas" not in plan.lower()
    assert "BatchEvalPython" not in plan


def test_pq_searches_read_code_store_not_encoder(spark):
    """ann_pq_adc_topk / ann_ivf_pq serve from the materialized PQ code
    store (8 ints/candidate) instead of folding the encoder argmin at
    query time: the plan scans the spark_graft_pq_ parquet store and
    contains NO encoder fold (its 'Infinity' seed literal is the
    encoder's signature — ADC-only plans never materialize it)."""
    for name in ("ann_pq_adc_topk", "ann_ivf_pq"):
        plan = _plan(spark, name)
        assert "spark_graft_pq_" in plan, name
        assert "Infinity" not in plan, name


def test_ivf_probe_and_multiprobe_prune_via_dpp(spark):
    """ann_ivf_probe / ann_ivf_multiprobe: same DPP stance — the
    broadcast query side supplies the cell prune as
    dynamicpruningexpression on the store scan; no sort-merge join
    anywhere near the store."""
    from otel_arrow_collector_spark.operators import similarity as sim
    plans = {"ann_ivf_probe": _plan(spark, "ann_ivf_probe"),
             # r15: multiprobe's result is memoized/truncated — pin the
             # DPP claim on its raw builder plan
             "multiprobe_builder": _df_plan(
                 spark, sim._ann_ivf_multiprobe_build(spark, SF_SMALL))}
    for name, plan in plans.items():
        assert re.search(
            r"PartitionFilters: \[[^\]]*dynamicpruning[^\]]*cid", plan), name
        assert "SortMergeJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_k_core_result_is_node_sized(spark):
    """graph_k_core: the registered query's plan reads the memoized
    (node, deg) core relation — node-sized scan, one presentation
    sort, nothing edge-sized recomputed per call."""
    plan = _plan(spark, "graph_k_core")
    assert "Scan ExistingRDD" in plan or "InMemoryTableScan" in plan \
        or "LocalTableScan" in plan
    assert "Generate explode" not in plan       # no basket re-expansion


def test_weighted_median_single_window_shuffle(spark):
    """q98: one group-keyed exchange serves both window frames; the
    aggregation collapses in the same partitioning — 2 shuffles max
    (window + final group), no join."""
    plan = _plan(spark, "q98_weighted_median")
    assert "Join" not in plan
    # 2 real shuffles (window + presentation sort); formatted explain
    # lists each node twice
    assert _shuffles(plan) <= 4


def test_gini_broadcasts_customer_dimension(spark):
    """q99: the customer dimension joins broadcast; the rank window
    and final aggregate share the nation partitioning."""
    plan = _plan(spark, "q99_revenue_gini")
    assert "BroadcastHashJoin" in plan
    assert "windowspecdefinition(nation" in plan


def test_readability_is_pure_scan_map(spark):
    """text_readability: row-local regexp counters — no shuffle before
    the presentation sort, no join, no Python."""
    plan = _plan(spark, "text_readability")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    # presentation sort only; formatted explain lists each node twice
    assert _shuffles(plan) <= 2


def test_link_prediction_broadcasts_degrees_anti_joins_edges(spark):
    """graph_link_prediction: the node-sized degree relation joins
    broadcast onto the wedge stream; existing edges leave via an
    anti-join; candidates come from the wedge join only — no
    pair-squared cartesian, no Python."""
    plan = _plan(spark, "graph_link_prediction")
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_zipf_rank_window_follows_topn(spark):
    """text_zipf: the corpus collapses through a map-side-combined
    hash agg into a TakeOrdered top-N; the rank window runs AFTER the
    top-N cut (over ZIPF_TOPN rows), never over the full vocabulary."""
    plan = _plan(spark, "text_zipf")
    assert "TakeOrderedAndProject" in plan
    assert plan.index("TakeOrderedAndProject") \
        < plan.index("windowspecdefinition")
    assert "Join" not in plan


def test_heaps_ntile_sorts_ids_not_text(spark):
    """text_heaps: the ntile sort ingests the PROJECTED doc_id column
    only — the text payload reaches the explode branch, not the
    single-partition window sort."""
    plan = _plan(spark, "text_heaps")
    m = re.search(r"Arguments: \[doc_id[^\]]*ASC[^\]]*\], false, 0",
                  plan)
    assert m, "expected a doc_id-only global sort feeding ntile"
    assert "windowspecdefinition" in plan
    assert "explode(split" in plan


def test_pareto_ntile_runs_on_aggregated_relation(spark):
    """q100_pareto_curve: the global NTILE ingests the per-customer
    AGGREGATE (customer-count-sized), not raw orders — the hash agg
    precedes the window; no join anywhere."""
    plan = _plan(spark, "q100_pareto_curve")
    assert plan.index("HashAggregate") < plan.index("windowspecdefinition")
    assert "Join" not in plan


def test_allpairs_prefix_no_cartesian_docwise_window(spark):
    """dedup_allpairs_prefix: the rank window partitions by doc_id (a
    per-doc sort, never a global one); candidates come from the prefix
    equality self-join — no cartesian anywhere, no Python; the PPJoin
    positional filter (r15 floor hunt, PREFIX_PROFILE_r15) sits in the
    plan so the 60% verify-input cut cannot silently regress.

    r15 opt round: the memoized prefix relation is materialized with a
    TRUNCATED plan (cache_registry.materialized), so the rank-window
    claim is asserted on the builder's pre-truncation plan and the
    join/filter claims on the query plan built on top of it."""
    plan = _plan(spark, "dedup_allpairs_prefix")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # r16: both PPJoin filters run per colliding row BEFORE the
    # candidate distinct (the length filter's greatest<=2*least form
    # became the equivalent 3*least >= n1+n2 cross-multiplication, so
    # only least() appears)
    assert "least(" in plan
    from otel_arrow_collector_spark.operators import dedup as dd
    pref = dd._build_prefix_relation(spark, SF_SMALL)
    bplan = pref._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "windowspecdefinition(doc_id" in bplan
    assert "CartesianProduct" not in bplan


def test_memoized_relations_have_truncated_plans(spark):
    """r15 optimization-round pin: relations memoized through
    cache_registry.materialized() must present a TRUNCATED plan to
    consumers (a scan of the materialized partitions), not their full
    build lineage.  Before the fix the two-epoch incremental chain's
    plan printed ~110k lines and every dependent action paid ~4 s of
    single-threaded Catalyst re-optimization (guide §3.3 / §7.3 —
    planning time as the bottleneck); truncated, the steady-state
    collect is ~0.1 s.  Guard: the steady-state physical plan of the
    epoch-2 consumer stays scan-shaped and small."""
    plan = _plan(spark, "dedup_incremental_epoch2")
    assert "Scan ExistingRDD" in plan
    assert len(plan.splitlines()) < 120
    plan2 = _plan(spark, "dedup_minhash_lsh")
    assert "Scan ExistingRDD" in plan2
    assert len(plan2.splitlines()) < 120


def test_ewma_hop_explosion_not_range_join(spark):
    """q101_ewma_smoothing: the smoother is explode(sequence) + hash
    re-agg (the hop-explosion identity) joined back by EQUALITY — no
    range join, no nested-loop, no window frame over the corpus."""
    plan = _plan(spark, "q101_ewma_smoothing")
    # Catalyst constant-folds sequence(0, W) to a literal array
    assert re.search(r"Generate.*\n.*|explode\(", plan) and "explode(" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_theta_union_stays_k_row_bounded(spark):
    """sketch_theta_union: same bounded shape as intersection/AnotB —
    per-set rank window, the pair-union window partitions by the pair
    key (<= 2K rows per pair), one |types| x |types| theta-pair frame
    as the only cross product."""
    plan = _plan(spark, "sketch_theta_union")
    # set-keyed rank window pinned on the shared builder; the pair-key
    # union window is consumer-side and stays visible
    assert "windowspecdefinition(type_a" in plan
    assert plan.count("CartesianProduct") <= 1


def test_bootstrap_is_explode_plus_one_agg(spark):
    """sample_bootstrap: B resamples are ONE constant-factor explode
    into one map-side-combinable hash agg — no join, no window, no
    Python; weights are literal-threshold comparisons."""
    plan = _plan(spark, "sample_bootstrap")
    assert "explode(" in plan
    assert "Join" not in plan
    assert "windowspecdefinition" not in plan
    assert "BatchEvalPython" not in plan


def test_time_to_convert_windows_are_cohort_keyed(spark):
    """q102: the rank/count windows partition by the week cohort —
    never a global (single-partition) sort over converters."""
    plan = _plan(spark, "q102_time_to_convert")
    # r16 _report_sort: the FINAL |weeks|-row presentation sort runs in
    # one post-shuffle partition (no range-sampling re-execution), so a
    # SinglePartition exchange exists at the very top; the WINDOWS must
    # still be cohort-keyed — every window spec's first argument is the
    # week partition key (an ORDER BY or frame there means global)
    firsts = re.findall(r"windowspecdefinition\(([^,]*),", plan)
    assert firsts and all(re.fullmatch(r"week#\d+L?", f) for f in firsts)
    assert "CartesianProduct" not in plan


def test_path_trigrams_one_window_exchange(spark):
    """q103: both LEAD offsets ride ONE per-user window exchange; the
    1-row total joins broadcast (a broadcast nested-loop over one row
    is the legal dedup_cc_keep shape); TakeOrdered top-25."""
    plan = _plan(spark, "q103_path_trigrams")
    assert plan.count("windowspecdefinition") >= 1
    assert "TakeOrderedAndProject" in plan
    # one real window exchange + the agg exchanges; never two sorts
    # over the corpus for the two offsets
    assert plan.count("Sort [user_id") <= 2  # formatted lists nodes twice


def test_modularity_broadcasts_labels_onto_edges(spark):
    """graph_modularity: the |nodes|-row label relation joins
    broadcast onto the edge list (both endpoints); the 1-row m frame
    is the only cross product; no Python."""
    plan = _plan(spark, "graph_modularity")
    assert "BroadcastHashJoin" in plan
    # the 1-row m frame only (formatted explain lists each node twice)
    assert plan.count("CartesianProduct") + plan.count(
        "BroadcastNestedLoopJoin") <= 2
    assert "BatchEvalPython" not in plan


def test_incremental_dedup_semi_joins_touched_docs_only(spark):
    """dedup_incremental (round-11 flagship): verification text is
    re-read via a SEMI join on the candidate id set (bounded by
    candidates, never the corpus); the band join is an equality hash
    join on uniform md5 keys — no cartesian, no Python, no global
    window.

    r15 opt round: the memoized verified relation is plan-truncated, so
    the semi-join claim is pinned on the UN-memoized verify chain (the
    plan the builder materializes once per session)."""
    plan = _plan(spark, "dedup_incremental")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "windowspecdefinition" not in plan
    from pyspark.sql import functions as F

    from otel_arrow_collector_spark.operators import dedup as dd
    from otel_arrow_collector_spark.sources.tables import load_table
    d = load_table(spark, SF_SMALL, "documents")
    ver = dd.incremental_pairs(
        spark, d, dd._incr_store(spark, SF_SMALL),
        d.filter(F.expr(dd._SPARK_SHARD)))
    bplan = ver._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert re.search(r"LeftSemi", bplan)
    assert "CartesianProduct" not in bplan
    assert "BatchEvalPython" not in bplan
    assert "windowspecdefinition" not in bplan


def test_skyline_window_runs_on_collapsed_prices(spark):
    """q104_skyline: the one unpartitioned window runs AFTER the
    price-collapse hash agg (distinct price points, not parts) — the
    plan must show the aggregate feeding the window, and the survivors
    join is an equality join."""
    plan = _plan(spark, "q104_skyline")
    assert "windowspecdefinition(price_cents" in plan
    assert "CartesianProduct" not in plan
    # the window input is the collapsed relation: max(p_size) agg
    assert re.search(r"max\(p_size", plan)


def test_market_basket_joins_on_order_key(spark):
    """q105_market_basket: the pair self-join keys on the ORDER (never
    brand x brand over the fact); brand counts and the 1-row total
    broadcast."""
    plan = _plan(spark, "q105_market_basket")
    assert "CartesianProduct" not in plan
    assert re.search(r"\[o(#\d+L?)?\]", plan) or "o#" in plan
    assert "BroadcastHashJoin" in plan


def test_range_search_prunes_cells_and_has_no_result_window(spark):
    """ann_range_search: the cell store scan carries a Dynamic
    Partition Pruning cid filter derived from the broadcast (query,
    cell) join (JVM-side directory pruning — verdict r14 ask #3), and
    the only window in the plan is the |queries| x |centroids| probe
    ranking (windowspecdefinition(q_id..., one node printed twice by
    formatted explain) — the candidate/result side has NO window:
    threshold filtering is map-side."""
    plan = _plan(spark, "ann_range_search")
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("cid" in ln and "dynamicpruning" in ln for ln in pf)
    assert plan.count("windowspecdefinition") == plan.count(
        "windowspecdefinition(q_id")
    assert "CartesianProduct" not in plan


def test_reservoir_is_stratum_keyed_topk(spark):
    """sample_reservoir: the rank window partitions by lang (never a
    global sort) and nothing python-side appears."""
    plan = _plan(spark, "sample_reservoir")
    assert "windowspecdefinition(lang" in plan
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan


def test_assortativity_single_global_agg(spark):
    """graph_assortativity: ONE global aggregate row; the degree joins
    are equality joins; no window, no cartesian."""
    plan = _plan(spark, "graph_assortativity")
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan


def test_source_drift_frame_is_bounded_cross(spark):
    """text_source_drift: the only cross products are the 50-row top
    terms and the 1-row corpus total broadcast onto the |sources| frame
    — bounded models, not data; token counting is hash aggs."""
    plan = _plan(spark, "text_source_drift")
    assert "BatchEvalPython" not in plan
    # formatted explain prints nodes twice: 2 crosses x 2 = 4 max
    assert (plan.count("CartesianProduct")
            + plan.count("BroadcastNestedLoopJoin")) <= 4


# --- round 12 additions -----------------------------------------------------

def test_bitmap_distinct_is_two_hash_aggs_no_window(spark):
    """q108: the bitmap path is bit_or hash aggs (map-side combinable)
    — no window, no cartesian; the day join is an equality join."""
    plan = _plan(spark, "q108_bitmap_distinct")
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"bit_or\(", plan)


def test_user_streaks_window_is_user_keyed_topk(spark):
    """q109: gaps-and-islands window partitions by user_id over the
    COLLAPSED distinct-days relation; the global top-20 is
    TakeOrderedAndProject, never a full sort."""
    plan = _plan(spark, "q109_user_streaks")
    assert "windowspecdefinition(user_id" in plan
    assert "SinglePartition" not in plan
    assert "TakeOrderedAndProject" in plan


def test_corr_screen_is_one_moment_agg(spark):
    """q110: one map-side-combinable moment aggregation over the fact —
    no window, no join of any kind."""
    plan = _plan(spark, "q110_corr_screen")
    assert "windowspecdefinition" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_twa_window_is_type_day_keyed(spark):
    """q111: the LEAD window partitions by (event_type, day) — bounded
    frames, never the fact table in one partition."""
    plan = _plan(spark, "q111_time_weighted_avg")
    assert "windowspecdefinition(event_type" in plan
    assert "SinglePartition" not in plan


def test_minhash_estimate_error_stays_candidate_bounded(spark):
    """dedup_minhash_estimate_error: signatures recomputed only behind
    a semi-join on candidate ids (LeftSemi in plan), no window, no
    cartesian, no python."""
    plan = _plan(spark, "dedup_minhash_estimate_error")
    assert "LeftSemi" in plan
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_two_hop_reach_is_equality_joins_topk(spark):
    """graph_two_hop_reach: the expansion is equality joins on the
    middle node; top-20 via TakeOrderedAndProject; no window."""
    plan = _plan(spark, "graph_two_hop_reach")
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_bloom_fpr_bits_join_is_broadcast(spark):
    """sketch_bloom_fpr: the probe joins the <= 2^16-row bit relation
    broadcast (the filter IS the broadcastable artifact); the only
    nested-loop joins are the 1-row stat crosses."""
    plan = _plan(spark, "sketch_bloom_fpr")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan


def test_simpson_diversity_is_pure_hash_aggs(spark):
    """text_simpson_diversity: two hash-agg levels, nothing else — no
    window, no join, no python."""
    plan = _plan(spark, "text_simpson_diversity")
    assert "windowspecdefinition" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_epoch2_reuses_store_and_has_no_cartesian(spark):
    """dedup_incremental_epoch2: the composed path stays an equality
    band join + semi-join verify — no cartesian, no window, no
    python anywhere in the two-epoch plan."""
    plan = _plan(spark, "dedup_incremental_epoch2")
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan
    assert "BatchEvalPython" not in plan


# --- round 12 second wave ----------------------------------------------------

def test_interval_coverage_windows_share_user_key(spark):
    """q112: both windows (prefix-max end, running island id) partition
    by (event_type, user_id) — high cardinality, never SinglePartition;
    the aggregates after are joins-free."""
    plan = _plan(spark, "q112_interval_coverage")
    assert "windowspecdefinition(event_type" in plan
    # r16 _report_sort: a SinglePartition exchange now exists for the
    # |event_type|-row final sort; the windows themselves must stay
    # keyed — no window spec without the (event_type, ...) key
    import re as _re
    assert not [m for m in _re.findall(
        r"windowspecdefinition\(([^,]*)", plan)
        if "event_type" not in m]
    assert "Join" not in plan


def test_autocorrelation_collapses_before_joining(spark):
    """q113: the fact table collapses to |days| rows in one hash agg;
    the 7-lag explode is a broadcast nested-loop of a 7-row relation
    (never a cartesian of facts) and no window exists anywhere."""
    plan = _plan(spark, "q113_autocorrelation")
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_herfindahl_joins_are_broadcast(spark):
    """q114: supplier dim and the |nations|-row totals both join
    broadcast; no window."""
    plan = _plan(spark, "q114_herfindahl")
    assert "BroadcastHashJoin" in plan
    assert "windowspecdefinition" not in plan
    assert "SortMergeJoin" not in plan


def test_winsorize_one_window_broadcast_thresholds(spark):
    """q115: the rank/count window is grp-keyed; the |groups|-row
    threshold relation joins back broadcast."""
    plan = _plan(spark, "q115_winsorize")
    assert "windowspecdefinition(grp" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_systematic_window_is_stratum_keyed_no_join(spark):
    """sample_systematic: one source-keyed rank window, zero joins."""
    plan = _plan(spark, "sample_systematic")
    assert "windowspecdefinition(source" in plan
    assert "SinglePartition" not in plan
    assert "Join" not in plan


def test_ngram_novelty_single_scan_no_join(spark):
    """text_ngram_novelty: trigrams built map-side and the corpus
    scanned ONCE — side membership is a flag aggregation, so the plan
    carries NO join of any kind (the anti-join form's dual-referenced
    subtree was reuse-planned differently by volume — a stress-harness
    catch), no window, no python."""
    plan = _plan(spark, "text_ngram_novelty")
    assert "Join" not in plan
    assert "windowspecdefinition" not in plan
    assert "BatchEvalPython" not in plan


def test_vocab_overlap_equality_joins_only(spark):
    """text_vocab_overlap: distinct-collapse hash aggs + equality
    joins on token/source — no window, no cartesian, no python."""
    plan = _plan(spark, "text_vocab_overlap")
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_bmp_roundtrip_is_single_map_stage(spark):
    """multimodal_bmp_roundtrip: one Arrow-batched python map over the
    bounded doc slice — no join, no window."""
    plan = _plan(spark, "multimodal_bmp_roundtrip")
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "windowspecdefinition" not in plan


def test_diversity_sample_window_is_cell_keyed(spark):
    """curation_diversity_sample: the top-M rank partitions by cid
    (the cell), never SinglePartition; no cartesian beyond the
    broadcast centroid crosses inside the memoized assignment."""
    plan = _plan(spark, "curation_diversity_sample")
    assert "windowspecdefinition(cid" in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_band_sensitivity_semi_join_no_window(spark):
    """dedup_band_sensitivity: truth membership via LeftSemi on the
    candidate pairs; equality band joins only; no window anywhere."""
    plan = _plan(spark, "dedup_band_sensitivity")
    assert "LeftSemi" in plan
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan


def test_zorder_study_is_map_plus_hash_aggs(spark):
    """q116: the Morton interleave is a codegen map expression; the
    only join is the 1-row min/max broadcast cross; no window."""
    plan = _plan(spark, "q116_zorder_pruning")
    assert "windowspecdefinition" not in plan
    assert "BroadcastNestedLoopJoin" in plan   # the 1-row stats cross
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_fuzzy_match_collapses_dp_to_distinct_names(spark):
    """q117: the edit-distance DP runs only on the distinct-name cross
    (a broadcast nested-loop of vocabulary-sized relations); the part-
    level path is pure equi-joins with the qualified name pairs
    broadcast — no cartesian, no DP on the fact path, deterministic
    TakeOrdered top-200."""
    plan = _plan(spark, "q117_fuzzy_name_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan   # names x names only
    assert "BroadcastHashJoin" in plan         # membership equi-joins
    assert "TakeOrderedAndProject" in plan
    assert "levenshtein" in plan
    assert "BatchEvalPython" not in plan


def test_exp_histogram_merge_has_no_window(spark):
    """q36/q48 (merge_exp_histograms): the per-series target scale is a
    partial-aggregable groupBy joined back to the points — NOT a window
    over the series key, whose exchange+sort would serialize onto
    n_distinct(series) tasks at scale (r13: removed the WindowExec).
    AQE may or may not broadcast the tiny targets side at this SF, so
    only the absence of the window is pinned."""
    for name in ("q36_exp_histogram_merge", "q48_exp_histogram_quantile"):
        plan = _plan(spark, name)
        if name == "q36_exp_histogram_merge":
            assert "windowspecdefinition" not in plan
        else:  # q48 keeps the post-merge cumulative-rank windows only
            assert len(re.findall(r"\(\d+\) Window\b", plan)) <= 2
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan


def test_histogram_merge_bucket_sum_is_partial_aggregable(spark):
    """q41 (merge_histograms): the bucket addition is a plain
    partial_sum over exploded (series, index, c) rows — mappers
    pre-combine, so the exchange carries per-mapper partials bounded by
    |series| x |buckets|, never the point rows.  The only
    ObjectHashAggregates left are the post-merge array rebuild and the
    tiny scalar firsts (r13 rewrite; the old collect_list-of-arrays form
    shipped every point's array through the shuffle)."""
    plan = _plan(spark, "q41_histogram_merge")
    assert "partial_sum(c" in plan            # combinable bucket sum
    assert "windowspecdefinition" not in plan
    assert "BatchEvalPython" not in plan


def test_q110_corr_screen_is_single_agg(spark):
    """q110 (exact Pearson screen): ONE map-side-combinable 7-moment
    hash agg over the fact scan, then per-row arithmetic — no join, no
    window, no Python, exactly one shuffle (the 3-group exchange).  The
    r13 local-bench "5.8s regression" was host-band adjacency
    (CORR_PROFILE_r14.json); this pin makes a REAL plan regression loud
    instead of leaving the family to timing archaeology."""
    plan = _plan(spark, "q110_corr_screen")
    assert "partial_count" in plan and "partial_sum" in plan
    assert "Join" not in plan
    assert "windowspecdefinition" not in plan
    assert "BatchEvalPython" not in plan
    # two physical exchanges: the 3-group agg + the final ORDER BY
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2


def test_text_dedup_spans_shares_span_relation(spark):
    """text_dedup_spans (r14, the prefix-relation treatment at span
    grain): ONE parquet scan total — the span pipeline is derived once
    into the h-partitioned cached substrate (_span_relation), both join
    sides read the InMemoryRelation, the document-frequency aggregate
    runs exchange-free on the preserved hashpartitioning(h), and the
    small df side joins broadcast, never sort-merge."""
    plan = _plan(spark, "text_dedup_spans")
    # r15: the span substrate is plan-truncated — the consumer plan must
    # contain NO parquet scan at all (both join sides read the cached
    # relation; the single derivation is inside the memo build)
    scans = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scans) == 0, scans
    assert "InMemoryTableScan" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_pca_covariance_is_single_scan_single_agg(spark):
    """embedding_pca_covariance (r14): ONE parquet scan into ONE
    map-side-combinable hash agg on the D*(D+1)/2 pair keys — both
    first moments ride the pair structs, so there is no dim-sum join
    back (a second corpus scan at 100 TB), no window, no Python."""
    plan = _plan(spark, "embedding_pca_covariance")
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1
    assert "Join" not in plan
    assert "partial_sum" in plan
    assert "windowspecdefinition" not in plan
    assert "BatchEvalPython" not in plan
    assert len(set(re.findall(r"\(\d+\) Exchange", plan))) <= 2
