"""Plan-quality regression tests: the 100 TB design claims, asserted
against the physical plan so a refactor cannot silently regress them
(the executable form of README's "Design for 100 TB" audit).

Plans are inspected at SF_SMALL — plan SHAPE (pushdown, join strategy,
shuffle count, top-k operator) is scale-invariant for these queries; only
AQE's broadcast-vs-SMJ choice depends on size, and the assertions below
avoid pinning choices AQE may legitimately flip at scale.

Every pin reads the plan as a tree (``plan_tree``), each operator once:
counts are operator counts, and a predicate names the operator and the
field it is about.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from otel_arrow_collector_spark import plan_tree, query_run
from otel_arrow_collector_spark.operators import cache_registry as cr
from otel_arrow_collector_spark.operators import collect_registry
from otel_arrow_collector_spark.operators import dedup as dd
from otel_arrow_collector_spark.operators import graph as g
from otel_arrow_collector_spark.operators import similarity as sim
from otel_arrow_collector_spark.operators import sketches as sk
from otel_arrow_collector_spark.sources.tables import load_table
from tests.conftest import SF_SMALL

QUERIES, _ = collect_registry()


def _tree(spark, name: str) -> plan_tree.Node:
    return plan_tree.read(QUERIES[name](spark, SF_SMALL))


def _exprs(p) -> list[str]:
    return [e for n in p.walk() for e in n.exprs]


def _pushed(p) -> list[str]:
    return [f for s in p.scans() for f in s.pushed_filters]


def _aggs(p) -> set[tuple[str, str]]:
    """(mode, aggregate) pairs of every aggregation operator."""
    return {a for n in p.walk() for a in n.aggs}


def _keyed(node, col: str) -> bool:
    """``col`` (qualified or not) is one of ``node``'s keys."""
    return any(k == col or k.endswith("." + col) for k in node.keys)


def _window_keys(p) -> list[str | None]:
    """The first partition key of each window; None if unpartitioned."""
    return [w.keys[0] if w.keys else None for w in p.windows()]


def _single(p) -> list[plan_tree.Node]:
    """Exchanges that move every row into one partition."""
    return [e for e in p.exchanges() if e.partitioning == "single"]


def _typed_joins(p, join_type: str) -> list[plan_tree.Node]:
    return [j for j in p.joins() if j.join_type == join_type]


def _generators(p) -> list[str]:
    return [g.exprs[0] for g in p.find("Generate")]


def _dpp_on_cid(p) -> bool:
    """A scan prunes its cid directories with a dynamic-pruning filter."""
    return any(f.startswith("dynamicpruningexpression(") and "cid" in f
               for s in p.scans() for f in s.partition_filters)


def test_filter_pushdown_reaches_scan(spark):
    p = _tree(spark, "q02_filter")
    assert "event_type = 'error'" in _pushed(p)
    # column pruning: only the three projected columns are read
    scans = p.scans()
    assert scans and all(set(s.read_schema) <= {
        ("event_id", "long"), ("event_type", "string"), ("value", "double"),
        ("ts", "long")} for s in scans)


def test_global_topk_is_take_ordered_not_full_sort(spark):
    assert _tree(spark, "q23_topk").find("TakeOrderedAndProject")


def test_star_join_broadcasts_dimensions(spark):
    p = _tree(spark, "q13_star_join")
    assert p.count("BroadcastHashJoin") >= 2
    assert not p.find("SortMergeJoin")


def test_asof_join_is_single_shuffle_merge_plan(spark):
    """q37's whole point: NOT a quadratic range join.  One exchange for
    the per-user window + the final top-k; no join operator at all."""
    p = _tree(spark, "q37_asof_join")
    assert not p.joins()                          # no theta/range join
    assert len(p.exchanges()) <= 1
    assert p.find("TakeOrderedAndProject")


def test_quantization_is_pure_scan_map(spark):
    """int8 quantization must stay inside the scan: zero non-broadcast
    exchanges before the final top-k."""
    p = _tree(spark, "embedding_quantize_int8")
    assert not p.exchanges()
    assert p.find("TakeOrderedAndProject")


def test_pack_sequences_window_is_partitioned_by_shard(spark):
    """Packing must never run a global (single-partition) window: the
    window spec partitions by the shard key."""
    p = _tree(spark, "pack_sequences")
    assert "shard" in _window_keys(p)
    assert not _single(p)


def test_contamination_benchmark_side_is_broadcast(spark):
    assert _tree(spark, "contamination_screen").find("BroadcastHashJoin")


def test_bigram_lm_model_joins_are_not_cartesian(spark):
    p = _tree(spark, "text_bigram_lm")
    assert not p.find("CartesianProduct", "BroadcastNestedLoopJoin")


def test_tpch_shape_joins_push_filters_and_broadcast_dims(spark):
    """q43/q44: every selective filter reaches its parquet scan, dims are
    broadcast (the fact side is never the build side of a dim join), and
    the grouped top-k is TakeOrdered, not a global sort."""
    p = _tree(spark, "q43_shipping_priority")
    pushed = _pushed(p)
    assert "c_mktsegment = 'BUILDING'" in pushed
    assert any(f.startswith("l_shipdate > ") for f in pushed)
    assert any(f.startswith("o_orderdate < ") for f in pushed)
    assert p.find("TakeOrderedAndProject")
    p5 = _tree(spark, "q44_local_supplier_volume")
    assert "r_name = 'ASIA'" in _pushed(p5)
    assert p5.count("BroadcastHashJoin") >= 3     # region/nation/dims/sup
    assert not p5.find("CartesianProduct")


def test_salted_join_spreads_hot_keys(spark):
    """q45's salted join must key the shuffle on (key, salt), not the raw
    hot key alone, and still contain no cartesian expansion."""
    p = _tree(spark, "q45_salted_hot_key_join")
    assert any(_keyed(j, "__salt") for j in p.joins())   # salt participates
    assert not p.find("CartesianProduct")


def test_retention_cohort_has_no_global_window(spark):
    """q46 is joins+aggs only — a window over all users would be the
    wrong plan at scale."""
    p = _tree(spark, "q46_retention_cohorts")
    assert not p.windows()
    assert not _single(p)


def test_hopping_window_explodes_before_single_agg(spark):
    """q47: constant-factor explode then ONE aggregation — no self-join,
    no range join."""
    p = _tree(spark, "q47_hopping_window")
    assert any(g.startswith("explode(array(") for g in _generators(p))
    assert not p.joins()


def test_df_topterms_distinct_is_per_document(spark):
    """text_df_topterms: array_distinct runs inside the scan-side project
    (per-doc dedup before explode), so the shuffle carries unique tokens
    per doc, not every token occurrence."""
    p = _tree(spark, "text_df_topterms")
    assert any(g.startswith("explode(array_distinct(")
               for g in _generators(p))
    assert not p.find("CartesianProduct")


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
    logical = plan_tree.read(df._jdf.queryExecution().analyzed())
    assert not logical.find("ResolvedHint")
    # physically: either AQE broadcast or a co-partitioned shuffle join
    assert plan_tree.read(df).find(
        "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")


def test_q60_disjunction_pushes_per_side_conjuncts_to_scans(spark):
    """q60 (TPC-H Q19 shape): Catalyst extracts the per-side conjuncts of
    the OR-of-ANDs and pushes them into BOTH parquet scans (quantity
    ranges to lineitem, brand/size to part) — the scans must not read
    unfiltered."""
    pushed = _pushed(_tree(spark, "q60_disjunctive_revenue"))
    assert any("l_quantity" in f for f in pushed)
    assert any("p_brand" in f for f in pushed)


def test_q59_qualifier_reuses_fact_shuffle_key(spark):
    """q59 (TPC-H Q17 shape): the per-part AVG qualifier and the probe
    join both key on l_partkey — no cartesian, no global window."""
    p = _tree(spark, "q59_small_quantity_revenue")
    assert not p.find("CartesianProduct")
    assert not p.windows()


def test_q63_pair_filter_date_range_pushed_one_fact_shuffle(spark):
    """q63 (TPC-H Q7 shape): the ship-date range is a pushed scan filter;
    supplier/customer/nation broadcast; lineitem-orders is the only
    fact-fact join (no cartesian from the two nation roles)."""
    p = _tree(spark, "q63_volume_shipping")
    assert any("l_shipdate" in f for f in _pushed(p))
    assert p.count("BroadcastHashJoin") >= 3
    assert not p.find("CartesianProduct")


def test_q64_like_filter_stays_on_dim_side(spark):
    """q64 (TPC-H Q9 shape): the LIKE-filtered part dim broadcasts; the
    fact scan reads only the join/measure columns."""
    p = _tree(spark, "q64_product_profit")
    assert p.find("BroadcastHashJoin")
    li = [dict(s.read_schema) for s in p.scans()]
    li = [cols for cols in li if "l_extendedprice" in cols]
    assert li and all("l_returnflag" not in cols for cols in li)  # pruned


def test_q65_pairs_distinct_before_argmin_joinback(spark):
    """q65 (TPC-H Q2 shape): the distinct (type, supplier) pair set is
    aggregated BEFORE the min join-back, so everything after the fact
    scan runs on dim-sized data; no window over the fact."""
    p = _tree(spark, "q65_min_acctbal_supplier")
    # r16: the grouped-MIN + join-back became a per-type WINDOW over the
    # one distinct pass (Catalyst elided the distinct under the MIN
    # branch, so the join-back form ran the fact pass twice); the window
    # partitions by p_type over the dim-sized distinct relation
    assert "p_type" in _window_keys(p)
    assert not p.find("CartesianProduct")


def test_q66_both_fact_branches_are_pruned_aggregations(spark):
    """q66 (TPC-H Q11 shape): the scalar-total branch recomputes the
    per-part aggregation (the textbook Q11 plan — engines evaluate the
    CTE per consumer); what must hold is that BOTH fact scans prune to
    the 3 needed columns and nothing goes cartesian."""
    p = _tree(spark, "q66_important_parts")
    for s in p.scans():
        names = {c for c, _ in s.read_schema}
        assert names <= {"l_partkey", "l_quantity", "l_extendedprice",
                         "p_partkey", "p_name"}, names
    assert not p.find("CartesianProduct")


def test_q68_single_fact_join_no_triple_self_join(spark):
    """q68 (TPC-H Q21 shape): the aggregation-first reformulation keeps
    exactly ONE lineitem-orders join — the textbook EXISTS/NOT-EXISTS
    plan would scan and join the fact three times."""
    p = _tree(spark, "q68_waiting_suppliers")
    li = [s for s in p.scans() if any("lineitem" in x for x in s.paths)]
    assert len(li) == 1                               # one fact scan
    assert not p.find("CartesianProduct")
    assert p.count("SortMergeJoin", "ShuffledHashJoin",
                   "BroadcastHashJoin") >= 2      # fact join + supplier


def test_perplexity_gate_vocab_is_broadcast_no_window(spark):
    """text_perplexity_gate: the sample vocabulary joins broadcast-side
    (model, not data) and the funnel is pure aggregation — no windows,
    no cartesian."""
    p = _tree(spark, "text_perplexity_gate")
    assert p.find("BroadcastHashJoin")
    assert not p.windows()
    assert not p.find("CartesianProduct")


def test_dedup_semantic_blocks_by_cell_no_all_pairs(spark):
    """dedup_semantic: the query joins per-cell counts on the k-means cell
    id (the LEFT OUTER funnel join) and never cross-joins the corpus.
    The memoized pair relation is plan-truncated here; its pair join is
    pinned by test_semantic_pair_join_is_cell_keyed."""
    p = _tree(spark, "dedup_semantic")
    assert not p.find("CartesianProduct")
    assert any(_keyed(j, "cid") for j in p.joins())


def test_semantic_pair_join_is_cell_keyed(spark):
    """The within-cell pair join of the semantic dedup family keys on the
    k-means cell id first — n²/k per cell, never all pairs — read on the
    raw builder plan, before the memo truncates it."""
    bp = plan_tree.read(dd._build_semantic_pairs(spark, SF_SMALL))
    assert any(j.keys[:1] == ("cid",) for j in bp.joins())
    assert not bp.find("CartesianProduct")


def test_dedup_semantic_keep_is_pair_bounded(spark):
    """dedup_semantic_keep (r15): consumes the memoized cid-keyed pair
    relation (cache/table scan, no corpus re-join in the query plan)
    and its CC labels — candidate-bounded, no cartesian."""
    p = _tree(spark, "dedup_semantic_keep")
    assert not p.find("CartesianProduct")
    assert p.find("RDDScan", "InMemoryTableScan", "LocalTableScan")


def test_dedup_semantic_cell_audit_is_one_agg(spark):
    """dedup_semantic_cell_audit: two stacked hash aggs (cid, then the
    one-row rollup) over the assignments — no window, no corpus-corpus
    join, linear at every scale (the stress row's contract).  The only
    join the un-cached lineage may show is the assignment stage's 8-row
    centroid broadcast (the ann_knn_graph adjudication)."""
    p = _tree(spark, "dedup_semantic_cell_audit")
    assert not p.find("SortMergeJoin", "CartesianProduct")
    assert not p.windows()


def test_q69_pure_scan_aggregate_no_join_no_window(spark):
    """q69 (TPC-H Q6 shape): the canonical scan-filter-agg — every
    predicate pushes into the parquet scan, no join/window anywhere, and
    the only exchange is the 1-row partial→final agg hand-off."""
    p = _tree(spark, "q69_forecast_revenue")
    assert not p.joins()
    assert not p.windows()
    pushed = _pushed(p)
    assert any("l_shipdate" in f for f in pushed)
    assert any("l_quantity" in f for f in pushed)
    assert len(p.exchanges()) <= 1
    scans = p.scans()
    assert scans and all({c for c, _ in s.read_schema} <= {
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}
        for s in scans)


def test_q70_single_scan_single_window_no_join(spark):
    """q70: the rank cut and the outlier aggregation share one window
    over ONE fact scan — no threshold re-join, no fact self-join."""
    p = _tree(spark, "q70_tail_latency_outliers")
    assert len(p.scans()) == 1
    assert not p.joins()


def test_q71_funnel_is_single_aggregate_no_window_no_join(spark):
    """q71: N funnel stages = N conditional aggregates over ONE fact
    scan; no join, no window, shuffle only on user_id + the final 1-row
    agg."""
    p = _tree(spark, "q71_conversion_funnel")
    assert not p.joins()
    assert not p.windows()
    assert len(p.scans()) == 1


def test_q72_islands_share_one_window_exchange(spark):
    """q72: the lag change-flag and the running-sum island id use the
    SAME window spec, so the plan carries ONE wide exchange (plus the
    final TakeOrdered) — not one sort+shuffle per window function."""
    p = _tree(spark, "q72_scd2_intervals")
    assert len(p.scans()) == 1
    assert not p.joins()
    assert len(p.exchanges()) <= 2                # window + agg


def test_q76_sparse_series_broadcast_no_dense_grid(spark):
    """q76: the query series joins by broadcast on bucket; no cartesian
    user x bucket grid, no full-outer blowup."""
    p = _tree(spark, "q76_timeseries_similarity")
    assert p.find("BroadcastHashJoin")
    assert not p.find("CartesianProduct")
    assert not _typed_joins(p, "FULL OUTER")


def test_q74_range_frame_single_window_exchange(spark):
    """q74: both RANGE-frame aggregates share one (user_id, sec) window
    partitioning — no second sort/exchange, no join."""
    p = _tree(spark, "q74_range_frame_moving_sum")
    assert not p.joins()
    assert len(p.scans()) == 1
    assert any(" RANGE BETWEEN " in e for w in p.windows() for e in w.exprs)


def test_q75_constant_explode_single_agg(spark):
    """q75: the exp->explicit conversion is a constant-factor expansion
    (sequence explode) into ONE hash aggregation — no joins beyond the
    union, no windows."""
    p = _tree(spark, "q75_exp_to_explicit_histogram")
    assert not p.windows()
    assert not p.find("SortMergeJoin", "CartesianProduct")


def test_q77_windows_run_over_aggregated_rows(spark):
    """q77: the NTILE windows consume the per-user AGGREGATE (fact
    scanned once), never the raw event stream."""
    p = _tree(spark, "q77_rfm_segments")
    assert len(p.scans()) == 2                    # events + tmax branch
    assert not p.find("CartesianProduct")


def test_q78_cube_is_single_expand_exchange(spark):
    """q78: CUBE compiles to one Expand + one aggregation exchange, not
    2^k scans."""
    p = _tree(spark, "q78_cube_matrix")
    assert p.find("Expand")
    assert len(p.scans()) == 1


def test_q79_median_shares_group_partitioning(spark):
    """q79: rank + count + final aggregation all key on event_type — no
    join, a single scan."""
    p = _tree(spark, "q79_exact_median")
    assert not p.joins()
    assert len(p.scans()) == 1


def test_q80_sessionization_single_data_shuffle(spark):
    """q80: lag flag + island id + both aggregations all key on
    user_id prefixes — ONE data shuffle plus the presentation sort."""
    p = _tree(spark, "q80_sessionization")
    assert not p.joins()
    assert len(p.exchanges()) <= 2                # 1 hash + 1 sort
    assert "user_id" in _window_keys(p)


def test_q81_transitions_no_self_join(spark):
    """q81: consecutive-pair extraction is a LEAD window, never a
    rank-to-rank self-join of the fact."""
    p = _tree(spark, "q81_event_transitions")
    assert not p.joins()
    assert "user_id" in _window_keys(p)
    assert len(p.scans()) == 1


def test_q82_anomaly_preaggregates_before_window(spark):
    """q82: the trailing-stats window runs over the (type, day)
    aggregate, not the raw fact; everything keys on event_type."""
    p = _tree(spark, "q82_anomaly_days")
    assert not p.joins()
    assert len(p.scans()) == 1
    assert "event_type" in _window_keys(p)


def test_q83_sweep_line_not_range_join(spark):
    """q83: interval concurrency via boundary deltas — keyed equi-join
    + keyed window only; no range/theta join, nothing quadratic."""
    p = _tree(spark, "q83_intransit_peak")
    assert not p.find("CartesianProduct", "BroadcastNestedLoopJoin")
    assert "suppkey" in _window_keys(p)


def test_q84_brand_growth_broadcasts_part_dim(spark):
    p = _tree(spark, "q84_brand_growth")
    assert p.find("BroadcastHashJoin")
    assert not p.find("SortMergeJoin")
    assert "p_brand" in _window_keys(p)


def test_ann_knn_graph_is_cell_bounded(spark):
    """ann_knn_graph: the vector-vector self-join is KEYED on the IVF
    cell id (cid equi-join), and the only nested-loop joins are the
    deliberate 8-row centroid broadcasts of the assignment stage — the
    corpus never cross-joins itself."""
    p = _tree(spark, "ann_knn_graph")
    assert not p.find("CartesianProduct")
    # r15: the memoized edge relation is plan-truncated; the cid-keyed
    # self-join + per-src rank window are pinned on the raw builder plan
    bp = plan_tree.read(sim._build_knn_edges(spark, SF_SMALL))
    assert any(j.keys[:1] == ("cid",) for j in bp.joins())
    assert "src" in _window_keys(bp)
    assert not bp.find("CartesianProduct")


def test_hll_registers_map_side_combinable(spark):
    """The HLL sketch's scale claim: one hash-aggregate pair (partial +
    final) over a map-side expression — a single exchange whose payload
    is at most 256 register rows, and no Python in the plan."""
    p = _tree(spark, "sketch_hll_registers")
    # 2 exchanges = partial->final agg + output sort
    assert len(p.exchanges()) <= 2
    assert p.find("HashAggregate")
    assert not p.python_nodes()                   # pure JVM expressions
    assert not p.joins()


def test_cms_counters_single_aggregation(spark):
    """CMS construction: explode to d cells then ONE aggregation; the
    shuffle payload is bounded by d*w cells, not the input size."""
    p = _tree(spark, "sketch_cms_counters")
    assert p.find("Generate")                     # the explode
    assert len(p.exchanges()) <= 2                # agg + output sort
    assert not p.python_nodes()


def test_triangle_count_no_cartesian(spark):
    """Wedge-join triangle counting must stay a pair of equi-joins on
    the (capped) edge list — never a cartesian/BNLJ expansion.  r15:
    the wedge join lives in the memoized _tri_counts builder, so the
    equi-join pin reads the raw builder plan."""
    p = _tree(spark, "graph_triangle_count")
    assert not p.find("CartesianProduct")
    assert p.find("TakeOrderedAndProject")        # top-20, no full sort
    bp = plan_tree.read(g.triangle_participation(
        g._edges_cached(spark, SF_SMALL)))
    assert not bp.find("CartesianProduct", "BroadcastNestedLoopJoin")


def test_pagerank_scan_once_iterate_local(spark):
    """graph_pagerank's scale shape: the fact table feeds ONE
    distributed transition-edge aggregation (consumed by collect() at
    build time), and the returned plan is the driver-computed rank
    relation — no iteration joins over re-scanned facts at all."""
    p = _tree(spark, "graph_pagerank")
    assert not p.joins()
    assert not p.scans()                          # local relation only


def test_pagerank_distributed_broadcasts_rank_side(spark):
    """The distributed operator (node-cardinality graphs): each
    iteration joins the big edge list against the tiny rank table —
    the rank side must broadcast (no SMJ on edges)."""
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 2), ("a", "c", 1)],
        "src string, dst string, w long")
    p = plan_tree.read(g.pagerank_fixed_point(edges))
    assert p.find("BroadcastHashJoin")
    assert not p.find("CartesianProduct")


def test_bloom_screen_broadcasts_filter_bits(spark):
    """The Bloom screen's reason to exist: the probe side joins a
    broadcast bitset, never a shuffled benchmark set."""
    p = _tree(spark, "bloom_screen")
    assert p.find("BroadcastHashJoin")
    assert not p.find("CartesianProduct")


def test_weighted_sample_no_global_sort_before_topk(spark):
    """Per-stratum top-k via window rank: one exchange on the stratum
    key; priorities are map-side expressions (no Python)."""
    p = _tree(spark, "sample_weighted")
    assert not p.python_nodes()
    assert p.windows()


def test_pq_codes_map_only_encoding(spark):
    """PQ encoding's scale claim: the codebook is inlined literals, so
    encoding is pure map work — no join, no Python; the only exchanges
    are the 64-row histogram aggregation + output sort."""
    p = _tree(spark, "ann_pq_codes")
    assert not p.joins()
    assert not p.python_nodes()
    assert len(p.exchanges()) <= 2                # agg + sort


def test_html_extract_is_pure_column_regex(spark):
    """The HTML strip must stay JVM-side regexp codegen — no Python
    worker anywhere in the plan, no join."""
    p = _tree(spark, "text_html_extract")
    assert not p.python_nodes()
    assert not p.joins()


def test_warc_and_tar_extract_plan_shape(spark):
    """Ingest paths: WARC is map-only (one Python stage, no join);
    tar bundles shuffle ONCE on the bundle key."""
    assert not _tree(spark, "warc_extract").joins()
    p = _tree(spark, "tar_extract")
    assert not p.joins()
    assert len(p.exchanges()) <= 2                # bundle group + sort


def test_cc_pipeline_pure_jvm_funnel(spark):
    """The capstone's claim: the whole extract->langid->gate funnel is
    JVM column work — no Python stage, no join, one aggregation."""
    p = _tree(spark, "cc_pipeline")
    assert not p.python_nodes()
    assert not p.joins()


def test_cc_pipeline_warc_one_python_stage(spark):
    """The WARC-fronted capstone: exactly ONE Arrow-batched Python map
    stage (the binary leg), the rest stays JVM column work — no join,
    no second Python worker anywhere."""
    p = _tree(spark, "cc_pipeline_warc")
    assert not p.joins()
    assert len(p.python_nodes()) == 1


def test_dq_expectations_fk_check_broadcasts(spark):
    """q88's FK orphan check must be a broadcast anti-join on the
    small dimension, and no check materializes violating rows."""
    assert not _tree(spark, "q88_dq_expectations").find("CartesianProduct")


def test_cross_corpus_no_cartesian(spark):
    p = _tree(spark, "dedup_cross_corpus")
    assert not p.find("CartesianProduct", "BroadcastNestedLoopJoin")


def test_gap_fill_single_window_exchange(spark):
    """q86: the moving average runs over the dense spine with one
    window exchange on the series key."""
    p = _tree(spark, "q86_gap_filled_daily")
    assert len(p.windows()) >= 1
    assert not p.find("CartesianProduct")


def test_quantile_binned_windows_over_bin_cardinality(spark):
    """sketch_quantile_binned's scale claim: the only windows run over
    the PRE-AGGREGATED (grp, bin) rows (<= groups x 256), never the
    fact table — the fact-side work is one map + one hash aggregation."""
    p = _tree(spark, "sketch_quantile_binned")
    # windows partition by grp (bin-cardinality input); no global sort
    # of fact rows feeds any single partition
    assert "grp" in _window_keys(p)
    assert not p.find("CartesianProduct")


def test_q92_slo_burn_windows_over_hour_cardinality(spark):
    """q92: ONE fact scan collapses to |hours| rows before the 6h
    trailing window — the window's single partition is calendar-bounded
    (720 rows/month at any corpus size), same adjudication as q86."""
    p = _tree(spark, "q92_slo_burn")
    assert not p.joins()
    assert len(p.scans()) == 1
    # the one window is ordered by hour over the hourly aggregate
    assert [w for w in p.windows()
            if "hour ASC NULLS FIRST" in w.exprs and w.find("HashAggregate")]


def test_source_overlap_joins_are_keyed(spark):
    """dedup_source_overlap: the only nested-loop join is the 16-row
    seed broadcast; the signature pairwise compare keys on seed
    (|sources|^2 x 16 cells) and the exact audit self-join keys on the
    content hash — the corpus never cross-joins itself."""
    p = _tree(spark, "dedup_source_overlap")
    assert not p.find("CartesianProduct")
    # the sig subtree plans twice (a/b sides of the pairwise compare);
    # both nested-loop joins are the 16-row seed broadcast
    nested = p.count("BroadcastNestedLoopJoin")
    assert nested <= 2
    assert len(_typed_joins(p, "CROSS")) == nested


def test_q93_scd2_single_user_exchange(spark):
    """q93: change flag, island id, run aggregate, and valid_to LEAD all
    key on user_id (prefix rule) — no join, one fact scan."""
    p = _tree(spark, "q93_scd2_merge")
    assert not p.joins()
    assert len(p.scans()) == 1
    assert "user_id" in _window_keys(p)


def test_q94_attribution_one_pass(spark):
    """q94: both attribution models ride ONE user_id window over ONE
    fact scan (stack unpivot, no self-join, no per-purchase lookup)."""
    p = _tree(spark, "q94_attribution")
    assert not p.joins()
    assert len(p.scans()) == 1
    assert "user_id" in _window_keys(p)


def test_cooccur_vocab_is_partial_topk(spark):
    """text_cooccur_lift: the vocabulary cap is a TakeOrderedAndProject
    (per-partition partial top-k, never a global sort of the vocab) and
    the only nested-loop join is the broadcast 1-row n_docs aggregate;
    the per-doc pair join keys on doc_id."""
    p = _tree(spark, "text_cooccur_lift")
    assert not p.find("CartesianProduct")
    assert p.find("TakeOrderedAndProject")
    nested = p.count("BroadcastNestedLoopJoin")
    assert nested <= 1                            # the 1-row n_docs side
    assert len(_typed_joins(p, "CROSS")) == nested


def test_loo_accuracy_reuses_knn_edge_substrate(spark):
    """ann_loo_accuracy: the 1-NN comes from the MEMOIZED kNN edge list
    (InMemoryTableScan of _knn_edges — the per-cell pairs pass is
    shared with ann_knn_graph, never re-run), and the two label joins
    are keyed — the corpus never cross-joins itself."""
    p = _tree(spark, "ann_loo_accuracy")
    assert not p.find("CartesianProduct")
    assert p.find("InMemoryTableScan")            # the cached edge relation
    # r15: the substrate is plan-truncated, so the per-cell pairs pass
    # must NOT reappear in the consumer plan (reuse, not rebuild) — the
    # cid join/window pins live in test_ann_knn_graph_is_cell_bounded
    assert "src" not in _window_keys(p)


def test_resample_one_python_stage(spark):
    """multimodal_resample: both WAV legs and both resample passes run
    inside ONE Arrow-batched Python map stage — no join, no shuffle
    beyond the final presentation sort."""
    p = _tree(spark, "multimodal_resample")
    assert not p.joins()
    assert len(p.python_nodes()) == 1


def test_q95_cdc_one_key_exchange_no_join(spark):
    """q95: the LWW rank and the version count share ONE user_id
    exchange; the MERGE anti-join is folded into the rank-1 filter."""
    p = _tree(spark, "q95_cdc_apply")
    assert not p.joins()
    assert len(p.scans()) == 1
    assert "user_id" in _window_keys(p)


def test_embedding_drift_is_sum_aggregates_no_order_pin(spark):
    """embedding_drift: integer quantized SUMs (map-side combinable
    hash aggregates) — no window, no order-pinned collect of corpus
    rows (the bounded collect_list groups 64 dim-sums, not vectors),
    no cartesian; the half joins key on label."""
    p = _tree(spark, "embedding_drift")
    assert not p.find("CartesianProduct")
    assert not p.windows()
    assert p.find("Generate")                     # posexplode of dims


def test_phash_dedup_candidates_are_band_keyed(spark):
    """multimodal_phash_dedup: ONE Arrow-batched hash stage; candidate
    pairs come from an equi-join on (band index, band value) — the
    image corpus never cross-joins itself."""
    p = _tree(spark, "multimodal_phash_dedup")
    assert not p.find("CartesianProduct", "BroadcastNestedLoopJoin")
    # the memoized hash relation runs synthesize_media + the hash map
    # ONCE (persisted, cache-registry keyed); all four consumer sites
    # read the one InMemoryRelation
    assert p.find("InMemoryTableScan")


def test_q96_changepoint_windows_over_day_cardinality(spark):
    """q96: the fact collapses to |types| x |days| rows before the
    CUSUM window (calendar-bounded, q92's adjudication); the totals
    join is a broadcast; the argmax is a hash-agg, not a second
    window."""
    p = _tree(spark, "q96_changepoint")
    assert not p.find("CartesianProduct", "SortMergeJoin")
    assert "event_type" in _window_keys(p)


def test_data_uri_extraction_is_pure_jvm_map(spark):
    """multimodal_data_uri: regex capture + base64 decode stay
    ENTIRELY JVM-side — zero Python stages, zero joins, one scan."""
    p = _tree(spark, "multimodal_data_uri")
    assert not p.joins()
    assert not p.python_nodes()
    assert len(p.scans()) == 1


def test_keywords_windows_per_document(spark):
    """text_keywords: the salience rank windows PER DOCUMENT (bounded
    partitions), the df join is keyed, and n_docs is the broadcast
    1-row aggregate — never a global vocabulary sort."""
    p = _tree(spark, "text_keywords")
    assert not p.find("CartesianProduct")
    assert "doc_id" in _window_keys(p)
    assert p.count("BroadcastNestedLoopJoin") <= 1    # the 1-row n_docs
    assert p.find("TakeOrderedAndProject")        # presentation top-600


def test_cell_quality_is_one_aggregation_pass(spark):
    """ann_ivf_cell_quality: one pass over the persisted assignments
    with the centroid model carried in the projection (no join);
    per-cid hash aggregates."""
    p = _tree(spark, "ann_ivf_cell_quality")
    assert not p.joins()
    # r16: the global (total, cells) frame is a window over the
    # |cells|-row stats relation — the agg + crossJoin form re-ran the
    # whole cosine pass (cached subtrees never stage-reuse); the window
    # input is <= |cells| rows, so SinglePartition there is dim-sized
    assert len(p.windows()) >= 1


def test_adc_topk_is_map_plus_take_ordered(spark):
    """ann_pq_adc_topk: the 1-row query broadcasts (nested-loop against
    one row is the != join), fold work stays in the scan projection,
    and the top-k is TakeOrdered — never a global sort of the corpus."""
    p = _tree(spark, "ann_pq_adc_topk")
    assert p.find("TakeOrderedAndProject")
    assert not p.find("CartesianProduct")
    # r15 array-LUT form: the 64-entry distance table collapses to ONE
    # broadcast row and scoring is pure codegen subscripts — the only
    # joins are 1-row nested-loop broadcasts (query-id filter + LUT),
    # no per-row hash join, no explode, no re-aggregation
    assert p.count("BroadcastNestedLoopJoin") <= 3
    assert not p.find("Generate")                 # no code explode
    assert not p.find("SortMergeJoin")


def _theta_pairs_sketch_rows(p) -> None:
    """The bounded shape every theta query shares: ONE self cross join
    (a broadcast nested loop, |types|² rows at most) whose two sides
    each scan the memoized sketch rows (event_type, n, th, hvs); no
    cartesian, no sort-merge join, and no consumer-side window (the
    set-keyed rank window runs once, inside the sketch build)."""
    [pair] = p.find("BroadcastNestedLoopJoin")
    for side in pair.children:
        [scan] = side.find("InMemoryTableScan")
        assert scan.children[0].exprs == ("event_type", "n", "th", "hvs")
    assert not p.find("CartesianProduct", "SortMergeJoin")
    assert not p.windows()


def test_theta_intersection_pairs_sketch_rows(spark):
    """sketch_theta_intersection: the pair side reads the sketch rows
    and counts common hashes with array_intersect.  The sketch rows are
    one plan: the set-keyed rank window (bounded at THETA_K hashes per
    set) then one groupBy on its partition key, so no exchange in
    between."""
    p = _tree(spark, "sketch_theta_intersection")
    _theta_pairs_sketch_rows(p)
    assert any("array_intersect(" in e for e in _exprs(p))
    dist = (load_table(spark, SF_SMALL, "events")
            .select("event_type", "user_id").distinct())
    assert "event_type" in _window_keys(
        plan_tree.read(sk._build_theta_kept(dist)))
    build = plan_tree.read(sk._build_theta_sketches(dist))
    assert {a.keys for a in build.find("ObjectHashAggregate")} == {
        ("event_type",)}
    assert [e.keys for e in build.exchanges()].count(("event_type",)) == 1


def test_dedup_spans_joins_on_span_hash(spark):
    """text_dedup_spans: the df join keys on the md5 span hash (near-
    uniform), reassembly is a hash aggregate — no window over the
    corpus, no cartesian, no Python."""
    p = _tree(spark, "text_dedup_spans")
    assert not p.find("CartesianProduct")
    assert not p.windows()
    assert any("array_sort(" in e for e in _exprs(p))   # in-group reassembly
    assert not p.python_nodes()


def test_label_propagation_broadcasts_label_relation(spark):
    """graph_label_propagation: each iteration joins the edge list
    against the |nodes|-row label side as a BROADCAST (the PageRank
    adjudication) with per-node rank windows; no cartesian."""
    p = _tree(spark, "graph_label_propagation")
    assert not p.find("CartesianProduct")
    e = g._edges_cached(spark, SF_SMALL)
    edges = (e.select(F.col("u").alias("src"), F.col("v").alias("dst"))
             .unionAll(e.select(F.col("v").alias("src"),
                                F.col("u").alias("dst"))))
    bp = plan_tree.read(g._build_lpa_labels(edges))
    assert bp.count("BroadcastHashJoin") >= 2
    assert "node" in _window_keys(bp)


def test_contamination_probe_broadcasts_bench_side(spark):
    """dedup_contamination: the benchmark shingle relation broadcasts
    (eval sets are MBs; the corpus side must not shuffle for the probe
    join); no cartesian."""
    p = _tree(spark, "dedup_contamination")
    assert not p.find("CartesianProduct")
    assert p.find("BroadcastHashJoin")


def test_q97_seasonal_spike_baseline_is_broadcast(spark):
    """q97: the fact collapses to the hourly spine in ONE hash
    aggregate; the |types| x 24 baseline joins back as a broadcast —
    no sort-merge join, no window, no cartesian."""
    p = _tree(spark, "q97_seasonal_spike")
    assert not p.find("CartesianProduct", "SortMergeJoin")
    assert p.find("BroadcastHashJoin")
    assert not p.windows()


def test_er_blocking_join_is_keyed_never_all_pairs(spark):
    """dedup_er_blocking: the candidate self-join is an EQUALITY join
    on the blocking key — a cartesian/nested-loop plan would mean the
    blocking stopped bounding the verify."""
    p = _tree(spark, "dedup_er_blocking")
    assert not p.find("CartesianProduct", "BroadcastNestedLoopJoin")


def test_bpe_merge_explodes_vocab_not_corpus(spark):
    """text_bpe_merge: the pair explode runs over the DISTINCT-WORD
    aggregate (vocab-sized), i.e. AFTER the word-count hash aggregate —
    never over the raw corpus rows."""
    p = _tree(spark, "text_bpe_merge")
    # the pair explode's direct child in the plan tree is the vocab
    # hash aggregate (explode-over-aggregate, not explode-over-scan)
    assert any(g.children[0].name == "HashAggregate"
               for g in p.find("Generate"))
    assert p.find("TakeOrderedAndProject")


def test_url_canonicalize_is_pure_scan_map(spark):
    """text_url_canonicalize: regexp/array surgery is one whole-stage
    map over the scan — zero joins, zero Python, zero windows."""
    p = _tree(spark, "text_url_canonicalize")
    assert not p.joins()
    assert not p.python_nodes()
    assert not p.windows()


def test_er_clusters_edge_join_is_keyed(spark):
    """dedup_er_clusters: the match-pair generation stays a keyed
    blocked join (the er_blocking contract) feeding the CC labeler."""
    p = _tree(spark, "dedup_er_clusters")
    assert not p.find("CartesianProduct", "BroadcastNestedLoopJoin")


def test_length_buckets_single_scan_single_agg(spark):
    """curation_length_buckets: CASE-ladder map + one hash aggregate —
    no join, no window, no Python."""
    p = _tree(spark, "curation_length_buckets")
    assert not p.joins()
    assert not p.windows()
    assert not p.python_nodes()


def test_mojibake_is_pure_scan_map(spark):
    """text_mojibake: damage synthesis + regexp_count stay one codegen
    map over the scan — no join, no window, no Python."""
    p = _tree(spark, "text_mojibake")
    assert not p.joins()
    assert not p.windows()
    assert not p.python_nodes()


def test_dataset_card_windows_lang_frame_only(spark):
    """curation_dataset_card: the top-1 window runs over the tiny
    (source, lang) aggregate, never the corpus; the three signal
    branches join on source (broadcast-size) with no cartesian."""
    p = _tree(spark, "curation_dataset_card")
    assert not p.find("CartesianProduct")
    assert "source" in _window_keys(p)


def test_pq_recall_both_rankings_are_take_ordered(spark):
    """ann_pq_recall: ADC ranking and exact ground truth are each a
    broadcast-query scan map + TakeOrdered(k) — no cartesian, no global
    sort, no Python stage."""
    p = _tree(spark, "ann_pq_recall")
    assert p.count("TakeOrderedAndProject") >= 2
    assert not p.find("CartesianProduct")
    assert not p.python_nodes()


def test_er_queries_share_one_candidate_build(spark):
    """The three ER queries share ONE memoized candidate relation (the
    _knn_edges discipline): after any of them runs, the registry holds
    the 'dedup.er_pairs' artifact and the others consume it instead of
    re-running the quadratic-in-block verify.  (The relation cannot be
    plan-pinned on er_clusters/er_canonical: connected_components'
    driver fast path consumes it at BUILD time, so the returned plan
    only contains the label table.)"""
    QUERIES["dedup_er_blocking"](spark, SF_SMALL).collect()
    assert any(k[0] == "dedup.er_pairs" for k in cr._ENTRIES)
    before = [k for k in cr._ENTRIES if k[0] == "dedup.er_pairs"]
    QUERIES["dedup_er_canonical"](spark, SF_SMALL).collect()
    after = [k for k in cr._ENTRIES if k[0] == "dedup.er_pairs"]
    assert before == after            # reused, not rebuilt under a new key
    assert not _tree(spark, "dedup_er_canonical").find("CartesianProduct")


def test_exif_audit_single_python_stage_no_join(spark):
    """multimodal_exif_audit: exactly one Arrow-batched Python stage
    over the doc slice + one hash aggregate — zero joins."""
    p = _tree(spark, "multimodal_exif_audit")
    assert not p.joins()
    assert p.count("MapInPandas") <= 1


def test_snapshot_diff_is_two_scans_one_join(spark):
    """curation_snapshot_diff: each snapshot leg is a pushed-filter scan
    and the compare is ONE keyed full-outer join — no cartesian, no
    window over the corpus."""
    p = _tree(spark, "curation_snapshot_diff")
    assert not p.find("CartesianProduct")
    assert not p.windows()


def test_waterfill_windows_only_the_source_frame(spark):
    """curation_budget_waterfill: the corpus collapses to |sources| rows
    in ONE hash aggregate; windows and the 1-row cut broadcast operate
    on that tiny frame only (a SinglePartition window over ~20 rows is
    the intended plan, NOT a smell here)."""
    p = _tree(spark, "curation_budget_waterfill")
    # the corpus-side aggregate happens before any window (the 1-row cut
    # crossJoin may legally plan as a broadcast nested loop — the
    # dedup_cc_keep adjudication)
    windows = p.windows()
    assert windows and all(w.find("HashAggregate") for w in windows)


def test_calibration_single_scan_single_agg(spark):
    """text_classifier_calibration: both signals (score + gopher keep)
    are column expressions over ONE scan; one hash aggregate on the bin
    — no join, no window, no Python."""
    p = _tree(spark, "text_classifier_calibration")
    assert not p.joins()
    assert not p.windows()
    assert not p.python_nodes()


def test_theta_difference_pairs_sketch_rows(spark):
    """sketch_theta_difference: the same bounded shape as the
    intersection sketch over ordered pairs; the AnotB survivors are an
    array_except of the two sketch rows, not an anti join."""
    p = _tree(spark, "sketch_theta_difference")
    _theta_pairs_sketch_rows(p)
    assert any("array_except(" in e for e in _exprs(p))
    assert not _typed_joins(p, "LEFT ANTI")


def test_ivf_pq_prunes_cells_and_stays_codegen(spark):
    """ann_ivf_pq: candidates come from the cell-partitioned PQ code
    store (pq_code_store — codes precomputed at index-build time, r15)
    with a Dynamic Partition Pruning directory filter derived from the
    broadcast (query, cell) join — JVM-side prune, zero per-query
    driver collects (verdict r14 ask #3); the ADC fold is codegen (no
    Python, no per-pair re-encode); the per-query rank windows on
    q_id; no corpus-sized cartesian and no full-store shuffle (the
    store side joins broadcast, never sort-merge)."""
    p = _tree(spark, "ann_ivf_pq")
    assert _dpp_on_cid(p)
    assert not p.find("SortMergeJoin")
    assert "q_id" in _window_keys(p)
    assert not p.python_nodes()


def test_pq_searches_read_code_store_not_encoder(spark):
    """ann_pq_adc_topk / ann_ivf_pq serve from the materialized PQ code
    store (8 ints/candidate) instead of folding the encoder argmin at
    query time: the plan scans the spark_graft_pq_ parquet store and
    contains NO encoder fold (its 'Infinity' seed literal is the
    encoder's signature — ADC-only plans never materialize it)."""
    for name in ("ann_pq_adc_topk", "ann_ivf_pq"):
        p = _tree(spark, name)
        assert any("spark_graft_pq_" in path
                   for s in p.scans() for path in s.paths), name
        assert not any("Infinity" in e for e in _exprs(p)), name


def test_ivf_probe_and_multiprobe_prune_via_dpp(spark):
    """ann_ivf_probe / ann_ivf_multiprobe: same DPP stance — the
    broadcast query side supplies the cell prune as
    dynamicpruningexpression on the store scan; no sort-merge join
    anywhere near the store."""
    plans = {"ann_ivf_probe": _tree(spark, "ann_ivf_probe"),
             # r15: multiprobe's result is memoized/truncated — pin the
             # DPP claim on its raw builder plan
             "multiprobe_builder": plan_tree.read(
                 sim._ann_ivf_multiprobe_build(spark, SF_SMALL))}
    for name, p in plans.items():
        assert _dpp_on_cid(p), name
        assert not p.find("SortMergeJoin", "BatchEvalPython"), name


def test_k_core_result_is_node_sized(spark):
    """graph_k_core: the registered query's plan reads the memoized
    (node, deg) core relation — node-sized scan, one presentation
    sort, nothing edge-sized recomputed per call."""
    p = _tree(spark, "graph_k_core")
    assert p.find("RDDScan", "InMemoryTableScan", "LocalTableScan")
    assert not [g for g in _generators(p)
                if g.startswith("explode(")]      # no basket re-expansion


def test_weighted_median_single_window_shuffle(spark):
    """q98: one group-keyed exchange serves both window frames; the
    aggregation collapses in the same partitioning — 2 shuffles max
    (window + final group), no join."""
    p = _tree(spark, "q98_weighted_median")
    assert not p.joins()
    assert len(p.exchanges()) <= 2                # window + sort


def test_gini_broadcasts_customer_dimension(spark):
    """q99: the customer dimension joins broadcast; the rank window
    and final aggregate share the nation partitioning."""
    p = _tree(spark, "q99_revenue_gini")
    assert p.find("BroadcastHashJoin")
    assert "nation" in _window_keys(p)


def test_readability_is_pure_scan_map(spark):
    """text_readability: row-local regexp counters — no shuffle before
    the presentation sort, no join, no Python."""
    p = _tree(spark, "text_readability")
    assert not p.joins()
    assert not p.python_nodes()
    assert len(p.exchanges()) <= 1                # presentation sort only


def test_link_prediction_broadcasts_degrees_anti_joins_edges(spark):
    """graph_link_prediction: the node-sized degree relation joins
    broadcast onto the wedge stream; existing edges leave via an
    anti-join; candidates come from the wedge join only — no
    pair-squared cartesian, no Python."""
    p = _tree(spark, "graph_link_prediction")
    assert p.find("BroadcastHashJoin")
    assert _typed_joins(p, "LEFT ANTI")
    assert not p.find("CartesianProduct")
    assert not p.python_nodes()


def test_zipf_rank_window_follows_topn(spark):
    """text_zipf: the corpus collapses through a map-side-combined
    hash agg into a TakeOrdered top-N; the rank window runs AFTER the
    top-N cut (over ZIPF_TOPN rows), never over the full vocabulary."""
    p = _tree(spark, "text_zipf")
    windows = p.windows()
    assert windows and all(w.find("TakeOrderedAndProject") for w in windows)
    assert not p.joins()


def test_heaps_ntile_sorts_ids_not_text(spark):
    """text_heaps: the ntile sort ingests the PROJECTED doc_id column
    only — the text payload reaches the explode branch, not the
    single-partition window sort."""
    p = _tree(spark, "text_heaps")
    sorts = [s for s in p.find("Sort") if s.exprs[0].startswith("doc_id ")]
    # a doc_id sort feeds ntile, and all it reads is doc_id
    assert {c for s in sorts for scan in s.scans()
            for c, _ in scan.read_schema} == {"doc_id"}
    assert p.windows()
    assert any(g.startswith("explode(split(") for g in _generators(p))


def test_pareto_ntile_runs_on_aggregated_relation(spark):
    """q100_pareto_curve: the global NTILE ingests the per-customer
    AGGREGATE (customer-count-sized), not raw orders — the hash agg
    precedes the window; no join anywhere."""
    p = _tree(spark, "q100_pareto_curve")
    windows = p.windows()
    assert windows and all(w.find("HashAggregate") for w in windows)
    assert not p.joins()


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
    p = _tree(spark, "dedup_allpairs_prefix")
    assert not p.find("CartesianProduct")
    assert not p.python_nodes()
    # r16: both PPJoin filters run per colliding row BEFORE the
    # candidate distinct (the length filter's greatest<=2*least form
    # became the equivalent 3*least >= n1+n2 cross-multiplication, so
    # only least() appears) — as the prefix join's condition
    assert any("least(" in e for j in p.joins() for e in j.exprs)
    bp = plan_tree.read(dd._build_prefix_relation(spark, SF_SMALL))
    assert "doc_id" in _window_keys(bp)
    assert not bp.find("CartesianProduct")


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
    for name in ("dedup_incremental_epoch2", "dedup_minhash_lsh"):
        p = _tree(spark, name)
        assert p.find("RDDScan"), name
        assert len(list(p.walk())) < 16, name


def test_ewma_hop_explosion_not_range_join(spark):
    """q101_ewma_smoothing: the smoother is explode(sequence) + hash
    re-agg (the hop-explosion identity) joined back by EQUALITY — no
    range join, no nested-loop, no window frame over the corpus."""
    p = _tree(spark, "q101_ewma_smoothing")
    # Catalyst constant-folds sequence(0, W) to a literal array
    assert any(g.startswith("explode(") for g in _generators(p))
    assert not p.find("BroadcastNestedLoopJoin", "CartesianProduct")


def test_theta_union_pairs_sketch_rows(spark):
    """sketch_theta_union: the same bounded shape as intersection/AnotB;
    the pair union is one sorted array (<= 2K hashes) per pair, not a
    union/distinct chain under a pair-keyed window."""
    p = _tree(spark, "sketch_theta_union")
    _theta_pairs_sketch_rows(p)
    assert any("array_sort(" in e and "array_union(" in e
               for e in _exprs(p))
    assert not p.find("Union")


@pytest.mark.parametrize("name", ["sketch_theta_intersection",
                                  "sketch_theta_difference",
                                  "sketch_theta_union",
                                  "sketch_theta_jaccard"])
def test_theta_warm_query_runs_at_most_5_jobs(spark, name):
    """With the sketch rows and the exact audit memoized, a theta query
    is one pair join over them: at most 5 jobs (from 14-28 when the
    algebra was joins and windows over K rows per set)."""
    QUERIES[name](spark, SF_SMALL).collect()        # substrates built
    assert query_run.run(spark, name, QUERIES[name], SF_SMALL).jobs <= 5


def test_bootstrap_is_explode_plus_one_agg(spark):
    """sample_bootstrap: B resamples are ONE constant-factor explode
    into one map-side-combinable hash agg — no join, no window, no
    Python; weights are literal-threshold comparisons."""
    p = _tree(spark, "sample_bootstrap")
    assert any(g.startswith("explode(") for g in _generators(p))
    assert not p.joins()
    assert not p.windows()
    assert not p.python_nodes()


def test_time_to_convert_windows_are_cohort_keyed(spark):
    """q102: the rank/count windows partition by the week cohort —
    never a global (single-partition) sort over converters."""
    p = _tree(spark, "q102_time_to_convert")
    # r16 _report_sort: the FINAL |weeks|-row presentation sort runs in
    # one post-shuffle partition (no range-sampling re-execution), so a
    # SinglePartition exchange exists at the very top; the WINDOWS must
    # still be cohort-keyed — every window's first partition key is
    # the week (an unpartitioned window means global)
    keys = _window_keys(p)
    assert keys and all(k == "week" for k in keys)
    assert not p.find("CartesianProduct")


def test_path_trigrams_one_window_exchange(spark):
    """q103: both LEAD offsets ride ONE per-user window exchange; the
    1-row total joins broadcast (a broadcast nested-loop over one row
    is the legal dedup_cc_keep shape); TakeOrdered top-25."""
    p = _tree(spark, "q103_path_trigrams")
    assert len(p.windows()) >= 1
    assert p.find("TakeOrderedAndProject")
    # one sort per window (the window plans twice: counts + the 1-row
    # total); never two sorts over the corpus for the two offsets
    user_sorts = [s for s in p.find("Sort")
                  if s.exprs[0].startswith("user_id ")]
    assert len(user_sorts) <= min(2, len(p.windows()))


def test_modularity_broadcasts_labels_onto_edges(spark):
    """graph_modularity: the |nodes|-row label relation joins
    broadcast onto the edge list (both endpoints); the 1-row m frame
    is the only cross product; no Python."""
    p = _tree(spark, "graph_modularity")
    assert p.find("BroadcastHashJoin")
    # the 1-row m frame only
    assert p.count("CartesianProduct", "BroadcastNestedLoopJoin") <= 1
    assert not p.python_nodes()


def test_incremental_dedup_semi_joins_touched_docs_only(spark):
    """dedup_incremental (round-11 flagship): verification text is
    re-read via a SEMI join on the candidate id set (bounded by
    candidates, never the corpus); the band join is an equality hash
    join on uniform md5 keys — no cartesian, no Python, no global
    window.

    r15 opt round: the memoized verified relation is plan-truncated, so
    the semi-join claim is pinned on the UN-memoized verify chain (the
    plan the builder materializes once per session)."""
    p = _tree(spark, "dedup_incremental")
    assert not p.find("CartesianProduct")
    assert not p.python_nodes()
    assert not p.windows()
    d = load_table(spark, SF_SMALL, "documents")
    bp = plan_tree.read(dd.incremental_pairs(
        spark, d, dd._incr_store(spark, SF_SMALL),
        d.filter(F.expr(dd._SPARK_SHARD))))
    assert _typed_joins(bp, "LEFT SEMI")
    assert not bp.find("CartesianProduct")
    assert not bp.python_nodes()
    assert not bp.windows()


def test_skyline_window_runs_on_collapsed_prices(spark):
    """q104_skyline: the one unpartitioned window runs AFTER the
    price-collapse hash agg (distinct price points, not parts) — the
    plan must show the aggregate feeding the window, and the survivors
    join is an equality join."""
    p = _tree(spark, "q104_skyline")
    [w] = p.windows()
    assert w.keys == () and "price_cents ASC NULLS FIRST" in w.exprs
    assert not p.find("CartesianProduct")
    # the window input is the collapsed relation: max(p_size) agg
    assert any(a == "max(p_size)" for _, a in _aggs(w))


def test_market_basket_joins_on_order_key(spark):
    """q105_market_basket: the pair self-join keys on the ORDER (never
    brand x brand over the fact); brand counts and the 1-row total
    broadcast."""
    p = _tree(spark, "q105_market_basket")
    assert not p.find("CartesianProduct")
    assert any(_keyed(j, "o") for j in p.joins())
    assert p.find("BroadcastHashJoin")


def test_range_search_prunes_cells_and_has_no_result_window(spark):
    """ann_range_search: the cell store scan carries a Dynamic
    Partition Pruning cid filter derived from the broadcast (query,
    cell) join (JVM-side directory pruning — verdict r14 ask #3), and
    the only window in the plan is the |queries| x |centroids| probe
    ranking (partitioned by q_id) — the candidate/result side has NO
    window: threshold filtering is map-side."""
    p = _tree(spark, "ann_range_search")
    assert _dpp_on_cid(p)
    assert all(k == "q_id" for k in _window_keys(p))
    assert not p.find("CartesianProduct")


def test_reservoir_is_stratum_keyed_topk(spark):
    """sample_reservoir: the rank window partitions by lang (never a
    global sort) and nothing python-side appears."""
    p = _tree(spark, "sample_reservoir")
    assert "lang" in _window_keys(p)
    assert not _single(p)
    assert not p.python_nodes()


def test_assortativity_single_global_agg(spark):
    """graph_assortativity: ONE global aggregate row; the degree joins
    are equality joins; no window, no cartesian."""
    p = _tree(spark, "graph_assortativity")
    assert not p.windows()
    assert not p.find("CartesianProduct")


def test_source_drift_frame_is_bounded_cross(spark):
    """text_source_drift: the only cross products are the 50-row top
    terms and the 1-row corpus total broadcast onto the |sources| frame
    — bounded models, not data; token counting is hash aggs."""
    p = _tree(spark, "text_source_drift")
    assert not p.python_nodes()
    assert p.count("CartesianProduct", "BroadcastNestedLoopJoin") <= 2


# --- round 12 additions -----------------------------------------------------

def test_bitmap_distinct_is_two_hash_aggs_no_window(spark):
    """q108: the bitmap path is bit_or hash aggs (map-side combinable)
    — no window, no cartesian; the day join is an equality join."""
    p = _tree(spark, "q108_bitmap_distinct")
    assert not p.windows()
    assert not p.find("CartesianProduct")
    assert any(a.startswith("bit_or(") for _, a in _aggs(p))


def test_user_streaks_window_is_user_keyed_topk(spark):
    """q109: gaps-and-islands window partitions by user_id over the
    COLLAPSED distinct-days relation; the global top-20 is
    TakeOrderedAndProject, never a full sort."""
    p = _tree(spark, "q109_user_streaks")
    assert "user_id" in _window_keys(p)
    assert not _single(p)
    assert p.find("TakeOrderedAndProject")


def test_corr_screen_is_one_moment_agg(spark):
    """q110: one map-side-combinable moment aggregation over the fact —
    no window, no join of any kind."""
    p = _tree(spark, "q110_corr_screen")
    assert not p.windows()
    assert not p.joins()


def test_twa_window_is_type_day_keyed(spark):
    """q111: the LEAD window partitions by (event_type, day) — bounded
    frames, never the fact table in one partition."""
    p = _tree(spark, "q111_time_weighted_avg")
    assert "event_type" in _window_keys(p)
    assert not _single(p)


def test_minhash_estimate_error_stays_candidate_bounded(spark):
    """dedup_minhash_estimate_error: signatures recomputed only behind
    a semi-join on candidate ids (LeftSemi in plan), no window, no
    cartesian, no python."""
    p = _tree(spark, "dedup_minhash_estimate_error")
    assert _typed_joins(p, "LEFT SEMI")
    assert not p.windows()
    assert not p.find("CartesianProduct")
    assert not p.python_nodes()


def test_two_hop_reach_is_equality_joins_topk(spark):
    """graph_two_hop_reach: the expansion is equality joins on the
    middle node; top-20 via TakeOrderedAndProject; no window."""
    p = _tree(spark, "graph_two_hop_reach")
    assert not p.windows()
    assert not p.find("CartesianProduct")
    assert p.find("TakeOrderedAndProject")


def test_bloom_fpr_bits_join_is_broadcast(spark):
    """sketch_bloom_fpr: the probe joins the <= 2^16-row bit relation
    broadcast (the filter IS the broadcastable artifact); the only
    nested-loop joins are the 1-row stat crosses."""
    p = _tree(spark, "sketch_bloom_fpr")
    assert p.find("BroadcastHashJoin")
    assert not p.find("CartesianProduct")
    assert not p.windows()


def test_simpson_diversity_is_pure_hash_aggs(spark):
    """text_simpson_diversity: two hash-agg levels, nothing else — no
    window, no join, no python."""
    p = _tree(spark, "text_simpson_diversity")
    assert not p.windows()
    assert not p.joins()
    assert not p.python_nodes()


def test_epoch2_reuses_store_and_has_no_cartesian(spark):
    """dedup_incremental_epoch2: the composed path stays an equality
    band join + semi-join verify — no cartesian, no window, no
    python anywhere in the two-epoch plan."""
    p = _tree(spark, "dedup_incremental_epoch2")
    assert not p.find("CartesianProduct")
    assert not p.windows()
    assert not p.python_nodes()


# --- round 12 second wave ----------------------------------------------------

def test_interval_coverage_windows_share_user_key(spark):
    """q112: both windows (prefix-max end, running island id) partition
    by (event_type, user_id) — high cardinality, never SinglePartition;
    the aggregates after are joins-free."""
    p = _tree(spark, "q112_interval_coverage")
    # r16 _report_sort: a SinglePartition exchange now exists for the
    # |event_type|-row final sort; the windows themselves must stay
    # keyed — no window without the (event_type, ...) key
    keys = _window_keys(p)
    assert keys and all(k == "event_type" for k in keys)
    assert not p.joins()


def test_autocorrelation_collapses_before_joining(spark):
    """q113: the fact table collapses to |days| rows in one hash agg;
    the 7-lag explode is a broadcast nested-loop of a 7-row relation
    (never a cartesian of facts) and no window exists anywhere."""
    p = _tree(spark, "q113_autocorrelation")
    assert not p.windows()
    assert not p.find("CartesianProduct")
    assert p.find("BroadcastNestedLoopJoin")


def test_herfindahl_joins_are_broadcast(spark):
    """q114: supplier dim and the |nations|-row totals both join
    broadcast; no window."""
    p = _tree(spark, "q114_herfindahl")
    assert p.find("BroadcastHashJoin")
    assert not p.windows()
    assert not p.find("SortMergeJoin")


def test_winsorize_one_window_broadcast_thresholds(spark):
    """q115: the rank/count window is grp-keyed; the |groups|-row
    threshold relation joins back broadcast."""
    p = _tree(spark, "q115_winsorize")
    assert "grp" in _window_keys(p)
    assert p.find("BroadcastHashJoin")
    assert not p.find("CartesianProduct")


def test_systematic_window_is_stratum_keyed_no_join(spark):
    """sample_systematic: one source-keyed rank window, zero joins."""
    p = _tree(spark, "sample_systematic")
    assert "source" in _window_keys(p)
    assert not _single(p)
    assert not p.joins()


def test_ngram_novelty_single_scan_no_join(spark):
    """text_ngram_novelty: trigrams built map-side and the corpus
    scanned ONCE — side membership is a flag aggregation, so the plan
    carries NO join of any kind (the anti-join form's dual-referenced
    subtree was reuse-planned differently by volume — a stress-harness
    catch), no window, no python."""
    p = _tree(spark, "text_ngram_novelty")
    assert not p.joins()
    assert not p.windows()
    assert not p.python_nodes()


def test_vocab_overlap_equality_joins_only(spark):
    """text_vocab_overlap: distinct-collapse hash aggs + equality
    joins on token/source — no window, no cartesian, no python."""
    p = _tree(spark, "text_vocab_overlap")
    assert not p.windows()
    assert not p.find("CartesianProduct")
    assert not p.python_nodes()


def test_bmp_roundtrip_is_single_map_stage(spark):
    """multimodal_bmp_roundtrip: one Arrow-batched python map over the
    bounded doc slice — no join, no window."""
    p = _tree(spark, "multimodal_bmp_roundtrip")
    assert p.find("MapInPandas")
    assert not p.joins()
    assert not p.windows()


def test_diversity_sample_window_is_cell_keyed(spark):
    """curation_diversity_sample: the top-M rank partitions by cid
    (the cell), never SinglePartition; no cartesian beyond the
    broadcast centroid crosses inside the memoized assignment."""
    p = _tree(spark, "curation_diversity_sample")
    assert "cid" in _window_keys(p)
    assert not _single(p)
    assert not p.find("CartesianProduct")


def test_band_sensitivity_semi_join_no_window(spark):
    """dedup_band_sensitivity: truth membership via LeftSemi on the
    candidate pairs; equality band joins only; no window anywhere."""
    p = _tree(spark, "dedup_band_sensitivity")
    assert _typed_joins(p, "LEFT SEMI")
    assert not p.windows()
    assert not p.find("CartesianProduct")


def test_zorder_study_is_map_plus_hash_aggs(spark):
    """q116: the Morton interleave is a codegen map expression; the
    only join is the 1-row min/max broadcast cross; no window."""
    p = _tree(spark, "q116_zorder_pruning")
    assert not p.windows()
    assert p.find("BroadcastNestedLoopJoin")      # the 1-row stats cross
    assert not p.find("SortMergeJoin")
    assert not p.python_nodes()


def test_fuzzy_match_collapses_dp_to_distinct_names(spark):
    """q117: the edit-distance DP runs only on the distinct-name cross
    (a broadcast nested-loop of vocabulary-sized relations); the part-
    level path is pure equi-joins with the qualified name pairs
    broadcast — no cartesian, no DP on the fact path, deterministic
    TakeOrdered top-200."""
    p = _tree(spark, "q117_fuzzy_name_match")
    assert not p.find("CartesianProduct")
    assert p.find("BroadcastNestedLoopJoin")      # names x names only
    assert p.find("BroadcastHashJoin")            # membership equi-joins
    assert p.find("TakeOrderedAndProject")
    assert any("levenshtein(" in e for e in _exprs(p))
    assert not p.python_nodes()


def test_exp_histogram_merge_has_no_window(spark):
    """q36/q48 (merge_exp_histograms): the per-series target scale is a
    partial-aggregable groupBy joined back to the points — NOT a window
    over the series key, whose exchange+sort would serialize onto
    n_distinct(series) tasks at scale (r13: removed the WindowExec).
    AQE may or may not broadcast the tiny targets side at this SF, so
    only the absence of the window is pinned."""
    for name in ("q36_exp_histogram_merge", "q48_exp_histogram_quantile"):
        p = _tree(spark, name)
        if name == "q36_exp_histogram_merge":
            assert not p.windows()
        else:  # q48 keeps the post-merge cumulative-rank windows only
            assert len(p.windows()) <= 2
        assert not p.find("CartesianProduct")
        assert not p.python_nodes()


def test_histogram_merge_bucket_sum_is_partial_aggregable(spark):
    """q41 (merge_histograms): the bucket addition is a plain
    partial_sum over exploded (series, index, c) rows — mappers
    pre-combine, so the exchange carries per-mapper partials bounded by
    |series| x |buckets|, never the point rows.  The only
    ObjectHashAggregates left are the post-merge array rebuild and the
    tiny scalar firsts (r13 rewrite; the old collect_list-of-arrays form
    shipped every point's array through the shuffle)."""
    p = _tree(spark, "q41_histogram_merge")
    assert ("Partial", "sum(c)") in _aggs(p)      # combinable bucket sum
    assert not p.windows()
    assert not p.python_nodes()


def test_q110_corr_screen_is_single_agg(spark):
    """q110 (exact Pearson screen): ONE map-side-combinable 7-moment
    hash agg over the fact scan, then per-row arithmetic — no join, no
    window, no Python, exactly one shuffle (the 3-group exchange).  The
    r13 local-bench "5.8s regression" was host-band adjacency
    (CORR_PROFILE_r14.json); this pin makes a REAL plan regression loud
    instead of leaving the family to timing archaeology."""
    p = _tree(spark, "q110_corr_screen")
    modes = {(m, a.split("(")[0]) for m, a in _aggs(p)}
    assert {("Partial", "count"), ("Partial", "sum")} <= modes
    assert not p.joins()
    assert not p.windows()
    assert not p.python_nodes()
    # two physical exchanges: the 3-group agg + the final ORDER BY
    assert len(p.exchanges()) <= 2
    assert p.count("HashAggregate") == 2


def test_text_dedup_spans_shares_span_relation(spark):
    """text_dedup_spans (r14, the prefix-relation treatment at span
    grain): ONE parquet scan total — the span pipeline is derived once
    into the h-partitioned cached substrate (_span_relation), both join
    sides read the InMemoryRelation, the document-frequency aggregate
    runs exchange-free on the preserved hashpartitioning(h), and the
    small df side joins broadcast, never sort-merge."""
    p = _tree(spark, "text_dedup_spans")
    # r15: the span substrate is plan-truncated — the consumer plan must
    # contain NO parquet scan at all (both join sides read the cached
    # relation; the single derivation is inside the memo build)
    assert not p.scans()
    assert p.find("InMemoryTableScan")
    assert not p.find("SortMergeJoin")
    assert not p.python_nodes()


def test_pca_covariance_is_single_scan_single_agg(spark):
    """embedding_pca_covariance (r14): ONE parquet scan into ONE
    map-side-combinable hash agg on the D*(D+1)/2 pair keys — both
    first moments ride the pair structs, so there is no dim-sum join
    back (a second corpus scan at 100 TB), no window, no Python."""
    p = _tree(spark, "embedding_pca_covariance")
    assert len(p.scans()) == 1
    assert not p.joins()
    assert any(m == "Partial" and a.startswith("sum(") for m, a in _aggs(p))
    assert not p.windows()
    assert not p.python_nodes()
    assert len(p.exchanges()) <= 2


# --- small driver-built relations (session.local_frame) ---------------------

def _local(n) -> bool:
    """``n`` reads a local relation with no join in between."""
    return n.name in ("LocalTableScan", "LocalRelation") or (
        not n.is_join and any(_local(c) for c in n.children))


def _local_joins(p) -> list[plan_tree.Node]:
    """Joins with a side that reads a local relation."""
    return [j for j in p.joins() if any(_local(c) for c in j.children)]


def _hinted_local(df) -> list[plan_tree.Node]:
    """Broadcast hints on a local relation in the analyzed plan."""
    logical = plan_tree.read(df._jdf.queryExecution().analyzed())
    return [h for h in logical.find("ResolvedHint") if _local(h)]


@pytest.mark.parametrize("name", [
    "ann_pq_adc_topk",                  # _pq_grid x the query row
    "ann_ivf_pq",                       # _pq_grid, centroids x queries
    "sketch_quantile_sampled",          # bucket offsets, rank positions
    "sketch_quantile_binned",           # the quantile list
])
def test_local_relations_broadcast_without_a_hint(spark, name):
    """Every join against a local_frame relation is a broadcast join
    chosen by its size statistics: no hint sits on the relation."""
    df = QUERIES[name](spark, SF_SMALL)
    assert not _hinted_local(df)
    joins = _local_joins(plan_tree.read(df))
    assert joins and all(
        j.name in ("BroadcastHashJoin", "BroadcastNestedLoopJoin")
        for j in joins)


def test_rank_values_at_offsets_broadcast_without_a_hint(spark):
    li = load_table(spark, SF_SMALL, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("v"),
        "l_orderkey", "l_linenumber")
    df = sk._rank_values_at(li, [1, 50, 100], n_buckets=8)
    assert not _hinted_local(df)
    [j] = _local_joins(plan_tree.read(df))
    assert j.name == "BroadcastHashJoin"


def test_ivf_assignment_is_one_projection(spark):
    """Nearest-centroid assignment is one narrow map over the corpus:
    the model rides in the projection, so no join, no exchange and no
    aggregate (it was a crossJoin with the broadcast centroids plus a
    groupBy(vec_id) hash aggregate: one shuffle per use)."""
    p = plan_tree.read(sim._build_assignments(spark, SF_SMALL))
    assert not p.joins()
    assert not p.exchanges()
    assert not _aggs(p)
    assert not p.find("LocalTableScan")


@pytest.mark.parametrize("name", ["ann_ivf_cell_quality",
                                  "embedding_outliers",
                                  "curation_diversity_sample"])
def test_own_centroid_cosine_reads_the_model_in_the_projection(spark, name):
    """The cosine to a vector's own centroid looks the centroid up in
    the model carried by the projection: no join, no centroid
    relation to read."""
    p = _tree(spark, name)
    assert not p.joins()
    assert not p.find("LocalTableScan", "BroadcastExchange")


def test_cold_ivf_probe_runs_at_most_15_jobs(spark):
    """From an empty registry, ann_ivf_probe builds the bucketed corpus,
    trains the model, assigns and writes the cell store, then probes:
    at most 15 jobs (21 when each k-means iteration and the assignment
    read a Python-row centroid relation through a broadcast and then
    shuffled the corpus to take the argmax)."""
    cr.clear_caches()
    name = "ann_ivf_probe"
    assert query_run.run(spark, name, QUERIES[name], SF_SMALL).jobs <= 15


def test_warm_cell_quality_runs_no_centroid_job(spark):
    """A warm ann_ivf_cell_quality reads the persisted assignments and
    aggregates them: 3 jobs, none of them evaluating the centroid
    model (a 4th job broadcast the centroid relation each run)."""
    name = "ann_ivf_cell_quality"
    QUERIES[name](spark, SF_SMALL).collect()        # substrates built
    assert query_run.run(spark, name, QUERIES[name], SF_SMALL).jobs <= 3
