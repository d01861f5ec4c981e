"""Distributed graph operators over the synthetic corpus.

Training-data curation keeps running into graph shapes — near-dup
clusters (dedup.py's connected components), kNN graphs (similarity.py),
and the two classics here:

- **Triangle counting** on a co-occurrence graph (parts bought in the
  same order — the classic market-basket projection).  The
  implementation is the standard distributed wedge-join with the
  node-ordering orientation (each triangle a<b<c is produced exactly
  once, and every wedge enumeration is bounded by the oriented
  out-degree — the trick that keeps the join from exploding on
  high-degree nodes; Suri & Vassilvitskii 2011, "Counting triangles and
  the curse of the last reducer").  Baskets above MAX_BASKET distinct
  items are dropped before pair expansion — the high-degree-item guard
  every co-occurrence pipeline applies, since one hub basket otherwise
  contributes O(d^2) pairs.
- **PageRank**, the canonical iterative message-passing algorithm, over
  the per-user event-transition graph (same edge derivation as
  q81_event_transitions).  Ranks are held in INTEGER fixed-point
  (scale 10^12) with floor division at every step, which makes the
  result bit-exact and order-independent — so three unrolled iterations
  are expressible as plain SQL CTEs and the oracle gates real values,
  not just shapes.  Each iteration is one join + one aggregation on the
  edge list; at 100 TB the edge list is the big table, ranks are the
  small one (|nodes| rows), so the join broadcasts the rank side.

Reference analogue: none — the reference has no graph operators; these
are engine-added scale operators (driver north star).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table

QUERIES: dict = {}
ORACLES: dict = {}

#: Basket-size cap for the co-purchase pair expansion (hub guard).
MAX_BASKET = 10
#: Deterministic basket sampling: keep orders whose md5 leading hex
#: digit is < BASKET_SAMPLE_HEX (3/16 = 18.75 %).  Co-occurrence graphs
#: densify superlinearly with corpus size (every pair of popular items
#: eventually co-occurs), so production basket analyses run on a basket
#: SAMPLE; hashing the basket id keeps the choice reproducible and
#: oracle-exact at every scale.
BASKET_SAMPLE_HEX = 3
_HEX = "0123456789abcdef"
#: Fixed-point scale for PageRank ranks.
PR_SCALE = 1_000_000_000_000
#: Damping factor as an exact fraction (85/100).
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100
PR_ITERS = 3


# ---------------------------------------------------------------------------
# Triangle counting
# ---------------------------------------------------------------------------

def copurchase_edges(lineitem: DataFrame,
                     cap: int = MAX_BASKET) -> DataFrame:
    """Distinct undirected edges (u < v) between parts appearing in the
    same order, with baskets above ``cap`` distinct parts dropped
    before pair expansion (the O(d^2) hub guard).

    One shuffle builds the baskets (groupBy order -> distinct part
    set); the pair expansion itself is a whole-stage-codegen
    higher-order-function over the basket array — no self-join, no
    degree-table join."""
    ps = (lineitem.select(F.col("l_orderkey").alias("o"),
                          F.col("l_partkey").alias("s"))
          .filter(F.expr(
              f"instr('{_HEX}', substring(md5(CAST(o AS STRING)), 1, 1))"
              f" - 1 < {BASKET_SAMPLE_HEX}")))
    baskets = (ps.groupBy("o")
               .agg(F.sort_array(F.collect_set("s")).alias("arr"))
               .filter(F.size("arr") <= cap))
    pairs = baskets.select(F.explode(F.expr(
        "flatten(transform(arr, (x, i) ->"
        " transform(slice(arr, i + 2, size(arr)),"
        " y -> struct(x AS u, y AS v))))")).alias("e"))
    return pairs.select("e.u", "e.v").distinct()


def _edges_cached(spark, sf_dir):
    """Session-memoized co-purchase edge substrate, shared by the six
    graph operators.  Spread across defaultParallelism partitions BEFORE
    materializing: the wedge joins broadcast one side and STREAM this
    relation through the pair-explosion probe, so its partition count is
    the probe stage's parallelism (a 1-partition AQE-coalesced edge list
    serialized the whole wedge expansion onto one core — guide §2.5).
    The repartition is scale-adaptive (defaultParallelism) and costs one
    tiny shuffle of (u, v) longs at materialization time."""
    from .cache_registry import cached, materialized
    li = load_table(spark, sf_dir, "lineitem")
    return cached(
        "copurchase_edges", spark, sf_dir,
        lambda: materialized(copurchase_edges(li).repartition(
            spark.sparkContext.defaultParallelism)))


def triangle_participation(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts via the oriented wedge join: wedges
    (a-b, b-c) with a<b<c close into triangles iff edge (a, c) exists.
    Every triangle is counted exactly once."""
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = (e1.join(e2, "b")          # wedges a<b<c
             .join(e3, ["a", "c"]))  # close the triangle
    nodes = (tri.select(F.col("a").alias("node"))
             .unionAll(tri.select(F.col("b").alias("node")))
             .unionAll(tri.select(F.col("c").alias("node"))))
    return (nodes.groupBy("node")
            .agg(F.count(F.lit(1)).alias("tri_cnt")))


def _tri_counts(spark, sf_dir):
    """Memoized per-node triangle counts: graph_triangle_count and
    graph_clustering_coefficient consume the SAME oriented-wedge-join
    output (|nodes| rows), so the wedge expansion runs once per
    (session, dir) instead of once per query invocation."""
    from .cache_registry import cached, materialized
    return cached(
        "graph.tri_part", spark, sf_dir,
        lambda: materialized(
            triangle_participation(_edges_cached(spark, sf_dir))))


def graph_triangle_count(spark, sf_dir):
    """Declared query: the 20 parts participating in the most
    co-purchase triangles (ties broken by key).

    The edge list (distinct + degree-cap + per-basket self-join) is
    referenced THREE times by the oriented wedge join (e1/e2/e3), so it
    is memoized persisted via the shared cache registry — one
    derivation instead of three, the LSH-candidate-pairs precedent."""
    return (_tri_counts(spark, sf_dir)
            .select(F.col("node").cast("long").alias("node"),
                    F.col("tri_cnt").cast("long").alias("tri_cnt"))
            .orderBy(F.col("tri_cnt").desc(), "node").limit(20))


QUERIES["graph_triangle_count"] = graph_triangle_count
ORACLES["graph_triangle_count"] = f"""
WITH ps AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem
            WHERE instr('0123456789abcdef', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1))
                  - 1 < {BASKET_SAMPLE_HEX}),
deg AS (SELECT o, COUNT(*) AS ns FROM ps GROUP BY o),
small AS (SELECT ps.o, ps.s FROM ps JOIN deg ON deg.o = ps.o
          WHERE deg.ns <= {MAX_BASKET}),
edges AS (SELECT DISTINCT a.s AS u, b.s AS v
          FROM small a JOIN small b ON a.o = b.o AND a.s < b.s),
tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)
SELECT CAST(node AS BIGINT) AS node, CAST(COUNT(*) AS BIGINT) AS tri_cnt
FROM (SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri)
GROUP BY node ORDER BY tri_cnt DESC, node LIMIT 20
"""


# ---------------------------------------------------------------------------
# PageRank (integer fixed-point, unrolled oracle)
# ---------------------------------------------------------------------------

def transition_edges(events: DataFrame) -> DataFrame:
    """Weighted event-type transition edges (q81's derivation): LEAD per
    user under the total order (us, event_id), then a pair count."""
    ev = events.select(
        "user_id", "event_type",
        F.expr("ts_ns div 1000").alias("us"), "event_id")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    p = ev.select("event_type",
                  F.lead("event_type").over(w).alias("next_type"))
    return (p.where(F.col("next_type").isNotNull())
            .groupBy(F.col("event_type").alias("src"),
                     F.col("next_type").alias("dst"))
            .agg(F.count(F.lit(1)).alias("w")))


def pagerank_fixed_point(edges: DataFrame, iters: int = PR_ITERS,
                         scale: int = PR_SCALE) -> DataFrame:
    """``iters`` PageRank iterations in integer fixed-point.

    Per edge: contrib = (rank_src * w) // wout_src; per node:
    rank' = (15 * base) // 100 + (85 * sum(contrib)) // 100 with
    base = scale // n.  All divisions floor on non-negative integers, so
    the result is bit-exact regardless of partitioning or merge order —
    the property that lets a DuckDB CTE chain serve as the oracle.
    Mass lost to flooring / dangling nodes is NOT redistributed (each
    iteration documents its drop; consumers renormalize if they need a
    distribution).  Products are held in decimal(38,0): rank < 10^12
    and edge weights up to 10^7 keep rank*w < 10^19 — past int64 at
    full scale, inside decimal38 with 19 digits of headroom.
    """
    spark = edges.sparkSession
    nodes = (edges.select(F.col("src").alias("node"))
             .union(edges.select(F.col("dst").alias("node")))
             .distinct())
    n = nodes.count()          # |node types| — tiny by construction
    base = scale // n
    tele = (15 * base) // 100
    outw = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    ew = edges.join(outw, "src")
    ranks = nodes.withColumn("rank", F.lit(base).cast("long"))
    for _ in range(iters):
        contrib = (ew.join(F.broadcast(ranks), ew["src"] == ranks["node"])
                   .select(
                       "dst",
                       F.floor(F.col("rank").cast("decimal(38,0)")
                               * F.col("w") / F.col("wout"))
                       .cast("long").alias("c"))
                   .groupBy("dst").agg(F.sum("c").alias("s")))
        ranks = (nodes.join(contrib,
                            nodes["node"] == contrib["dst"], "left")
                 .select(
                     "node",
                     (F.lit(tele)
                      + F.floor(F.lit(PR_DAMP_NUM)
                                * F.coalesce(F.col("s"), F.lit(0))
                                .cast("decimal(38,0)")
                                / F.lit(PR_DAMP_DEN)))
                     .cast("long").alias("rank")))
    return ranks


def pagerank_fixed_point_local(edges: list[tuple[str, str, int]],
                               iters: int = PR_ITERS,
                               scale: int = PR_SCALE) -> dict[str, int]:
    """The same fixed-point recurrence as :func:`pagerank_fixed_point`,
    in plain Python integers (arbitrary precision, so it bit-matches
    the decimal(38,0) form).  For TYPE-cardinality graphs — the
    distributed form pays ~10 Spark stages of fixed overhead per
    iteration, absurd for a 25-edge graph; this is the
    centroids/codebook driver-math precedent.  Node-cardinality graphs
    use the distributed operator."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n = len(nodes)
    base = scale // n
    tele = (15 * base) // 100
    wout: dict[str, int] = {}
    for s, _, w in edges:
        wout[s] = wout.get(s, 0) + w
    rank = {v: base for v in nodes}
    for _ in range(iters):
        s_in = {v: 0 for v in nodes}
        for s, d, w in edges:
            s_in[d] += (rank[s] * w) // wout[s]
        rank = {v: tele + (PR_DAMP_NUM * s_in[v]) // PR_DAMP_DEN
                for v in nodes}
    return rank


def graph_pagerank(spark, sf_dir):
    """Declared query: 3-iteration fixed-point PageRank of the event
    types in the per-user transition graph.

    The fact table is scanned exactly ONCE (the distributed
    transition-edge aggregation — the expensive part at 100 TB); the
    resulting edge list is TYPE-cardinality (<= |event types|^2 rows),
    so the fixed-point itself runs in driver integers
    (:func:`pagerank_fixed_point_local`, bit-identical recurrence)."""
    events = load_table(spark, sf_dir, "events")
    rows = [(r["src"], r["dst"], int(r["w"]))
            for r in transition_edges(events).collect()]
    rank = pagerank_fixed_point_local(rows)
    out = spark.createDataFrame(sorted(rank.items()),
                                "node string, rank long")
    return out.orderBy(F.col("rank").desc(), "node")


def _pr_iter_sql(prev: str, this_c: str, this_r: str) -> str:
    return f"""
{this_c} AS (
  SELECT e.dst AS node,
         SUM((r.rank * e.w) // o.wout) AS s
  FROM edges e
  JOIN {prev} r ON r.node = e.src
  JOIN outw o ON o.src = e.src
  GROUP BY e.dst),
{this_r} AS (
  SELECT n.node,
         (SELECT tele FROM consts)
         + ({PR_DAMP_NUM} * COALESCE(c.s, 0)) // {PR_DAMP_DEN} AS rank
  FROM nodes n LEFT JOIN {this_c} c ON c.node = n.node)"""


QUERIES["graph_pagerank"] = graph_pagerank
ORACLES["graph_pagerank"] = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
p AS (
  SELECT event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY us, event_id) AS next_type
  FROM e),
edges AS (
  SELECT event_type AS src, next_type AS dst,
         CAST(COUNT(*) AS HUGEINT) AS w
  FROM p WHERE next_type IS NOT NULL GROUP BY src, dst),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
outw AS (SELECT src, SUM(w) AS wout FROM edges GROUP BY src),
consts AS (
  SELECT {PR_SCALE} // COUNT(*) AS base,
         (15 * ({PR_SCALE} // COUNT(*))) // 100 AS tele
  FROM nodes),
r0 AS (SELECT node, (SELECT base FROM consts) AS rank FROM nodes),
{_pr_iter_sql('r0', 'c1', 'r1')},
{_pr_iter_sql('r1', 'c2', 'r2')},
{_pr_iter_sql('r2', 'c3', 'r3')}
SELECT node, CAST(rank AS BIGINT) AS rank
FROM r3 ORDER BY rank DESC, node
"""


# ---------------------------------------------------------------------------
# Label propagation (community detection)
# ---------------------------------------------------------------------------

#: synchronous LPA iterations (determinism > convergence, the PR_ITERS
#: adjudication)
LPA_ITERS = 3


def _lpa_labels(spark, sf_dir):
    """LPA_ITERS synchronous label-propagation iterations over the
    (memoized) co-purchase graph, returning the |nodes|-row
    (node, label) relation — shared by graph_label_propagation and
    graph_modularity through the cache registry so assignment and
    evaluation cannot desynchronize (the theta-scaffold discipline)."""
    from .cache_registry import cached, materialized
    e = _edges_cached(spark, sf_dir)
    edges = (e.select(F.col("u").alias("src"), F.col("v").alias("dst"))
             .unionAll(e.select(F.col("v").alias("src"),
                                F.col("u").alias("dst"))))
    return e, edges, cached(
        "graph.lpa_labels", spark, sf_dir,
        lambda: materialized(_build_lpa_labels(edges)))


def _build_lpa_labels(edges):
    """Raw (pre-materialization) LPA label plan — split out so the
    plan-quality pin (label joins, per-node rank windows)
    stays assertable after the memo truncation."""
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .select("node", F.col("node").alias("label")))
    w = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("label").asc())
    for _ in range(LPA_ITERS):
        neigh = (edges.join(labels.withColumnRenamed("node", "dst"), "dst")
                 .groupBy(F.col("src").alias("node"), "label")
                 .agg(F.count(F.lit(1)).alias("cnt")))
        labels = (neigh.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") == 1)
                  .select("node", "label"))
    return labels


def graph_label_propagation(spark, sf_dir):
    """Synchronous label-propagation communities (Raghavan et al. 2007)
    over the co-purchase graph: every node starts as its own label;
    each iteration every node adopts the most frequent label among its
    neighbors, ties to the SMALLEST label — the deterministic variant,
    so LPA_ITERS unrolled iterations are exactly reproducible in SQL
    and the oracle gates real community assignments.  (Distinct from
    dedup's connected components: LPA splits a connected graph into
    dense communities; CC only finds reachability.)

    Scale shape: per iteration ONE join of the edge list against the
    |nodes|-row label relation (its strategy picked by size, the
    PageRank adjudication), one (node, label) count, one per-node rank window
    — iteration state is |nodes| rows, never edge-sized.
    """
    _, _, labels = _lpa_labels(spark, sf_dir)
    return (labels.select(F.col("node").cast("long").alias("node"),
                          F.col("label").cast("long").alias("label"))
            .orderBy("node"))


def _lpa_iter_sql(prev: str, this: str) -> str:
    return f"""{this} AS (
  SELECT node, label FROM (
    SELECT e.src AS node, r.label,
           COUNT(*) AS cnt,
           ROW_NUMBER() OVER (PARTITION BY e.src
                              ORDER BY COUNT(*) DESC, r.label)
             AS rk
    FROM edges e JOIN {prev} r ON r.node = e.dst
    GROUP BY e.src, r.label)
  WHERE rk = 1)"""


QUERIES["graph_label_propagation"] = graph_label_propagation
ORACLES["graph_label_propagation"] = f"""
WITH ps AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem
  WHERE instr('{_HEX}',
              substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1)) - 1
        < {BASKET_SAMPLE_HEX}),
deg AS (SELECT o, COUNT(*) AS ns FROM ps GROUP BY o),
small AS (SELECT ps.o, ps.s FROM ps JOIN deg ON deg.o = ps.o
          WHERE deg.ns <= {MAX_BASKET}),
pairs AS (
  SELECT DISTINCT a.s AS u, b.s AS v
  FROM small a JOIN small b ON a.o = b.o AND a.s < b.s),
edges AS (
  SELECT u AS src, v AS dst FROM pairs
  UNION ALL SELECT v, u FROM pairs),
r0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
{_lpa_iter_sql('r0', 'r1')},
{_lpa_iter_sql('r1', 'r2')},
{_lpa_iter_sql('r2', 'r3')}
SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
FROM r3 ORDER BY node
"""


# ---------------------------------------------------------------------------
# k-core decomposition (bounded peel)
# ---------------------------------------------------------------------------

#: the core order reported — at the testdata's scale-invariant degree
#: distribution (median ~21) this peels ~40% of nodes per graph while
#: leaving a real surviving core at every SF
KCORE_K = 18
#: unrolled peel rounds (determinism > convergence — the PR_ITERS /
#: LPA_ITERS adjudication; the oracle unrolls the same count)
KCORE_PEELS = 4
#: driver fast-path gate: collect + peel in the driver below this many
#: edges (the dedup-CC union-find precedent); distributed peel above
KCORE_DRIVER_EDGE_CAP = 2_000_000


def graph_k_core(spark, sf_dir):
    """Approximate K-core of the co-purchase graph by KCORE_PEELS
    unrolled peeling rounds (Matula & Beck 1983 degeneracy peeling,
    bounded): each round recomputes degrees over the subgraph induced
    by the surviving node set and drops nodes of degree < K.  Reports
    each surviving node with its residual degree — the dense backbone
    a curation pipeline treats as "canonical co-occurrence structure"
    (vs LPA's communities and CC's reachability).

    Scale shape: the dedup-CC precedent — a COUNTED edge-cap gate
    picks the path.  Under the cap the edge list (already the shared
    memoized substrate) is collected once and peeled in the driver
    (set arithmetic; graph iteration on a sub-cap graph is pure
    per-stage overhead in Spark).  Over the cap the peel runs
    distributed: the EDGE list stays static (cached, scanned once per
    round); iteration state is the NODE-sized alive set, persisted +
    forced per round so the lazy plan stays linear (without
    materialization the alive set appears twice per round and the
    plan grows 2^rounds subtrees — the GraphX checkpoint discipline).
    Per round: two semi-joins + one |nodes|-row hash agg;
    nothing edge-sized is ever re-materialized.
    """
    from .cache_registry import cached, materialized
    e = _edges_cached(spark, sf_dir)
    edges = (e.select(F.col("u").alias("src"), F.col("v").alias("dst"))
             .unionAll(e.select(F.col("v").alias("src"),
                                F.col("u").alias("dst"))))

    def induced_deg(alive):
        sub = edges
        if alive is not None:
            sub = (sub.join(alive, "src", "left_semi")
                   .join(alive.withColumnRenamed("src", "dst"),
                         "dst", "left_semi"))
        return sub.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))

    def build():
        if e.count() <= KCORE_DRIVER_EDGE_CAP:
            adj: dict[int, list[int]] = {}
            for r in e.collect():          # bounded by the counted cap
                adj.setdefault(r.u, []).append(r.v)
                adj.setdefault(r.v, []).append(r.u)
            alive = set(adj)
            for _ in range(KCORE_PEELS):
                alive = {v for v in alive
                         if sum(w in alive for w in adj[v]) >= KCORE_K}
            # residual degree 0 is possible (every neighbor peeled in
            # the final round); the distributed path's induced_deg and
            # the oracle's edge join both omit such nodes — match them
            # so results cannot flip at the edge-cap cutover
            rows = sorted(
                (v, d) for v in alive
                if (d := sum(w in alive for w in adj[v])) > 0)
            return spark.createDataFrame(
                rows or [], "node long, deg long").persist()
        alive = None
        for _ in range(KCORE_PEELS):
            nxt = (induced_deg(alive)
                   .filter(F.col("deg") >= KCORE_K)
                   .select("src").persist())
            nxt.count()
            if alive is not None:
                alive.unpersist()
            alive = nxt
        return materialized(
            induced_deg(alive)
            .select(F.col("src").alias("node"), F.col("deg")))

    core = cached("graph.kcore_deg", spark, sf_dir, build)
    return (core.select(F.col("node").cast("long").alias("node"),
                        F.col("deg").cast("long").alias("deg"))
            .orderBy("node"))


def _kcore_iter_sql(prev: str, this: str) -> str:
    on_prev = ("" if prev is None else
               f"  JOIN {prev} s ON s.src = e.src\n"
               f"  JOIN {prev} d ON d.src = e.dst\n")
    return f"""{this} AS (
  SELECT e.src FROM e0 e
{on_prev}  GROUP BY e.src HAVING COUNT(*) >= {KCORE_K})"""


QUERIES["graph_k_core"] = graph_k_core
ORACLES["graph_k_core"] = f"""
WITH ps AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem
  WHERE instr('{_HEX}',
              substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1)) - 1
        < {BASKET_SAMPLE_HEX}),
deg0 AS (SELECT o, COUNT(*) AS ns FROM ps GROUP BY o),
small AS (SELECT ps.o, ps.s FROM ps JOIN deg0 ON deg0.o = ps.o
          WHERE deg0.ns <= {MAX_BASKET}),
pairs AS (
  SELECT DISTINCT a.s AS u, b.s AS v
  FROM small a JOIN small b ON a.o = b.o AND a.s < b.s),
e0 AS (
  SELECT u AS src, v AS dst FROM pairs
  UNION ALL SELECT v AS src, u AS dst FROM pairs),
{", ".join(_kcore_iter_sql(None if i == 0 else f"a{i}", f"a{i + 1}")
           for i in range(KCORE_PEELS))}
SELECT CAST(e.src AS BIGINT) AS node,
       CAST(COUNT(*) AS BIGINT) AS deg
FROM e0 e
JOIN a{KCORE_PEELS} s ON s.src = e.src
JOIN a{KCORE_PEELS} d ON d.src = e.dst
GROUP BY e.src ORDER BY node
"""


# ---------------------------------------------------------------------------
# Link prediction (resource-allocation index, integer fixed-point)
# ---------------------------------------------------------------------------

#: Fixed-point scale for the resource-allocation terms: each common
#: neighbor w contributes RA_SCALE // deg(w), floored independently, so
#: the per-pair sum is merge-order-independent (the PageRank trick).
RA_SCALE = 1_000_000
LINKPRED_TOPN = 20


def _nbr_arrays(spark, sf_dir):
    """Session-memoized adjacency-array relation over the co-purchase
    graph: one row per node with its sorted DISTINCT neighbor set
    (|nodes| rows — edges are distinct u < v pairs, so the set size IS
    the node degree).  Shared by two-hop reach and link prediction,
    which previously each re-derived the neighbor sets (or paid a wedge
    self-join) per invocation."""
    from .cache_registry import cached, materialized

    def build():
        edges = _edges_cached(spark, sf_dir)
        bidir = (edges.select(F.col("u").alias("a"),
                              F.col("v").alias("b"))
                 .unionAll(edges.select(F.col("v").alias("a"),
                                        F.col("u").alias("b"))))
        return materialized(
            bidir.groupBy(F.col("a").alias("n"))
            .agg(F.sort_array(F.collect_set("b")).alias("nb")))
    return cached("graph.nbr_arrays", spark, sf_dir, build)


def graph_link_prediction(spark, sf_dir):
    """Declared query: top-20 NON-adjacent part pairs most likely to
    co-occur next, scored by the resource-allocation index
    RA(u,v) = sum over common neighbors w of 1/deg(w) (Zhou, Lu &
    Zhang 2009 — the strongest of the simple local link-prediction
    scores), held in integer fixed-point (RA_SCALE // deg, floored per
    term) so the oracle gates exact values.  Ties break by common-
    neighbor count, then pair key.

    Scale shape (r15): candidate pairs explode straight out of the
    memoized adjacency-array relation — for node w every u < v pair of
    its sorted neighbor set is one wedge, the same codegen
    higher-order-function expansion copurchase_edges uses, so the wedge
    self-join's w-keyed exchange of the full O(sum deg^2) stream
    disappears.  The RA term RA_SCALE div deg(w) is CONSTANT per
    exploded row (deg(w) == size of w's distinct neighbor set), so the
    degree relation and its broadcast join disappear too.  Existing
    edges leave via one broadcast-able anti-join on the (u, v) key,
    now placed AFTER the pair aggregation (key-identical filter, far
    fewer rows).  Nothing pair-squared is ever materialized — the
    candidate set IS the wedge set, exactly like the LSH-band candidate
    discipline in dedup; the hub guard (MAX_BASKET) bounds per-node
    fan-out at the edge-building stage.

    Reference analogue: none (engine-added scale operator).
    """
    nbr = _nbr_arrays(spark, sf_dir)
    edges = _edges_cached(spark, sf_dir)
    # two chained Generates (posexplode, then a lazily-sliced explode)
    # instead of one explode over flatten(transform(transform(...))):
    # the flattened form allocated the whole C(deg, 2) struct array per
    # node before exploding it (hub nodes allocate ~2M structs at
    # once); the chained form streams the same wedge rows out of two
    # pipelined codegen Generate operators with only the O(deg) slice
    # live at a time.  Same rows, same values — measured 2.9-4.2 s ->
    # 2.0-2.4 s steady on the full query.
    # node rows are byte-tiny but each explodes into C(deg, 2) wedge
    # rows, so the materialized substrate's few build partitions leave
    # the wedge stream on a handful of cores (AQE sizes by bytes, not
    # by downstream fan-out — the dedup_allpairs verify finding):
    # spread the node rows first, one exchange of |nodes| array rows
    pairs = (nbr.repartition(spark.sparkContext.defaultParallelism)
             .select(
                F.expr(f"{RA_SCALE} div CAST(size(nb) AS BIGINT)")
                 .alias("contrib"),
                "nb",
                F.posexplode("nb").alias("i", "u"))
             .select("contrib", "u",
                     F.explode(F.expr("slice(nb, i + 2, size(nb))"))
                      .alias("v")))
    scored = (pairs.groupBy("u", "v")
              .agg(F.sum("contrib").alias("ra_micro"),
                   F.count(F.lit(1)).alias("common_neighbors")))
    cand = scored.join(edges, ["u", "v"], "left_anti")
    return (cand.select(F.col("u").cast("long").alias("u"),
                          F.col("v").cast("long").alias("v"),
                          F.col("ra_micro").cast("long").alias("ra_micro"),
                          F.col("common_neighbors").cast("long")
                          .alias("common_neighbors"))
            .orderBy(F.col("ra_micro").desc(),
                     F.col("common_neighbors").desc(), "u", "v")
            .limit(LINKPRED_TOPN))


QUERIES["graph_link_prediction"] = graph_link_prediction
ORACLES["graph_link_prediction"] = f"""
WITH ps AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem
  WHERE instr('{_HEX}',
              substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1)) - 1
        < {BASKET_SAMPLE_HEX}),
deg0 AS (SELECT o, COUNT(*) AS ns FROM ps GROUP BY o),
small AS (SELECT ps.o, ps.s FROM ps JOIN deg0 ON deg0.o = ps.o
          WHERE deg0.ns <= {MAX_BASKET}),
pairs AS (
  SELECT DISTINCT a.s AS u, b.s AS v
  FROM small a JOIN small b ON a.o = b.o AND a.s < b.s),
bidir AS (
  SELECT u AS a, v AS b FROM pairs
  UNION ALL SELECT v AS a, u AS b FROM pairs),
deg AS (SELECT a AS w, COUNT(*) AS deg FROM bidir GROUP BY a),
wedge AS (
  SELECT e1.a AS u, e1.b AS w, e2.b AS v
  FROM bidir e1 JOIN bidir e2 ON e2.a = e1.b
  WHERE e1.a < e2.b),
cand AS (
  SELECT wd.u, wd.v, wd.w FROM wedge wd
  WHERE NOT EXISTS (SELECT 1 FROM pairs p
                    WHERE p.u = wd.u AND p.v = wd.v))
SELECT CAST(c.u AS BIGINT) AS u, CAST(c.v AS BIGINT) AS v,
       CAST(SUM({RA_SCALE} // d.deg) AS BIGINT) AS ra_micro,
       CAST(COUNT(*) AS BIGINT) AS common_neighbors
FROM cand c JOIN deg d ON d.w = c.w
GROUP BY c.u, c.v
ORDER BY ra_micro DESC, common_neighbors DESC, u, v
LIMIT {LINKPRED_TOPN}
"""


# ---------------------------------------------------------------------------
# Community-quality evaluation: Newman modularity of the LPA partition
# ---------------------------------------------------------------------------

#: fixed-point scale for per-community modularity contributions
MOD_SCALE = 1_000_000


def graph_modularity(spark, sf_dir):
    """Newman modularity (Newman & Girvan 2004) of the LPA communities
    over the co-purchase graph, per community in exact integer
    micro-units: q_c = MOD_SCALE*m_c // m  -  MOD_SCALE*d_c^2 //
    (4*m^2), where m = |undirected edges|, m_c = intra-community
    edges, d_c = the community's degree sum — the partition-quality
    read that turns LPA's labels into an evaluated clustering (a
    curator accepts the community structure only when sum(q_c) is
    materially positive).  Floors are per community, so the published
    values are order-independent and the DuckDB oracle gates them
    exactly; d_c^2 is held in decimal(38,0)/HUGEINT (at 100 TB the
    degree sum is edge-scaled, and its square passes 2^63 — the q99
    overflow class, applied proactively).

    Scale shape: the label relation (|nodes| rows, memoized — shared
    with graph_label_propagation so assignment and evaluation can
    never desynchronize) joins onto the edge list twice (both
    endpoints); intra-edge and degree sums are two hash aggs;
    the 1-row (m) frame broadcasts onto the |communities|-row result.
    """
    e, edges, labels = _lpa_labels(spark, sf_dir)
    both = (e.join(labels.select(F.col("node").alias("u"),
                                 F.col("label").alias("lu")), "u")
            .join(labels.select(F.col("node").alias("v"),
                                F.col("label").alias("lv")), "v"))
    # ONE endpoint-exploded pass serves BOTH per-community sums (the
    # separate deg branch re-ran an edges⋈labels pass per invocation —
    # cached subtrees never stage-reuse, the r16 finding): every
    # undirected edge contributes its two endpoint labels, so
    # count(endpoints) per label IS the degree sum, and an intra edge
    # contributes exactly TWO intra-flagged endpoints with the same
    # label, so intra_edges = intra_endpoints div 2 — exact integers.
    ends = both.select(
        (F.col("lu") == F.col("lv")).alias("is_intra"),
        F.explode(F.array(F.col("lu"), F.col("lv"))).alias("label"))
    sums = (ends.groupBy("label")
            .agg(F.count(F.lit(1)).alias("degree_sum"),
                 F.floor(F.sum(F.when(F.col("is_intra"), 1)
                               .otherwise(0)) / 2)
                 .cast("long").alias("intra_edges")))
    nn = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_nodes"))
    m_tot = e.agg(F.count(F.lit(1)).alias("m"))
    return (nn.join(sums, "label", "left")
            .crossJoin(m_tot)
            .select(
                F.col("label").cast("long").alias("label"),
                F.col("n_nodes").cast("long").alias("n_nodes"),
                F.coalesce("intra_edges", F.lit(0)).cast("long")
                 .alias("intra_edges"),
                F.coalesce("degree_sum", F.lit(0)).cast("long")
                 .alias("degree_sum"),
                (F.expr(f"{MOD_SCALE} * coalesce(intra_edges, 0)"
                        f" div m")
                 - F.expr(f"{MOD_SCALE}"
                          f" * CAST(coalesce(degree_sum, 0)"
                          f" AS DECIMAL(38,0))"
                          f" * coalesce(degree_sum, 0)"
                          f" div (4 * CAST(m AS DECIMAL(38,0)) * m)"))
                .cast("long").alias("q_micro"))
            .orderBy("label"))


QUERIES["graph_modularity"] = graph_modularity
ORACLES["graph_modularity"] = f"""
WITH ps AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem
  WHERE instr('{_HEX}',
              substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1)) - 1
        < {BASKET_SAMPLE_HEX}),
deg0 AS (SELECT o, COUNT(*) AS ns FROM ps GROUP BY o),
small AS (SELECT ps.o, ps.s FROM ps JOIN deg0 ON deg0.o = ps.o
          WHERE deg0.ns <= {MAX_BASKET}),
pairs AS (
  SELECT DISTINCT a.s AS u, b.s AS v
  FROM small a JOIN small b ON a.o = b.o AND a.s < b.s),
edges AS (
  SELECT u AS src, v AS dst FROM pairs
  UNION ALL SELECT v, u FROM pairs),
r0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
{_lpa_iter_sql('r0', 'r1')},
{_lpa_iter_sql('r1', 'r2')},
{_lpa_iter_sql('r2', 'r3')},
m_tot AS (SELECT COUNT(*) AS m FROM pairs),
intra AS (
  SELECT la.label, COUNT(*) AS intra_edges
  FROM pairs p
  JOIN r3 la ON la.node = p.u
  JOIN r3 lb ON lb.node = p.v AND lb.label = la.label
  GROUP BY la.label),
degs AS (
  SELECT la.label, COUNT(*) AS degree_sum
  FROM edges e JOIN r3 la ON la.node = e.src
  GROUP BY la.label),
nn AS (SELECT label, COUNT(*) AS n_nodes FROM r3 GROUP BY label)
SELECT CAST(nn.label AS BIGINT) AS label,
       CAST(nn.n_nodes AS BIGINT) AS n_nodes,
       CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
       CAST(COALESCE(d.degree_sum, 0) AS BIGINT) AS degree_sum,
       CAST({MOD_SCALE} * COALESCE(i.intra_edges, 0) // m.m
            - {MOD_SCALE} * CAST(COALESCE(d.degree_sum, 0) AS HUGEINT)
              * COALESCE(d.degree_sum, 0)
              // (4 * CAST(m.m AS HUGEINT) * m.m) AS BIGINT)
         AS q_micro
FROM nn
LEFT JOIN degs d ON d.label = nn.label
LEFT JOIN intra i ON i.label = nn.label
CROSS JOIN m_tot m
ORDER BY label
"""


# ---------------------------------------------------------------------------
# local clustering coefficient + degree assortativity
# ---------------------------------------------------------------------------

#: the shared DuckDB scaffold: sampled baskets -> capped edges -> degrees
_DUCK_EDGE_DEG_CTE = f"""
WITH ps AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem
            WHERE instr('0123456789abcdef', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1))
                  - 1 < {BASKET_SAMPLE_HEX}),
dsz AS (SELECT o, COUNT(*) AS ns FROM ps GROUP BY o),
small AS (SELECT ps.o, ps.s FROM ps JOIN dsz ON dsz.o = ps.o
          WHERE dsz.ns <= {MAX_BASKET}),
edges AS (SELECT DISTINCT a.s AS u, b.s AS v
          FROM small a JOIN small b ON a.o = b.o AND a.s < b.s),
deg AS (SELECT node, COUNT(*) AS d FROM (
          SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
        GROUP BY node)
"""


def _edge_degrees(spark, sf_dir):
    """(edges, deg) over the memoized co-purchase edge substrate —
    degree is the endpoint count over both orientations.  The degree
    relation is session-memoized too (|nodes| rows): assortativity's
    plan referenced it twice and re-ran the union-all aggregation per
    reference per invocation (4 edge scans + 2 exchanges each run);
    now every consumer broadcasts the same 20k-row cached relation."""
    from .cache_registry import cached, materialized
    edges = _edges_cached(spark, sf_dir)

    def build():
        return materialized(
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node").agg(F.count(F.lit(1)).alias("d")))
    return edges, cached("graph.deg", spark, sf_dir, build)


def graph_clustering_coefficient(spark, sf_dir):
    """Local clustering coefficient per node (Watts-Strogatz 1998):
    cc(v) = 2 * triangles(v) / (deg(v) * (deg(v) - 1)), published as an
    exact permille via BIGINT div — the community-density read next to
    graph_triangle_count's raw counts.  Top 20 by coefficient
    (tie-broken by triangle count then node — deterministic).

    Magnitude at 100x: 2000 * tri(v) <= 1000 * deg(v)^2 ~ 1e11 at
    deg 1e4 and deg*(deg-1) ~ 1e8 — both far inside BIGINT; no
    products of global aggregates.

    Scale shape: the memoized edge substrate feeds one wedge join
    (triangle_participation — the same plan triangle_count pins) and
    one union-all degree agg; the final join is node-keyed.
    """
    edges, deg = _edge_degrees(spark, sf_dir)
    tri = _tri_counts(spark, sf_dir)
    return (deg.filter(F.col("d") >= 2)
            .join(tri, "node", "left")
            .select(F.col("node").cast("long").alias("node"),
                    F.col("d").cast("long").alias("degree"),
                    F.coalesce("tri_cnt", F.lit(0)).cast("long")
                     .alias("tri_cnt"),
                    F.expr("2000 * coalesce(tri_cnt, 0) div (d * (d - 1))")
                     .cast("long").alias("cc_permille"))
            .orderBy(F.col("cc_permille").desc(),
                     F.col("tri_cnt").desc(), "node")
            .limit(20))


QUERIES["graph_clustering_coefficient"] = graph_clustering_coefficient
ORACLES["graph_clustering_coefficient"] = _DUCK_EDGE_DEG_CTE + """,
tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
tc AS (SELECT node, COUNT(*) AS tri_cnt FROM (
         SELECT a AS node FROM tri
         UNION ALL SELECT b FROM tri
         UNION ALL SELECT c FROM tri)
       GROUP BY node)
SELECT CAST(deg.node AS BIGINT) AS node,
       CAST(deg.d AS BIGINT) AS degree,
       CAST(COALESCE(tc.tri_cnt, 0) AS BIGINT) AS tri_cnt,
       CAST(2000 * COALESCE(tc.tri_cnt, 0) // (deg.d * (deg.d - 1))
            AS BIGINT) AS cc_permille
FROM deg LEFT JOIN tc ON tc.node = deg.node
WHERE deg.d >= 2
ORDER BY cc_permille DESC, tri_cnt DESC, node LIMIT 20
"""


def graph_assortativity(spark, sf_dir):
    """Degree assortativity of the co-purchase graph (Newman 2002,
    "Assortative mixing in networks", eq. 4): the Pearson correlation
    of endpoint degrees over edges, computed EXACTLY in integer sums —
    r = (4*M*Se - S1^2) / (2*M*S2 - S1^2) with S1 = sum(du+dv),
    S2 = sum(du^2+dv^2), Se = sum(du*dv) over the M edges.  Published
    as r_micro = 1e6 * num div den (both engines' integral division
    truncates toward zero, so the negative case agrees too).

    Magnitude at 100x: deg <= ~1e4 under the basket cap's hub guard,
    M ~ 1e11, so Se ~ 1e19, 4*M*Se ~ 4e30 and S1^2 ~ 4e30 — inside
    decimal(38,0)/HUGEINT with 7 digits to spare; BIGINT would wrap.

    Scale shape: two node-keyed joins pin degrees onto edges (the
    degree relation is |nodes|, broadcastable), then ONE map-side
    combinable global agg; no windows, no driver state.
    """
    edges, deg = _edge_degrees(spark, sf_dir)
    dec = "decimal(38,0)"
    ed = (edges
          .join(deg.select(F.col("node").alias("u"),
                           F.col("d").alias("du")), "u")
          .join(deg.select(F.col("node").alias("v"),
                           F.col("d").alias("dv")), "v")
          .select(F.col("du").cast(dec).alias("du"),
                  F.col("dv").cast(dec).alias("dv")))
    s = ed.agg(
        F.count(F.lit(1)).cast(dec).alias("m"),
        F.sum(F.col("du") + F.col("dv")).cast(dec).alias("s1"),
        F.sum(F.col("du") * F.col("du")
              + F.col("dv") * F.col("dv")).cast(dec).alias("s2"),
        F.sum(F.col("du") * F.col("dv")).cast(dec).alias("se"))
    # den = 0 iff every endpoint degree is equal (a regular graph —
    # assortativity undefined); publish 0 instead of NULL-vs-ANSI-throw
    # divergence (non-ANSI Spark and DuckDB return NULL, ANSI throws)
    return s.select(
        F.col("m").cast("long").alias("m_edges"),
        F.expr("CAST(CASE WHEN 2 * m * s2 - s1 * s1 = 0 THEN 0 "
               "ELSE 1000000 * (4 * m * se - s1 * s1) "
               "div (2 * m * s2 - s1 * s1) END AS BIGINT)")
         .alias("r_micro"))


QUERIES["graph_assortativity"] = graph_assortativity
ORACLES["graph_assortativity"] = _DUCK_EDGE_DEG_CTE + """,
ed AS (SELECT CAST(da.d AS HUGEINT) AS du, CAST(db.d AS HUGEINT) AS dv
       FROM edges e JOIN deg da ON da.node = e.u
                    JOIN deg db ON db.node = e.v),
s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m,
             SUM(du + dv) AS s1,
             SUM(du * du + dv * dv) AS s2,
             SUM(du * dv) AS se
      FROM ed)
SELECT CAST(m AS BIGINT) AS m_edges,
       CAST(CASE WHEN 2 * m * s2 - s1 * s1 = 0 THEN 0
            ELSE 1000000 * (4 * m * se - s1 * s1)
                 // (2 * m * s2 - s1 * s1) END AS BIGINT) AS r_micro
FROM s
"""


def graph_degree_distribution(spark, sf_dir):
    """Power-of-two degree histogram of the co-purchase graph — the
    first summary a graph owner reads (is the degree tail heavy enough
    to need hub guards?).  Bucket = length(bin(degree)) = floor(log2)+1
    computed on the BINARY STRING so both engines bucket integer-exactly
    (float log2 at exact powers of two is an engine-rounding trap).

    Magnitude at 100x: counts only; sum(degree) = 2M <= 2e11 — BIGINT.

    Scale shape: the memoized edge substrate, one union-all degree agg,
    one |buckets|-row histogram agg (<= 64 rows by construction).
    """
    _edges, deg = _edge_degrees(spark, sf_dir)
    return (deg.select(F.expr("length(bin(d))").cast("long")
                       .alias("bucket"), "d")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
                 F.min("d").cast("long").alias("min_degree"),
                 F.max("d").cast("long").alias("max_degree"),
                 F.sum("d").cast("long").alias("sum_degree"))
            .orderBy("bucket"))


QUERIES["graph_degree_distribution"] = graph_degree_distribution
ORACLES["graph_degree_distribution"] = _DUCK_EDGE_DEG_CTE + """
SELECT CAST(length(bin(d)) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(d) AS BIGINT) AS min_degree,
       CAST(MAX(d) AS BIGINT) AS max_degree,
       CAST(SUM(d) AS BIGINT) AS sum_degree
FROM deg GROUP BY 1 ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Two-hop reach (neighborhood-size expansion)
# ---------------------------------------------------------------------------

def graph_two_hop_reach(spark, sf_dir):
    """Top-20 parts by two-hop reach: |{w : dist(node, w) <= 2}| over
    the co-purchase graph, published next to the one-hop degree — the
    neighborhood-growth profile (how fast does the graph ball expand?),
    the local lens on the same substrate the clustering coefficient
    reads, and the candidate-volume estimator for any
    friend-of-a-friend recommender over the graph.

    Scale shape: the adjacency-array relation (|nodes| rows) joins the
    bidirectional edge list on the middle node and the per-source
    distinct collapses to a codegen array_distinct — never an n x n
    matrix; the hub guard (MAX_BASKET) bounds each basket's fan-out so
    the shipped set volume is O(sum deg^2) with bounded basket degree.
    The join is unhinted: the planner broadcasts the adjacency side at
    bench scale (its stats flow from the memoized substrate) and
    degrades to a b-keyed shuffle hash join once adjacency outgrows the
    broadcast cap — either way one a-keyed exchange total.  The
    memoized edge substrate is shared with the five other graph
    operators (one derivation per session/dir).

    Magnitude: reach <= |nodes| <= 2e8 parts at 100x — trivial BIGINT.

    Reference analogue: none (engine-added scale operator; the
    reference has no graph surface).
    """
    edges = _edges_cached(spark, sf_dir)
    bidir = (edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
             .unionAll(edges.select(F.col("v").alias("a"),
                                    F.col("u").alias("b"))))
    # Neighbor-SET merge instead of the exploded wedge countDistinct
    # (r15): each edge row carries its endpoint's whole neighbor set
    # ONCE and the per-source distinct collapses to a codegen
    # array_distinct over the flattened sets — ONE a-keyed exchange of
    # |edges| array rows total, where the wedge stream paid a
    # (a, x)-keyed exchange of the full O(sum deg^2) expansion plus the
    # a-keyed re-exchange (guide §2.3/§2.4: same bytes, one exchange).
    # deg(a) falls out of the same aggregation (the join on b is 1:1),
    # so the separate degree pass + join disappears too.
    # a itself always sits in the flattened sets (a in N(b) for every
    # neighbor b), never in its own set (no self-loops) — subtracting 1
    # reproduces the exact (N(a) ∪ N²(a)) \ {a} count.  Measured
    # steady-state 4.3s -> 2.7s, identical rows.  The neighbor-set
    # relation is the memoized substrate shared with link prediction
    # (set contents identical; array_distinct/size are order-blind).
    nbr = _nbr_arrays(spark, sf_dir)
    merged = (bidir.join(
                nbr.select(F.col("n").alias("b"), "nb"), "b")
              .groupBy("a")
              .agg(F.count(F.lit(1)).alias("deg"),
                   F.flatten(F.collect_list("nb")).alias("flat")))
    return (merged.join(
                nbr.select(F.col("n").alias("a"), F.col("nb").alias("own")),
                "a")
            .select(F.col("a").cast("long").alias("node"),
                    F.col("deg").cast("long").alias("deg"),
                    (F.size(F.array_distinct(F.concat("flat", "own"))) - 1)
                    .cast("long").alias("reach2"))
            .orderBy(F.col("reach2").desc(), "node").limit(20))


QUERIES["graph_two_hop_reach"] = graph_two_hop_reach
ORACLES["graph_two_hop_reach"] = f"""
WITH ps AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem
  WHERE instr('{_HEX}',
              substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1)) - 1
        < {BASKET_SAMPLE_HEX}),
deg0 AS (SELECT o, COUNT(*) AS ns FROM ps GROUP BY o),
small AS (SELECT ps.o, ps.s FROM ps JOIN deg0 ON deg0.o = ps.o
          WHERE deg0.ns <= {MAX_BASKET}),
pairs AS (
  SELECT DISTINCT a.s AS u, b.s AS v
  FROM small a JOIN small b ON a.o = b.o AND a.s < b.s),
bidir AS (
  SELECT u AS a, v AS b FROM pairs
  UNION ALL SELECT v AS a, u AS b FROM pairs),
hop AS (
  SELECT a, b AS x FROM bidir
  UNION
  SELECT e1.a, e2.b AS x
  FROM bidir e1 JOIN bidir e2 ON e2.a = e1.b
  WHERE e2.b <> e1.a),
reach AS (SELECT a, COUNT(*) AS reach2 FROM hop GROUP BY a),
deg AS (SELECT a, COUNT(*) AS deg FROM bidir GROUP BY a)
SELECT CAST(r.a AS BIGINT) AS node,
       CAST(d.deg AS BIGINT) AS deg,
       CAST(r.reach2 AS BIGINT) AS reach2
FROM reach r JOIN deg d ON d.a = r.a
ORDER BY reach2 DESC, node LIMIT 20
"""
