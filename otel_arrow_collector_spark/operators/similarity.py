"""Similarity-search operators over ``embeddings`` (array<float>, 64-dim):
brute-force cosine top-k (the baseline), random-hyperplane LSH bucketing,
and IVF (inverted-file) cell assignment + probe — the scale paths.

Cross-engine determinism: dot products are sequential double
accumulation in both engines (verified bit-exact); LSH hyperplanes are
deterministic small-integer vectors (no RNG — plane_j[d] = ((j*31+d*17)%7)-3)
so bucket bits are exact; IVF training is a REAL deterministic k-means
(Lloyd's, fixed init = first K vectors, KMEANS_ITERS iterations, trained on
the vec_id % KMEANS_SAMPLE_MOD == 0 sample) whose per-dimension means are
sequential double folds over vec_id-ordered lists — bit-identical between
Spark (``aggregate`` over ``array_sort(collect_list(...))``) and DuckDB
(``list_reduce`` over ``list(... ORDER BY vec_id)``), so both engines
derive the same centroids and hence the same cell assignments with no
float-tolerance handwaving.

Scale stance (100 TB / billions of vectors):
- brute-force top-k: broadcast the query set, one scan of the corpus,
  per-partition heaps via window rank — no shuffle of the corpus itself.
- LSH: one narrow map -> groupBy bucket; bucket ids are near-uniform.
- IVF: k-means trains on a fixed-modulus sample (at 100 TB you train on a
  sample, never the corpus); only the 8x64 model reaches the driver;
  assignment is one map over the corpus, with the model carried in the
  projection as a constant array (no join, no shuffle); the assigned
  corpus is materialized
  hive-partitioned by cell id so the probe scan partition-prunes to the
  probed cells (PartitionFilters, no full-corpus I/O).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources.tables import load_table
from .cache_registry import _StoreDir, cached, materialized

QUERIES: dict = {}
ORACLES: dict = {}

N_QUERY = 5          # brute-force query vectors: vec_id < N_QUERY
TOP_K = 5
N_PLANES = 8         # LSH hyperplanes -> 256 buckets
N_CENTROIDS = 8      # IVF cells: k-means k, init = first N_CENTROIDS vecs
KMEANS_ITERS = 2     # fixed Lloyd's iterations (determinism > convergence)
KMEANS_SAMPLE_MOD = 10  # train on vec_id % MOD == 0 (the at-scale sample)
PROBE_IDS = (42, 123, 321)
PROBE_K = 3


def _planes() -> list[list[float]]:
    """Deterministic integer hyperplanes in [-3, 3]^64 (no RNG)."""
    return [[float(((j * 31 + d * 17) % 7) - 3) for d in range(64)]
            for j in range(N_PLANES)]


# --- Spark SQL expression fragments (mirrored 1:1 in the DuckDB oracles) ---

def _s_dot(a: str, b: str) -> str:
    # Compact HOF form: an unrolled 64-term sum is faster per-row (codegen)
    # but quadruples plan-compile time, which dominates at bench scale; the
    # fold keeps plans small and is bit-identical to DuckDB's sequential
    # list_dot_product.
    return (f"aggregate(zip_with({a}, {b}, "
            f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)")


def _d_dot(a: str, b: str) -> str:
    return (f"list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)), "
            f"list_transform({b}, x -> CAST(x AS DOUBLE)))")


def _d_cos(a: str, b: str) -> str:
    return f"({_d_dot(a, b)} / (sqrt({_d_dot(a, a)}) * sqrt({_d_dot(b, b)})))"


def _s_plane_literal(plane: list[float]) -> str:
    return "array(" + ", ".join(f"CAST({c:.1f} AS DOUBLE)" for c in plane) + ")"


def _d_plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(f"{c:.1f}" for c in plane) + "]::DOUBLE[]"


# ---------------------------------------------------------------------------
# brute-force cosine top-k (the correctness baseline)
# ---------------------------------------------------------------------------

def ann_cosine_topk(spark, sf_dir):
    """Exact top-k neighbors for each query vector (vec_id < N_QUERY).
    Query side is broadcast; corpus is scanned once."""
    # Norms come precomputed from the persisted per-(session,dir) corpus
    # (1 dot per pair instead of 3; bit-identical to the inline oracle
    # formula — same ops, same order, just hoisted and cached).
    be = bucketed_embeddings(spark, sf_dir)
    q = (be.filter(F.col("vec_id") < N_QUERY)
           .select(F.col("vec_id").alias("q_id"),
                   F.col("embedding").alias("q_emb"),
                   F.col("nrm").alias("q_nrm")))
    cand = be.select("vec_id", "embedding", F.col("nrm").alias("c_nrm"))
    cos = F.expr(_s_dot("q_emb", "embedding")) / (F.col("q_nrm") * F.col("c_nrm"))
    w = Window.partitionBy("q_id").orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
    return (F.broadcast(q).join(cand, F.col("q_id") != F.col("vec_id"))
            .select("q_id", "vec_id", cos.alias("cos_raw"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= TOP_K)
            .select("q_id", "vec_id", F.round("cos_raw", 6).alias("cos"),
                    F.col("rk").cast("long").alias("rk"))
            .orderBy("q_id", "rk"))


QUERIES["ann_cosine_topk"] = ann_cosine_topk
ORACLES["ann_cosine_topk"] = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERY}),
scored AS (
  SELECT q.q_id, e.vec_id, {_d_cos("q.q_emb", "e.embedding")} AS cos_raw
  FROM q JOIN embeddings e ON e.vec_id != q.q_id),
ranked AS (
  SELECT q_id, vec_id, cos_raw,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS rk
  FROM scored)
SELECT q_id, vec_id, ROUND(cos_raw, 6) AS cos, rk
FROM ranked WHERE rk <= {TOP_K} ORDER BY q_id, rk
"""


# ---------------------------------------------------------------------------
# random-hyperplane LSH bucketing (ANN recall stage)
# ---------------------------------------------------------------------------

def bucketed_embeddings(spark, sf_dir):
    """(vec_id, embedding, bucket, nrm): sign-of-projection LSH bucket +
    norm per vector.  Persisted per (session, dir) via the bounded
    registry — shared by the bucket histogram and the embedding near-dup
    blocking join (operators/dedup.py)."""
    def build():
        e = load_table(spark, sf_dir, "embeddings")
        bucket = " + ".join(
            f"(CASE WHEN {_s_dot('embedding', _s_plane_literal(p))} >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j, p in enumerate(_planes()))
        norm = F.expr(f"sqrt({_s_dot('embedding', 'embedding')})")
        return materialized(
            e.select("vec_id", "embedding",
                     F.expr(bucket).alias("bucket"), norm.alias("nrm")))
    return cached("sim.bucketed", spark, sf_dir, build)


def ann_lsh_buckets(spark, sf_dir):
    """Sign-of-projection LSH: 8 deterministic hyperplanes -> 256 buckets;
    bucket histogram (candidate generation joins on the bucket id)."""
    return (bucketed_embeddings(spark, sf_dir)
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("bucket"))


QUERIES["ann_lsh_buckets"] = ann_lsh_buckets
ORACLES["ann_lsh_buckets"] = """
WITH t AS (SELECT (
""" + " + ".join(
    f"(CASE WHEN {_d_dot('embedding', _d_plane_literal(p))} >= 0 "
    f"THEN {1 << j} ELSE 0 END)"
    for j, p in enumerate(_planes())
) + """
) AS bucket FROM embeddings)
SELECT bucket, COUNT(*) AS n FROM t GROUP BY bucket ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# IVF: centroid assignment + cell-local probe
# ---------------------------------------------------------------------------

def _assignments(spark, sf_dir):
    """(vec_id, embedding, v_nrm, cid): nearest-centroid assignment by
    cosine, tie-break on centroid id, one projection over the corpus.
    Persisted per (session, dir): the assign histogram and the probe both
    consume it (probe references it twice)."""
    return cached("sim.assign", spark, sf_dir,
                  lambda: materialized(_build_assignments(spark, sf_dir)))


def _dlit(x: float) -> str:
    """A double as an exact SQL literal: ``repr`` round-trips and the
    ``D`` suffix parses with Java's correctly rounded ``parseDouble``
    (``-0.0`` keeps its sign)."""
    return f"{x!r}D"


def _model_lit(model) -> str:
    """The centroid model as ONE constant array<struct<cid, c_emb,
    c_nrm>> SQL expression — 8x64 doubles, constant-folded by Catalyst
    to a single literal that every task of the projection carries."""
    return "array(" + ", ".join(
        f"named_struct('cid', {cid}L, 'c_emb', array("
        + ", ".join(_dlit(x) for x in emb)
        + f"), 'c_nrm', {_dlit(nrm)})"
        for cid, emb, nrm in model) + ")"


def _nearest_centroid(vecs, model):
    """Assign each vector to its max-cosine centroid (tie-break on cid).
    ``vecs``: (vec_id, embedding, nrm[, ...]); ``model``: the
    (cid, c_emb, c_nrm) rows of :func:`_kmeans_model`.

    One narrow projection: the model rides in the expression as a
    constant array and ``array_max`` over ``struct(cos, -cid)`` picks
    the highest cosine, lowest cid on ties — the oracle's ROW_NUMBER
    ... ORDER BY c_cos DESC, cid — with no join, no shuffle and no job
    to read the model.  Norms are hoisted but computed by the SAME fold
    as the oracle's inline sqrt(dot(x,x)), so the quotient is
    bit-identical."""
    best = F.expr(
        f"array_max(transform({_model_lit(model)}, c -> struct("
        f"{_s_dot('embedding', 'c.c_emb')} / (nrm * c.c_nrm) AS c_cos, "
        f"-c.cid AS neg)))")
    return vecs.select("vec_id", "embedding", "nrm",
                       (-best["neg"]).alias("cid"))


def _own_centroid_cos(model) -> F.Column:
    """Cosine of each assigned vector (embedding, v_nrm, cid) to its OWN
    centroid, the model looked up by cid inside the projection (no
    join: reading the model runs no job)."""
    return F.expr(
        f"get(transform(filter({_model_lit(model)}, c -> c.cid = cid), "
        f"c -> {_s_dot('embedding', 'c.c_emb')} / (v_nrm * c.c_nrm)), 0)")


#: per-cell centroid as 64 sequential double folds over the cell's
#: vec_id-ordered members — ONE hash aggregation per iteration (no
#: posexplode row blowup, no second shuffle), summation order identical
#: to the oracle's list_reduce-over-ordered-list, so bit-exact.
_S_CELL_MEAN = """transform(sequence(0, 63), d ->
  aggregate(vs, CAST(0 AS DOUBLE),
            (a, p) -> a + CAST(p.embedding[d] AS DOUBLE)) / CAST(n AS DOUBLE))"""

#: the centroid norm, by the same fold as every vector norm
_S_C_NRM = f"sqrt({_s_dot('c_emb', 'c_emb')})"


def _kmeans_model(spark, sf_dir) -> tuple:
    """Deterministic Lloyd's k-means over the training sample: fixed init
    (first K vectors), KMEANS_ITERS iterations, order-pinned exact means.

    The 8x64 centroid model is collected to the driver between iterations
    (MLlib-style iterative training: per-dim mean AGGREGATION stays
    distributed over the sample, only the model parameters round-trip).
    Doubles pass through the driver bit-exactly, so parity with the
    oracle's unrolled CTE chain is preserved.  Returns the model as
    cid-ordered (cid, c_emb, c_nrm) tuples; c_nrm is computed in Spark
    by the same fold as every vector norm.

    The trained model is memoized per (application, dir) — it is a
    model artifact, like the cell store; consumers (assignment build,
    multi-probe cell ranking, the PQ codebook) must not re-run the
    training loop."""
    def rows(df) -> tuple:
        return tuple(sorted((r.cid, tuple(r.c_emb), r.c_nrm)
                            for r in df.select(
                                "cid", "c_emb",
                                F.expr(_S_C_NRM).alias("c_nrm")).collect()))

    def build():
        be = bucketed_embeddings(spark, sf_dir)
        model = rows(be.filter(F.col("vec_id") < N_CENTROIDS)
                       .select(F.col("vec_id").alias("cid"), F.expr(
                           "transform(embedding, x -> CAST(x AS DOUBLE))")
                           .alias("c_emb")))
        sample = (be.filter(F.col("vec_id") % KMEANS_SAMPLE_MOD == 0)
                    .select("vec_id", "embedding", "nrm"))
        for _ in range(KMEANS_ITERS):
            model = rows(
                _nearest_centroid(sample, model)
                .groupBy("cid")
                .agg(F.expr(
                     "array_sort(collect_list(struct(vec_id, embedding)))")
                      .alias("vs"),
                     F.count(F.lit(1)).alias("n"))
                .select("cid", F.expr(_S_CELL_MEAN).alias("c_emb")))
        return model
    return cached("sim.centroids", spark, sf_dir, build)


def _kmeans_centroids(spark, sf_dir):
    """The trained model as a (cid, c_emb, c_nrm) LocalRelation, for the
    operators that cross it with a query relation."""
    return local_frame(spark, _kmeans_model(spark, sf_dir),
                       "cid long, c_emb array<double>, c_nrm double")


def _build_assignments(spark, sf_dir):
    be = bucketed_embeddings(spark, sf_dir)
    vecs = be.select("vec_id", "embedding", "nrm")
    return (_nearest_centroid(vecs, _kmeans_model(spark, sf_dir))
            .select("vec_id", "embedding", F.col("nrm").alias("v_nrm"),
                    "cid"))


def _duck_kmeans_ctes() -> str:
    """The oracle twin of _kmeans_centroids + final full-corpus assignment:
    unrolled KMEANS_ITERS iterations; per-dim means via list_reduce over
    vec_id-ordered lists (bit-identical to the Spark fold)."""
    ctes = [f"""c0 AS (SELECT vec_id AS cid,
      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c_emb
      FROM embeddings WHERE vec_id < {N_CENTROIDS})"""]
    for i in range(KMEANS_ITERS):
        ctes.append(f"""a{i} AS (SELECT vec_id, embedding, cid FROM (
      SELECT e.vec_id, e.embedding, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                ORDER BY {_d_cos("e.embedding", "c.c_emb")} DESC, c.cid) AS rk
      FROM embeddings e CROSS JOIN c{i} c
      WHERE e.vec_id % {KMEANS_SAMPLE_MOD} = 0) WHERE rk = 1)""")
        ctes.append(f"""m{i} AS (SELECT cid, dim,
      list_reduce(list(CAST(embedding[CAST(dim AS INT)] AS DOUBLE)
                       ORDER BY vec_id), (a, v) -> a + v) / COUNT(*) AS mu
      FROM a{i} CROSS JOIN (SELECT UNNEST(range(1, 65)) AS dim) d
      GROUP BY cid, dim)""")
        ctes.append(f"""c{i + 1} AS (SELECT cid, list(mu ORDER BY dim) AS c_emb
      FROM m{i} GROUP BY cid)""")
    ctes.append(f"""assign AS (SELECT vec_id, embedding, cid FROM (
      SELECT e.vec_id, e.embedding, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                ORDER BY {_d_cos("e.embedding", "c.c_emb")} DESC, c.cid) AS rk
      FROM embeddings e CROSS JOIN c{KMEANS_ITERS} c) WHERE rk = 1)""")
    return "WITH " + ",\n".join(ctes)


_DUCK_ASSIGN_CTE = _duck_kmeans_ctes()


def _cid_store(df, tag: str):
    """Write ``df`` hive-partitioned by ``cid`` into a fresh store
    directory and read it back: the ``(reader, directory)`` value of a
    file-store entry, whose release deletes the directory.

    Repartitioning by cell first writes one task/file per cell directory
    instead of (tasks x cells) fragments — faster commit, faster probe
    scans.  The reader handle lives in the entry too: a fresh
    ``spark.read.parquet`` per invocation would re-run hive-partition
    discovery + footer schema reads — one Spark job of pure plan-build
    overhead per probe query (~0.5 s/call on the ADC serving paths)."""
    path = _StoreDir(tag)
    (df.repartition("cid")
       .write.mode("overwrite").partitionBy("cid").parquet(path))
    return df.sparkSession.read.parquet(path), path


def load_cell_store(spark, sf_dir):
    """The assigned corpus hive-partitioned by cell id, as a DataFrame;
    built once per (application, sf_dir).

    This is the IVF index build: at 100 TB the probe must read only the
    probed cells' directories (PartitionFilters), never the whole corpus.
    """
    return cached("sim.cell_store", spark, sf_dir,
                  lambda: _cid_store(_assignments(spark, sf_dir), "ivf"))[0]


def ann_ivf_assign(spark, sf_dir):
    """IVF cell histogram (deterministic sample-trained k-means cells)."""
    return (_assignments(spark, sf_dir)
            .groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("cid"))


QUERIES["ann_ivf_assign"] = ann_ivf_assign
ORACLES["ann_ivf_assign"] = _DUCK_ASSIGN_CTE + """
SELECT cid, COUNT(*) AS n FROM assign GROUP BY cid ORDER BY cid
"""


def ann_ivf_probe(spark, sf_dir):
    """IVF search: for each probe query, rank only vectors in the query's
    own cell (nprobe=1), read from the cell-partitioned store so the scan
    partition-prunes to the probed cells (PartitionFilters on cid).

    The prune stays ENTIRELY JVM-side: the tiny query relation is
    broadcast and Dynamic Partition Pruning derives the probed-cell
    directory filter from the broadcast join itself
    (``dynamicpruningexpression`` on cid — pinned by
    test_plan_quality), so no per-query driver collect and no extra
    Spark jobs (verdict r14 ask #3; pre-r15 this was a collect into a
    literal ``cid IN``).
    """
    a = _assignments(spark, sf_dir)
    q = (a.filter(F.col("vec_id").isin(*PROBE_IDS))
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_emb"),
                  F.col("v_nrm").alias("q_nrm"),
                  F.col("cid").alias("q_cid")))
    cand = load_cell_store(spark, sf_dir)
    # norms hoisted from _assignments: one dot per candidate pair, not 3
    cos = F.expr(_s_dot("q_emb", "embedding")) / (F.col("q_nrm") * F.col("v_nrm"))
    w = Window.partitionBy("q_id").orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
    return (F.broadcast(q)
            .join(cand, (F.col("q_cid") == F.col("cid"))
                  & (F.col("q_id") != F.col("vec_id")))
            .select("q_id", "vec_id", cos.alias("cos_raw"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= PROBE_K)
            .select("q_id", "vec_id", F.round("cos_raw", 6).alias("cos"),
                    F.col("rk").cast("long").alias("rk"))
            .orderBy("q_id", "rk"))


QUERIES["ann_ivf_probe"] = ann_ivf_probe
_probe_list = ", ".join(str(i) for i in PROBE_IDS)
ORACLES["ann_ivf_probe"] = _DUCK_ASSIGN_CTE + f""",
q AS (SELECT vec_id AS q_id, embedding AS q_emb, cid AS q_cid
      FROM assign WHERE vec_id IN ({_probe_list})),
probed AS (SELECT q.q_id, a.vec_id, {_d_cos("q.q_emb", "a.embedding")} AS cos_raw
           FROM q JOIN assign a ON a.cid = q.q_cid AND a.vec_id != q.q_id),
ranked AS (SELECT q_id, vec_id, cos_raw,
                  ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY cos_raw DESC, vec_id) AS rk
           FROM probed)
SELECT q_id, vec_id, ROUND(cos_raw, 6) AS cos, rk
FROM ranked WHERE rk <= {PROBE_K} ORDER BY q_id, rk
"""


# ---------------------------------------------------------------------------
# IVF multi-probe (nprobe > 1): the recall knob
# ---------------------------------------------------------------------------

NPROBE = 2


def ann_ivf_multiprobe(spark, sf_dir):
    """IVF search with nprobe=NPROBE: each query ranks the centroids by
    cosine and scans its top-NPROBE cells, trading nprobe× I/O for recall
    (the standard IVF recall knob; nprobe=1 is ann_ivf_probe).

    Scale path identical to the single-probe operator: the tiny (query
    × probed-cell) map is broadcast against the cell-partitioned store
    and Dynamic Partition Pruning turns it into the directory filter —
    all but nprobe×|queries| cells skipped, zero driver round-trips.

    The (|queries| × k)-row result persists in the bounded cache
    registry: ``ann_recall_report`` consumes it as its IVF side, so the
    audit metric never re-runs the probe.
    """
    return cached("sim.multiprobe", spark, sf_dir,
                  lambda: materialized(
                      _ann_ivf_multiprobe_build(spark, sf_dir)))


def _ann_ivf_multiprobe_build(spark, sf_dir):
    a = _assignments(spark, sf_dir)
    cents = _kmeans_centroids(spark, sf_dir)
    q = (a.filter(F.col("vec_id").isin(*PROBE_IDS))
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_emb"),
                  F.col("v_nrm").alias("q_nrm")))
    c_cos = (F.expr(_s_dot("q_emb", "c_emb"))
             / (F.col("q_nrm") * F.col("c_nrm")))
    wc = Window.partitionBy("q_id").orderBy(F.col("c_cos").desc(), F.col("cid"))
    qc = (q.crossJoin(cents)
           .select("q_id", "q_emb", "q_nrm", "cid", c_cos.alias("c_cos"))
           .withColumn("prk", F.row_number().over(wc))
           .filter(F.col("prk") <= NPROBE)
           .select("q_id", "q_emb", "q_nrm", "cid"))
    cand = (load_cell_store(spark, sf_dir)
            .select("cid", "vec_id", "embedding", "v_nrm"))
    cos = F.expr(_s_dot("q_emb", "embedding")) / (F.col("q_nrm") * F.col("v_nrm"))
    w = Window.partitionBy("q_id").orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
    return (F.broadcast(qc)
            .join(cand, (qc.cid == cand.cid) & (F.col("q_id") != cand.vec_id))
            .select("q_id", "vec_id", cos.alias("cos_raw"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= PROBE_K)
            .select("q_id", "vec_id", F.round("cos_raw", 6).alias("cos"),
                    F.col("rk").cast("long").alias("rk"))
            .orderBy("q_id", "rk"))


QUERIES["ann_ivf_multiprobe"] = ann_ivf_multiprobe
ORACLES["ann_ivf_multiprobe"] = _DUCK_ASSIGN_CTE + f""",
q AS (SELECT vec_id AS q_id, embedding AS q_emb
      FROM assign WHERE vec_id IN ({_probe_list})),
pc AS (SELECT q_id, cid FROM (
  SELECT q.q_id, c.cid,
         ROW_NUMBER() OVER (PARTITION BY q.q_id
            ORDER BY {_d_cos("q.q_emb", "c.c_emb")} DESC, c.cid) AS prk
  FROM q CROSS JOIN c{KMEANS_ITERS} c) WHERE prk <= {NPROBE}),
probed AS (SELECT q.q_id, a.vec_id,
                  {_d_cos("q.q_emb", "a.embedding")} AS cos_raw
           FROM q JOIN pc ON pc.q_id = q.q_id
                JOIN assign a ON a.cid = pc.cid AND a.vec_id != q.q_id),
ranked AS (SELECT q_id, vec_id, cos_raw,
                  ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY cos_raw DESC, vec_id) AS rk
           FROM probed)
SELECT q_id, vec_id, ROUND(cos_raw, 6) AS cos, rk
FROM ranked WHERE rk <= {PROBE_K} ORDER BY q_id, rk
"""


# ---------------------------------------------------------------------------
# int8 scalar quantization (embedding storage compression)
# ---------------------------------------------------------------------------

def embedding_quantize_int8(spark, sf_dir):
    """Per-vector symmetric int8 quantization accounting: scale =
    max|x|/127, q = floor(x/scale + 0.5) (explicit half-up — identical
    in both engines, no ROUND-mode ambiguity), then report reconstruction
    fidelity (MSE and cosine of original vs dequantized) per vector.

    This is the storage-compression path for a 100 TB embedding store
    (4x smaller than float32, 8x smaller than float64): a pure codegen
    map over the corpus — no shuffle, no state — so it runs inside the
    scan at any scale.  Fidelity columns are the accept/reject signal for
    enabling quantized search.
    """
    be = bucketed_embeddings(spark, sf_dir)
    scale = ("greatest(array_max(transform(embedding, "
             "x -> abs(CAST(x AS DOUBLE)))), CAST(1e-30 AS DOUBLE)) / 127.0D")
    dq = ("transform(embedding, x -> "
          "floor(CAST(x AS DOUBLE) / sc + CAST(0.5 AS DOUBLE)) * sc)")
    mse = ("aggregate(zip_with(embedding, dq, (x, y) -> "
           "(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
           "CAST(0 AS DOUBLE), (a, v) -> a + v) / 64.0D")
    cos = (f"{_s_dot('embedding', 'dq')} / "
           f"(nrm * sqrt({_s_dot('dq', 'dq')}))")
    return (be.select("vec_id", "embedding", "nrm", F.expr(scale).alias("sc"))
              .select("vec_id", "embedding", "nrm", "sc",
                      F.expr(dq).alias("dq"))
              .select("vec_id",
                      F.round("sc", 8).alias("scale"),
                      F.round(F.expr(mse), 12).alias("mse"),
                      F.round(F.expr(cos), 6).alias("cos_fidelity"))
              .orderBy("vec_id").limit(200))


QUERIES["embedding_quantize_int8"] = embedding_quantize_int8
ORACLES["embedding_quantize_int8"] = f"""
WITH s AS (
  SELECT vec_id, embedding,
         greatest(list_max(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS sc
  FROM embeddings),
d AS (
  SELECT vec_id, embedding, sc,
         list_transform(embedding,
           x -> floor(CAST(x AS DOUBLE) / sc + 0.5) * sc) AS dq
  FROM s)
SELECT vec_id, ROUND(sc, 8) AS scale,
       ROUND(list_sum(list_transform(range(1, 65),
               i -> (CAST(embedding[CAST(i AS INT)] AS DOUBLE) - dq[CAST(i AS INT)])
                    * (CAST(embedding[CAST(i AS INT)] AS DOUBLE) - dq[CAST(i AS INT)])))
             / 64.0, 12) AS mse,
       ROUND({_d_dot("embedding", "dq")}
             / (sqrt({_d_dot("embedding", "embedding")})
                * sqrt({_d_dot("dq", "dq")})), 6) AS cos_fidelity
FROM d ORDER BY vec_id LIMIT 200
"""


# ---------------------------------------------------------------------------
# recall measurement: IVF multi-probe vs exact ground truth
# ---------------------------------------------------------------------------

def ann_recall_report(spark, sf_dir):
    """Recall@k of the IVF multi-probe path against the exact brute-force
    ground truth, per probe query — the acceptance metric that decides
    nprobe in production (recall/cost knob made measurable).

    Both sides are the engine's own operators: ground truth is one full
    corpus scan per query set (the audit cost you pay once), the IVF side
    reads only the probed cells.  The comparison is a tiny join on
    (q_id, vec_id) — |queries| x k rows.
    """
    be = bucketed_embeddings(spark, sf_dir)
    q = (be.filter(F.col("vec_id").isin(*PROBE_IDS))
           .select(F.col("vec_id").alias("q_id"),
                   F.col("embedding").alias("q_emb"),
                   F.col("nrm").alias("q_nrm")))
    cand = be.select("vec_id", "embedding", F.col("nrm").alias("c_nrm"))
    cos = F.expr(_s_dot("q_emb", "embedding")) / (F.col("q_nrm") * F.col("c_nrm"))
    w = Window.partitionBy("q_id").orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
    gt = (F.broadcast(q).join(cand, F.col("q_id") != F.col("vec_id"))
          .select("q_id", "vec_id", cos.alias("cos_raw"))
          .withColumn("rk", F.row_number().over(w))
          .filter(F.col("rk") <= PROBE_K)
          .select("q_id", "vec_id"))
    ivf = ann_ivf_multiprobe(spark, sf_dir).select("q_id", "vec_id")
    hits = (gt.join(ivf, ["q_id", "vec_id"])
              .groupBy("q_id").agg(F.count(F.lit(1)).alias("n_hits")))
    return (gt.groupBy("q_id").agg(F.count(F.lit(1)).alias("k"))
              .join(hits, "q_id", "left")
              .select("q_id",
                      F.coalesce("n_hits", F.lit(0)).cast("long")
                       .alias("n_hits"),
                      F.round(F.coalesce("n_hits", F.lit(0)).cast("double")
                              / F.col("k"), 4).alias("recall"))
              .orderBy("q_id"))


QUERIES["ann_recall_report"] = ann_recall_report
ORACLES["ann_recall_report"] = _DUCK_ASSIGN_CTE + f""",
q AS (SELECT vec_id AS q_id, embedding AS q_emb
      FROM assign WHERE vec_id IN ({_probe_list})),
pc AS (SELECT q_id, cid FROM (
  SELECT q.q_id, c.cid,
         ROW_NUMBER() OVER (PARTITION BY q.q_id
            ORDER BY {_d_cos("q.q_emb", "c.c_emb")} DESC, c.cid) AS prk
  FROM q CROSS JOIN c{KMEANS_ITERS} c) WHERE prk <= {NPROBE}),
probed AS (SELECT q.q_id, a.vec_id,
                  {_d_cos("q.q_emb", "a.embedding")} AS cos_raw
           FROM q JOIN pc ON pc.q_id = q.q_id
                JOIN assign a ON a.cid = pc.cid AND a.vec_id != q.q_id),
ivf AS (SELECT q_id, vec_id FROM (
  SELECT q_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_raw DESC, vec_id) AS rk
  FROM probed) WHERE rk <= {PROBE_K}),
gscored AS (SELECT q.q_id, e.vec_id,
                   {_d_cos("q.q_emb", "e.embedding")} AS cos_raw
            FROM q JOIN embeddings e ON e.vec_id != q.q_id),
gt AS (SELECT q_id, vec_id FROM (
  SELECT q_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_raw DESC, vec_id) AS rk
  FROM gscored) WHERE rk <= {PROBE_K}),
hits AS (SELECT g.q_id, COUNT(*) AS n_hits
         FROM gt g JOIN ivf i ON i.q_id = g.q_id AND i.vec_id = g.vec_id
         GROUP BY g.q_id)
SELECT g.q_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / COUNT(*), 4) AS recall
FROM gt g LEFT JOIN hits h ON h.q_id = g.q_id
GROUP BY g.q_id, h.n_hits ORDER BY g.q_id
"""


# ---------------------------------------------------------------------------
# PCA over the embedding corpus — dimensionality reduction for the
# embedding store (the at-scale preprocessing step before IVF/LSH: train
# on one distributed pass, project as a narrow scan map)
# ---------------------------------------------------------------------------

def pca_train(spark, sf_dir, k: int = 8):
    """Train a k-component PCA over ``embeddings`` in ONE distributed
    pass: each task folds its partition into (n, sum, sum-outer-product)
    with vectorized numpy (mapInArrow — Arrow batches in, no per-row
    Python), the driver combines the ~num-partitions tiny partials
    (64 + 64*64 doubles each), and eigendecomposes the 64x64 covariance
    locally (the classic big-data PCA split: covariance is distributed,
    the d x d eigenproblem is driver-trivial for embedding-sized d).

    Deterministic: partials combine by commutative addition, eigh is
    deterministic, and each component's sign is pinned (first
    max-magnitude element made positive).  Returns (mean: list[float],
    components: list[list[float]] k x d, explained_var: list[float]).
    """
    return cached("sim.pca", spark, sf_dir,
                  lambda: _pca_train_build(spark, sf_dir, k), extra=(k,))


def _pca_train_build(spark, sf_dir, k: int):
    emb = load_table(spark, sf_dir, "embeddings").select("embedding")

    def partials(batches):
        import numpy as np
        import pyarrow as pa
        n, s, ss = 0, None, None
        for b in batches:
            x = np.array(b.column("embedding").to_pylist(), dtype=np.float64)
            if x.size == 0:
                continue
            n += x.shape[0]
            s = x.sum(axis=0) if s is None else s + x.sum(axis=0)
            g = x.T @ x
            ss = g if ss is None else ss + g
        if n:
            yield pa.RecordBatch.from_pylist(
                [{"n": n, "s": s.tolist(), "ss": ss.reshape(-1).tolist()}],
                schema=pa.schema([pa.field("n", pa.int64()),
                                  pa.field("s", pa.list_(pa.float64())),
                                  pa.field("ss", pa.list_(pa.float64()))]))

    rows = emb.mapInArrow(
        partials, "n bigint, s array<double>, ss array<double>").collect()
    import numpy as np
    n = sum(r.n for r in rows)
    d = len(rows[0].s)
    s = np.sum([np.array(r.s) for r in rows], axis=0)
    ss = np.sum([np.array(r.ss).reshape(d, d) for r in rows], axis=0)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)          # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        pin = int(np.argmax(np.abs(v)))
        if v[pin] < 0:                         # sign convention
            v = -v
        comps.append(v.tolist())
    return (mean.tolist(), comps, [float(vals[i]) for i in order])


def pca_project(spark, sf_dir, k: int = 8):
    """Project every embedding onto the trained components — a pure scan
    map (numpy matmul per Arrow batch; the model rides in the closure as
    the broadcast pattern, like the IVF centroids).  Output:
    (vec_id, label, proj array<double> length k)."""
    mean, comps, _ = pca_train(spark, sf_dir, k)

    def project(batches):
        import numpy as np
        import pyarrow as pa
        m = np.array(mean)
        c = np.array(comps)                    # k x d
        for b in batches:
            if b.num_rows == 0:
                continue
            x = np.array(b.column("embedding").to_pylist(),
                         dtype=np.float64) - m
            p = x @ c.T                        # n x k
            yield pa.RecordBatch.from_pylist(
                [{"vec_id": vid, "label": lab, "proj": row.tolist()}
                 for vid, lab, row in zip(
                     b.column("vec_id").to_pylist(),
                     b.column("label").to_pylist(), p)],
                schema=pa.schema([pa.field("vec_id", pa.int64()),
                                  pa.field("label", pa.int32()),
                                  pa.field("proj", pa.list_(pa.float64()))]))

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding")
    return emb.mapInArrow(project, "vec_id bigint, label int, "
                                   "proj array<double>")


def pca_fidelity(spark, sf_dir, k: int = 8):
    """Reconstruction-fidelity accounting for the k-dim store (the PCA
    twin of embedding_quantize_int8's MSE report): per-corpus mean squared
    reconstruction error and the explained-variance ratio."""
    import numpy as np
    mean, comps, evar = pca_train(spark, sf_dir, k)
    proj = pca_project(spark, sf_dir, k)

    def recon_err(batches):
        import pyarrow as pa
        m = np.array(mean)
        c = np.array(comps)
        it = iter(batches)
        total, n = 0.0, 0
        for b in it:
            if b.num_rows == 0:
                continue
            p = np.array(b.column("proj").to_pylist(), dtype=np.float64)
            x = np.array(b.column("embedding").to_pylist(),
                         dtype=np.float64)
            err = x - (p @ c + m)
            total += float((err * err).sum())
            n += err.size
        if n:
            yield pa.RecordBatch.from_pylist(
                [{"sq_err": total, "n": n}],
                schema=pa.schema([pa.field("sq_err", pa.float64()),
                                  pa.field("n", pa.int64())]))

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    joined = proj.join(emb, "vec_id").select("proj", "embedding")
    rows = joined.mapInArrow(recon_err, "sq_err double, n bigint").collect()
    mse = sum(r.sq_err for r in rows) / max(1, sum(r.n for r in rows))
    return {"k": k, "mse": mse, "explained_var": evar,
            "explained_var_sum": float(sum(evar))}


def embedding_outliers(spark, sf_dir):
    """Embedding-space outlier detection: the 20 vectors FARTHEST from
    their own k-means centroid (lowest cosine) — the noise / mislabeled
    / out-of-distribution screen a curation pass runs after clustering
    (the inverse of SemDeDup's near-duplicate pruning).

    Reuses the persisted assignments and the centroid model carried in
    the projection: one narrow projection computes each vector's cosine
    to its OWN centroid (no join, no cross-cell comparisons), then a
    global bottom-k by (cos asc, vec_id) — TakeOrdered, not a full
    sort.  Cosines round to
    6dp with the same deterministic fold as the probe operators.
    """
    cos = _own_centroid_cos(_kmeans_model(spark, sf_dir))
    return (_assignments(spark, sf_dir)
             .select("vec_id", "cid", F.round(cos, 6).alias("cos"))
             .orderBy("cos", "vec_id").limit(20))


QUERIES["embedding_outliers"] = embedding_outliers
ORACLES["embedding_outliers"] = _DUCK_ASSIGN_CTE + f"""
SELECT a.vec_id, a.cid,
       round({_d_cos("a.embedding", "c.c_emb")}, 6) AS cos
FROM assign a JOIN c{KMEANS_ITERS} c USING (cid)
ORDER BY cos, vec_id LIMIT 20
"""


# ---------------------------------------------------------------------------
# cell-bounded k-NN graph (the semantic-clustering substrate)
# ---------------------------------------------------------------------------

KNN_K = 3


def _knn_edges(spark, sf_dir):
    """(src, dst, cos_raw, rk<=KNN_K): the cell-bounded k-NN edge list,
    persisted per (session, dir) — the expensive per-cell pairs pass
    runs ONCE and every consumer (the graph query, the leave-one-out
    eval, clustering) reuses the tiny edge relation."""
    def build():
        return materialized(_build_knn_edges(spark, sf_dir))
    return cached("sim.knn_edges", spark, sf_dir, build)


def _build_knn_edges(spark, sf_dir):
    """Raw (pre-materialization) kNN edge plan — split out so the
    plan-quality pin (cid-keyed self-join, per-src rank window) stays
    assertable after the memo truncation."""
    a = _assignments(spark, sf_dir)
    lhs = a.select("cid", F.col("vec_id").alias("src"),
                   F.col("embedding").alias("s_emb"),
                   F.col("v_nrm").alias("s_nrm"))
    rhs = a.select("cid", F.col("vec_id").alias("dst"),
                   F.col("embedding").alias("d_emb"),
                   F.col("v_nrm").alias("d_nrm"))
    cos = (F.expr(_s_dot("s_emb", "d_emb"))
           / (F.col("s_nrm") * F.col("d_nrm")))
    w = Window.partitionBy("src").orderBy(F.col("cos_raw").desc(),
                                          F.col("dst"))
    return (lhs.join(rhs, "cid")
            .where(F.col("src") != F.col("dst"))
            .select("src", "dst", cos.alias("cos_raw"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= KNN_K)
            .select("src", "dst", "cos_raw",
                    F.col("rk").cast("long").alias("rk")))


def ann_knn_graph(spark, sf_dir):
    """k-NN graph over the WHOLE corpus, candidate-bounded by IVF cell:
    every vector ranks only its own cell's members (the SemDeDup /
    kNN-clustering substrate — at 100 TB the all-pairs graph is
    impossible, the cell-local graph is one co-partitioned self-join).

    Each edge also carries ``is_mutual`` — whether the reverse edge is
    in the dst's own top-k (mutual-kNN is the usual symmetrization for
    clustering) — computed as one keyed self-join of the edge list on
    the reversed pair, never a second pass over the vectors.
    """
    edges = _knn_edges(spark, sf_dir)
    rev = edges.select(F.col("src").alias("r_dst"),
                       F.col("dst").alias("r_src"))
    return (edges.join(rev, (edges.src == rev.r_src)
                       & (edges.dst == rev.r_dst), "left")
                 .select("src", "dst", F.round("cos_raw", 6).alias("cos"),
                         "rk",
                         F.col("r_src").isNotNull().alias("is_mutual"))
                 .orderBy("src", "rk"))


QUERIES["ann_knn_graph"] = ann_knn_graph
ORACLES["ann_knn_graph"] = _DUCK_ASSIGN_CTE + f""",
edges AS (
  SELECT src, dst, cos_raw, rk FROM (
    SELECT l.vec_id AS src, r.vec_id AS dst,
           {_d_cos("l.embedding", "r.embedding")} AS cos_raw,
           ROW_NUMBER() OVER (
             PARTITION BY l.vec_id
             ORDER BY {_d_cos("l.embedding", "r.embedding")} DESC,
                      r.vec_id) AS rk
    FROM assign l JOIN assign r
      ON l.cid = r.cid AND l.vec_id != r.vec_id)
  WHERE rk <= {KNN_K})
SELECT e.src, e.dst, ROUND(e.cos_raw, 6) AS cos, e.rk,
       (m.src IS NOT NULL) AS is_mutual
FROM edges e LEFT JOIN edges m ON m.src = e.dst AND m.dst = e.src
ORDER BY e.src, e.rk
"""


# ---------------------------------------------------------------------------
# product quantization (PQ) codes from the k-means codebooks
# ---------------------------------------------------------------------------

#: PQ geometry: 64 dims -> PQ_M subspaces of PQ_DSUB dims each; the
#: per-subspace codebook is the k-means centroids' subvector slice
#: (IVF-PQ-style reuse of the trained coarse model, minus residuals).
PQ_M = 8
PQ_DSUB = 8


def _pq_codebook(spark, sf_dir) -> list[list[list[float]]]:
    """C[s][cid][d]: the trained centroid model sliced per subspace —
    a tiny (8 x 8 x 8 doubles) driver-side artifact, inlined as literal
    expressions so encoding is a pure map (the model-broadcast shape)."""
    model = _kmeans_model(spark, sf_dir)
    return [[list(emb[s * PQ_DSUB:(s + 1) * PQ_DSUB]) for _, emb, _ in model]
            for s in range(PQ_M)]


def _pq_clit(C, s: int) -> str:
    """Codebook slice for subspace s as a constant nested array."""
    return ("array(" + ", ".join(
        "array(" + ", ".join(_dlit(c) for c in C[s][k]) + ")"
        for k in range(len(C[s]))) + ")")


def _pq_dist(C, s: int, vec: str = "ve") -> str:
    """Squared euclidean of ``vec``'s s-th slice vs candidate k's slice;
    sequential fold i = 1..PQ_DSUB (oracle-identical order).  k is the
    enclosing lambda's variable (runtime index into the literal
    codebook — constant expression size, no CASE blowup)."""
    return (f"aggregate(sequence(1, {PQ_DSUB}), CAST(0 AS DOUBLE), "
            f"(a, i) -> a + ({vec}[{s * PQ_DSUB} + i - 1] "
            f"- element_at(element_at({_pq_clit(C, s)}, k + 1), i)) "
            f"* ({vec}[{s * PQ_DSUB} + i - 1] "
            f"- element_at(element_at({_pq_clit(C, s)}, k + 1), i)))")
    # NB: Spark [] subscripts are 0-based, element_at/DuckDB 1-based


def _pq_best_struct(C, s: int) -> str:
    """Runtime left fold over candidate codes: strict < keeps the
    lowest code on ties (== the oracle's ORDER BY d, code)."""
    return (f"aggregate(sequence(0, {len(C[s]) - 1}), "
            f"named_struct('d', CAST('Infinity' AS DOUBLE), 'c', -1), "
            f"(acc, k) -> CASE WHEN {_pq_dist(C, s)} < acc.d "
            f"THEN named_struct('d', {_pq_dist(C, s)}, 'c', k) "
            f"ELSE acc END)")


def load_pq_codes(spark, sf_dir):
    """Materialize the corpus's PQ codes hive-partitioned by IVF cell —
    the FAISS IndexIVFPQ inverted-list shape (Jegou et al. 2011 §V:
    codes are computed ONCE at index-build time and SERVED, never
    re-encoded per query).  Columns: vec_id, c0..c{M-1} (the chosen
    sub-centroid per subspace), e0..e{M-1} (nano-floored reconstruction
    error — exact integers, so the parquet roundtrip is lossless), cid
    as the partition directory.

    Every PQ consumer reads this store instead of folding the encoder
    over its own input: the ADC searches scan 8 ints/row instead of a
    64-float array + a 2·K·DSUB-flop argmin per row (ann_ivf_pq
    previously re-encoded per (query, candidate) PAIR), and the store
    build is paid once per (application, sf_dir).  Returns the store as a
    DataFrame.
    """
    def build():
        C = _pq_codebook(spark, sf_dir)
        ve = (load_cell_store(spark, sf_dir)
              .select("cid", "vec_id", F.expr(
                  "transform(embedding, x -> CAST(x AS DOUBLE))")
                  .alias("ve")))
        folded = ve.select("cid", "vec_id", *[
            F.expr(_pq_best_struct(C, s)).alias(f"b{s}")
            for s in range(PQ_M)])
        flat = folded.select(
            "cid", "vec_id",
            *[F.col(f"b{s}.c").alias(f"c{s}") for s in range(PQ_M)],
            *[F.expr(f"CAST(floor(b{s}.d * 1e9) AS BIGINT)")
              .alias(f"e{s}") for s in range(PQ_M)])
        return _cid_store(flat, "pq")
    return cached("sim.pq_code_store", spark, sf_dir, build)[0]


def ann_pq_codes(spark, sf_dir):
    """Product-quantization encoding accounting: every vector maps to
    PQ_M 3-bit codes (nearest sub-centroid per 8-dim slice, squared
    euclidean, tie to the lowest code), 8 bytes of storage standing in
    for 512 — the memory-budget path that makes billion-vector search
    fit RAM (Jegou et al. 2011).  Published as the per-(subspace, code)
    histogram with summed reconstruction error (nano-scaled integers so
    the cross-vector sum is order-independent).

    Scale shape: the codebook is 8x8x8 doubles inlined as literals and
    the encoding fold (whole-stage-codegen, no Python) runs once per
    corpus vector inside the load_pq_codes build; this query is then a
    scan of the stored (code, err) ints — no shuffle, no join; the only
    exchange is the 64-row final histogram.  The distance folds are
    sequential (i = 1..8) so the DuckDB twin — which recomputes the
    same codebook through the unrolled k-means CTE chain — reproduces
    every double bit for bit (err is nano-floored to an exact integer
    BEFORE the store write, so the parquet roundtrip changes nothing).
    """
    codes = load_pq_codes(spark, sf_dir)
    cells = codes.select("vec_id", F.explode(F.array(*[
        F.struct(F.lit(s).alias("s"),
                 F.col(f"c{s}").alias("code"),
                 F.col(f"e{s}").alias("err9"))
        for s in range(PQ_M)])).alias("pc"))
    return (cells.select("pc.s", "pc.code", "pc.err9")
            .groupBy("s", "code")
            .agg(F.count(F.lit(1)).alias("n_vectors"),
                 F.sum("err9").alias("sum_err_nano"))
            .select(F.col("s").cast("long").alias("s"),
                    F.col("code").cast("long").alias("code"),
                    F.col("n_vectors").cast("long").alias("n_vectors"),
                    F.col("sum_err_nano").cast("long").alias("sum_err_nano"))
            .orderBy("s", "code"))


QUERIES["ann_pq_codes"] = ann_pq_codes
#: shared oracle prefix: the per-(vector, subspace) PQ code assignment
#: (reused by ann_pq_codes and ann_pq_adc_topk)
_PQ_CODES_CTE = f"""
{_DUCK_ASSIGN_CTE},
ve AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings),
sub AS (
  SELECT c.cid AS code, g.s AS s, c.c_emb AS c_emb
  FROM c{KMEANS_ITERS} c, generate_series(0, {PQ_M - 1}) AS g(s)),
dists AS (
  SELECT v.vec_id, s.s, s.code,
         list_reduce(list_transform(range(1, {PQ_DSUB + 1}),
           i -> (ve[CAST(i + s.s * {PQ_DSUB} AS INT)]
                 - c_emb[CAST(i + s.s * {PQ_DSUB} AS INT)])
                * (ve[CAST(i + s.s * {PQ_DSUB} AS INT)]
                   - c_emb[CAST(i + s.s * {PQ_DSUB} AS INT)])),
           (a, v) -> a + v) AS d
  FROM ve v CROSS JOIN sub s),
codes AS (
  SELECT vec_id, s, code, d FROM (
    SELECT vec_id, s, code, d,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY d, code) AS rk
    FROM dists) WHERE rk = 1)"""

ORACLES["ann_pq_codes"] = f"""{_PQ_CODES_CTE}
SELECT CAST(s AS BIGINT) AS s, CAST(code AS BIGINT) AS code,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CAST(floor(d * 1e9) AS BIGINT)) AS BIGINT) AS sum_err_nano
FROM codes GROUP BY s, code ORDER BY s, code
"""


#: ADC top-k size
ADC_K = 10


def _pq_grid(spark, sf_dir):
    """The trained PQ codebook as a 64-row (s, code, ce) relation.

    The ADC searches join their per-query distance TABLE against this
    (FAISS IndexPQ §IV's table-driven form) instead of folding an
    inlined-literal codebook per candidate row: the literal-heavy fold
    cost ~1.9 s of Catalyst planning per invocation (guide-§1 probe:
    fresh-plan collect 2.0 s vs 0.07 s re-collect of the same
    DataFrame object), while the codebook is a sized LocalRelation
    (``local_frame``) that the cross join broadcasts by its size, with
    a constant-sized plan and no job to read it.  Values are the same
    Python doubles the literal path inlined, so every distance double
    is bit-identical."""
    def build():
        C = _pq_codebook(spark, sf_dir)
        return local_frame(
            spark, [(s, k, C[s][k]) for s in range(PQ_M)
                    for k in range(len(C[s]))],
            "s int, code int, ce array<double>")
    return cached("sim.pq_grid", spark, sf_dir, build)


#: per-(query, subspace, code) squared distance: identical per-dim fold
#: (i ascending, left-assoc, 0.0 seed) as the literal-codebook form;
#: ce[i-1] IS element_at(element_at(cb, code+1), i)
_DT_D = (f"aggregate(sequence(1, {PQ_DSUB}), CAST(0 AS DOUBLE), "
         f"(a, i) -> a + (qe[s * {PQ_DSUB} + i - 1] - ce[i - 1]) "
         f"* (qe[s * {PQ_DSUB} + i - 1] - ce[i - 1]))")

#: (the s-ascending left-assoc + chain over the array LUT used by both
#: ADC searches matches the oracle's list(d ORDER BY s) reduce exactly:
#: 0.0 + t0 == t0, so the chain and the seeded fold are bit-identical)


def ann_pq_adc_topk(spark, sf_dir):
    """PQ asymmetric-distance search (ADC, Jegou et al. 2011 §IV): the
    query vector stays exact; every database vector is its 8 PQ codes;
    approx distance = sum over subspaces of the squared euclidean from
    the query's slice to the CODE's sub-centroid.  This is the path a
    billion-vector store actually serves queries through — codes live
    in RAM, the codebook-vs-query lookup table is per-query constant
    work, and the scan is a pure map + TakeOrdered(k).

    Query = the embedding with MIN(vec_id) (deterministic, excluded
    from results).  Distances are floored to integer nanos before the
    rank so both engines order identical integers; ties break on
    vec_id.  The subspace sum is a left-assoc + chain (s = 0..7), the
    same fold order as the oracle's list_reduce, so every double is
    bit-identical before the floor.

    Scale shape: one broadcast of the 1-row query against the PQ code
    STORE (codes live in RAM/parquet exactly as a production ADC serve
    — 8 ints/row read, the 64-float vectors never touched), per-row
    constant fold work inside the scan (no shuffle), then a
    top-{ADC_K} TakeOrdered — no global sort, no Python.
    """
    be = bucketed_embeddings(spark, sf_dir)
    qv = (be.orderBy("vec_id").limit(1)
            .select(F.col("vec_id").alias("q_id"),
                    F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
                     .alias("qe")))
    # per-query ADC distance TABLE (64 rows) in place of the
    # literal-codebook fold (see _pq_grid docstring), collapsed to ONE
    # 64-element array row so the code scan pays a single 1-row
    # broadcast + pure codegen subscripts — no explode, no shuffle, no
    # re-aggregation of the 8 per-subspace terms (the exploded
    # join+groupBy form shipped 8x the store rows through a hash agg
    # and measured ~0.5 s slower steady-state)
    dt = (qv.crossJoin(_pq_grid(spark, sf_dir))
            .select("s", "code", F.expr(_DT_D).alias("d")))
    lut = dt.groupBy().agg(F.expr(
        f"transform(array_sort(collect_list("
        f"struct(s * {PQ_M} + code AS k, d))), x -> x.d)").alias("lutd"))
    codes = load_pq_codes(spark, sf_dir)
    folded = (codes.join(qv.select("q_id"),
                         F.col("vec_id") != F.col("q_id"))
              .crossJoin(lut))
    # s-ascending left-assoc + chain, the literal-fold order exactly
    total = " + ".join(f"lutd[{s} * {PQ_M} + c{s}]" for s in range(PQ_M))
    scored = folded.select(
        "vec_id",
        F.expr(f"CAST(floor(({total}) * 1e9) AS BIGINT)")
         .alias("adc_nano"))
    top = scored.orderBy("adc_nano", "vec_id").limit(ADC_K)
    w = Window.orderBy("adc_nano", "vec_id")
    return top.select(F.row_number().over(w).cast("long").alias("rk"),
                      "vec_id", "adc_nano")


QUERIES["ann_pq_adc_topk"] = ann_pq_adc_topk
ORACLES["ann_pq_adc_topk"] = f"""{_PQ_CODES_CTE},
q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe,
         vec_id AS q_id
  FROM embeddings ORDER BY vec_id LIMIT 1),
dq AS (
  SELECT c.vec_id, c.s,
         list_reduce(list_transform(range(1, {PQ_DSUB + 1}),
           i -> (q.qe[CAST(i + c.s * {PQ_DSUB} AS INT)]
                 - sub.c_emb[CAST(i + c.s * {PQ_DSUB} AS INT)])
                * (q.qe[CAST(i + c.s * {PQ_DSUB} AS INT)]
                   - sub.c_emb[CAST(i + c.s * {PQ_DSUB} AS INT)])),
           (a, v) -> a + v) AS d
  FROM codes c
  JOIN sub ON sub.s = c.s AND sub.code = c.code
  CROSS JOIN q
  WHERE c.vec_id != (SELECT q_id FROM q)),
adc AS (
  SELECT vec_id,
         CAST(floor(list_reduce(list(d ORDER BY s), (a, v) -> a + v)
                    * 1e9) AS BIGINT) AS adc_nano
  FROM dq GROUP BY vec_id)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY adc_nano, vec_id) AS BIGINT)
         AS rk,
       vec_id, adc_nano
FROM adc ORDER BY adc_nano, vec_id LIMIT {ADC_K}
"""


def embedding_mrl_energy(spark, sf_dir):
    """Matryoshka-style truncation accounting (Kusupati et al. 2022):
    how much of each embedding's squared norm survives at prefix dims
    8/16/32 of 64 — the measurement that decides whether a store can
    serve truncated vectors (MRL) at a fraction of the memory.  Ratios
    are published as integer parts-per-million of the FULL energy
    (floor), with all four energies computed by the same sequential
    fold order as the oracle's list_reduce, so every double is
    bit-identical before the floor.  Map-only: no shuffle, no Python.
    """
    be = bucketed_embeddings(spark, sf_dir)
    def energy(k):
        return (f"aggregate(sequence(1, {k}), CAST(0 AS DOUBLE), "
                f"(a, i) -> a + CAST(embedding[i - 1] AS DOUBLE)"
                f" * CAST(embedding[i - 1] AS DOUBLE))")
    ppm = lambda k: (f"CAST(floor({energy(k)} * 1000000 / {energy(64)})"
                     f" AS BIGINT)")
    return (be.select("vec_id",
                      F.expr(ppm(8)).alias("ppm_8"),
                      F.expr(ppm(16)).alias("ppm_16"),
                      F.expr(ppm(32)).alias("ppm_32"))
            .orderBy("vec_id").limit(200))


QUERIES["embedding_mrl_energy"] = embedding_mrl_energy


def _mrl_energy_sql(k: int) -> str:
    return (f"list_reduce(list_transform(range(1, {k + 1}), "
            f"i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE)"
            f" * CAST(embedding[CAST(i AS INT)] AS DOUBLE)), "
            f"(a, v) -> a + v)")


ORACLES["embedding_mrl_energy"] = f"""
SELECT vec_id,
       CAST(floor({_mrl_energy_sql(8)} * 1000000
                  / {_mrl_energy_sql(64)}) AS BIGINT) AS ppm_8,
       CAST(floor({_mrl_energy_sql(16)} * 1000000
                  / {_mrl_energy_sql(64)}) AS BIGINT) AS ppm_16,
       CAST(floor({_mrl_energy_sql(32)} * 1000000
                  / {_mrl_energy_sql(64)}) AS BIGINT) AS ppm_32
FROM embeddings ORDER BY vec_id LIMIT 200
"""


# ---------------------------------------------------------------------------
# leave-one-out 1-NN label accuracy (the embedding-quality eval)
# ---------------------------------------------------------------------------


def ann_loo_accuracy(spark, sf_dir):
    """Leave-one-out 1-NN label accuracy — the standard embedding-
    quality eval (does nearest-neighbor structure recover the labels?),
    cell-bounded like the kNN graph: every vector's nearest OTHER
    vector inside its IVF cell votes with its label; accuracy per label
    in integer permille.  Vectors alone in their cell score nothing and
    are reported in n_total - n_scored.

    Scale shape: the 1-NN is the rk=1 edge of the MEMOIZED kNN edge
    list (_knn_edges — the per-cell pairs pass runs once per session
    and is shared with ann_knn_graph); this query adds only two keyed
    label joins against the |V|-row edge relation and collapses to
    |labels| rows.
    """
    lab = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label"))
    nn = (_knn_edges(spark, sf_dir).filter(F.col("rk") == 1)
          .select("src", "dst")
          .join(lab.select(F.col("vec_id").alias("src"),
                           F.col("label").alias("s_label")), "src")
          .join(lab.select(F.col("vec_id").alias("dst"),
                           F.col("label").alias("d_label")), "dst"))
    scored = (nn.groupBy(F.col("s_label").alias("label"))
              .agg(F.count(F.lit(1)).cast("long").alias("n_scored"),
                   F.sum(F.when(F.col("s_label") == F.col("d_label"), 1)
                         .otherwise(0)).cast("long").alias("n_match")))
    totals = (lab.groupBy("label")
              .agg(F.count(F.lit(1)).cast("long").alias("n_total")))
    return (totals.join(scored, "label", "left")
            .select("label", "n_total",
                    F.coalesce("n_scored", F.lit(0)).cast("long")
                     .alias("n_scored"),
                    F.coalesce("n_match", F.lit(0)).cast("long")
                     .alias("n_match"),
                    F.expr("CASE WHEN coalesce(n_scored, 0) = 0 THEN -1 "
                           "ELSE 1000 * n_match div n_scored END")
                     .cast("long").alias("acc_permille"))
            .orderBy("label"))


QUERIES["ann_loo_accuracy"] = ann_loo_accuracy
ORACLES["ann_loo_accuracy"] = _DUCK_ASSIGN_CTE + f""",
lab AS (
  SELECT a.vec_id, a.cid, a.embedding, CAST(e.label AS BIGINT) AS label
  FROM assign a JOIN embeddings e USING (vec_id)),
nn AS (
  SELECT src, s_label, d_label FROM (
    SELECT l.vec_id AS src, l.label AS s_label, r.label AS d_label,
           ROW_NUMBER() OVER (
             PARTITION BY l.vec_id
             ORDER BY {_d_cos("l.embedding", "r.embedding")} DESC,
                      r.vec_id) AS rk
    FROM lab l JOIN lab r
      ON l.cid = r.cid AND l.vec_id != r.vec_id)
  WHERE rk = 1),
tot AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_total
        FROM lab GROUP BY label),
sc AS (
  SELECT s_label AS label, CAST(COUNT(*) AS BIGINT) AS n_scored,
         CAST(SUM(CASE WHEN s_label = d_label THEN 1 ELSE 0 END)
              AS BIGINT) AS n_match
  FROM nn GROUP BY s_label)
SELECT t.label, t.n_total,
       CAST(COALESCE(sc.n_scored, 0) AS BIGINT) AS n_scored,
       CAST(COALESCE(sc.n_match, 0) AS BIGINT) AS n_match,
       CAST(CASE WHEN COALESCE(sc.n_scored, 0) = 0 THEN -1
                 ELSE 1000 * sc.n_match // sc.n_scored END AS BIGINT)
         AS acc_permille
FROM tot t LEFT JOIN sc ON sc.label = t.label
ORDER BY t.label
"""


# ---------------------------------------------------------------------------
# embedding drift monitor (did the new crawl shift the representation?)
# ---------------------------------------------------------------------------

#: fixed-point scale for the drift quantizer (see embedding_drift)
DRIFT_Q = 1_000_000


def embedding_drift(spark, sf_dir):
    """Embedding drift between two corpus snapshots — the monitoring
    gate a pipeline runs before accepting a new crawl's embeddings:
    split by vec_id parity into REF and NEW halves, compare per-label
    centroids by cosine.  Exact and order-free at any scale: each
    component quantizes to integer micro-units (floor(x * 1e6), an
    IEEE-deterministic map), per-(label, half, dim) SUMS are exact
    int64 hash-aggregates (map-side combinable — no order-pinned
    collect_list of corpus rows), and the centroid cosine is computed
    directly on the 64-long sum vectors (cosine is scale-invariant, so
    dividing by n is unnecessary and no float mean exists anywhere).
    The only float math is the final 64-term fold, sequential in dim
    order on both engines (the _s_dot/_d_dot discipline).
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("label").cast("long").alias("label"),
        (F.col("vec_id") % 2).alias("half"), "embedding", "vec_id")
    q = e.select(
        "label", "half",
        F.posexplode("embedding").alias("pos", "x")
    ).select("label", "half", "pos",
             F.floor(F.col("x").cast("double") * DRIFT_Q)
              .cast("long").alias("qv"))
    s = q.groupBy("label", "half", "pos").agg(F.sum("qv").alias("sv"))
    v = (s.groupBy("label", "half")
         .agg(F.expr("transform(array_sort(collect_list(struct(pos, sv))),"
                     " p -> CAST(p.sv AS DOUBLE))").alias("vec")))
    n = e.groupBy("label", "half").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    a = (v.filter(F.col("half") == 0)
         .join(n.filter(F.col("half") == 0), ["label", "half"])
         .select("label", F.col("vec").alias("va"),
                 F.col("n").alias("n_ref")))
    b = (v.filter(F.col("half") == 1)
         .join(n.filter(F.col("half") == 1), ["label", "half"])
         .select("label", F.col("vec").alias("vb"),
                 F.col("n").alias("n_new")))
    cos = (F.expr(_s_dot("va", "vb"))
           / (F.sqrt(F.expr(_s_dot("va", "va")))
              * F.sqrt(F.expr(_s_dot("vb", "vb")))))
    return (a.join(b, "label")
            .select("label", "n_ref", "n_new",
                    F.round(cos, 6).alias("drift_cos"))
            .orderBy("label"))


QUERIES["embedding_drift"] = embedding_drift
ORACLES["embedding_drift"] = f"""
WITH q AS (
  SELECT CAST(label AS BIGINT) AS label, vec_id % 2 AS half, d.dim,
         CAST(FLOOR(CAST(embedding[CAST(d.dim AS INT)] AS DOUBLE)
                    * {DRIFT_Q}) AS BIGINT) AS qv
  FROM embeddings CROSS JOIN (SELECT UNNEST(range(1, 65)) AS dim) d),
s AS (SELECT label, half, dim, SUM(qv) AS sv
      FROM q GROUP BY label, half, dim),
v AS (SELECT label, half, list(CAST(sv AS DOUBLE) ORDER BY dim) AS vec
      FROM s GROUP BY label, half),
n AS (SELECT CAST(label AS BIGINT) AS label, vec_id % 2 AS half,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM embeddings GROUP BY label, vec_id % 2),
dotv AS (
  SELECT a.label,
         list_reduce(list_transform(range(1, 65),
           i -> a.vec[CAST(i AS INT)] * b.vec[CAST(i AS INT)]),
           (x, y) -> x + y) AS ab,
         list_reduce(list_transform(range(1, 65),
           i -> a.vec[CAST(i AS INT)] * a.vec[CAST(i AS INT)]),
           (x, y) -> x + y) AS aa,
         list_reduce(list_transform(range(1, 65),
           i -> b.vec[CAST(i AS INT)] * b.vec[CAST(i AS INT)]),
           (x, y) -> x + y) AS bb
  FROM v a JOIN v b ON a.label = b.label AND a.half = 0 AND b.half = 1)
SELECT d.label, na.n AS n_ref, nb.n AS n_new,
       ROUND(d.ab / (sqrt(d.aa) * sqrt(d.bb)), 6) AS drift_cos
FROM dotv d
JOIN n na ON na.label = d.label AND na.half = 0
JOIN n nb ON nb.label = d.label AND nb.half = 1
ORDER BY d.label
"""


# ---------------------------------------------------------------------------
# IVF cell-quality report (the index-maintenance monitor)
# ---------------------------------------------------------------------------


def ann_ivf_cell_quality(spark, sf_dir):
    """IVF index health report — the per-cell monitor an ANN deployment
    watches to decide when to re-train: per cell, the member count, the
    balance ratio vs a perfectly even split (integer permille: 1000 *
    n * cells // total), and cohesion as the EXACT integer sum of
    floor(cos_to_centroid * 1e6) per member plus the loosest member's
    cosine — skewed or loose cells mean the trained centroids no longer
    fit the corpus.

    Scale shape: one pass over the persisted assignments with the
    <=8-centroid model carried in the projection (no join, no job to
    read it); everything aggregates per cid
    (map-side combinable; |cells| rows out).  The micro-unit floor
    keeps the cohesion sum order-free and exact at any scale (the
    embedding_drift discipline); only min_cos is a float, rounded.
    """
    cos = _own_centroid_cos(_kmeans_model(spark, sf_dir))
    per = (_assignments(spark, sf_dir)
           .select("cid",
                   F.floor(cos * 1_000_000).cast("long").alias("cos_u"),
                   cos.alias("cos_raw")))
    stats = (per.groupBy("cid")
             .agg(F.count(F.lit(1)).cast("long").alias("n"),
                  F.sum("cos_u").cast("long").alias("cohesion_u"),
                  F.round(F.min("cos_raw"), 6).alias("min_cos")))
    # the global (total, cells) frame rides a window over the
    # |cells|-row stats relation instead of an agg + crossJoin: the
    # two-branch form re-ran the whole cosine pass per branch (cached
    # relations never stage-reuse — the minhash_estimate_error finding)
    w = Window.partitionBy(F.lit(1))
    return (stats
            .withColumn("total", F.sum("n").over(w))
            .withColumn("cells", F.count(F.lit(1)).over(w))
            .select("cid", "n",
                    F.expr("1000 * n * cells div total").cast("long")
                     .alias("balance_permille"),
                    "cohesion_u", "min_cos")
            .orderBy("cid"))


QUERIES["ann_ivf_cell_quality"] = ann_ivf_cell_quality
ORACLES["ann_ivf_cell_quality"] = _DUCK_ASSIGN_CTE + f""",
per AS (
  SELECT a.cid,
         CAST(FLOOR({_d_cos("a.embedding", "c.c_emb")} * 1000000)
              AS BIGINT) AS cos_u,
         {_d_cos("a.embedding", "c.c_emb")} AS cos_raw
  FROM assign a JOIN c{KMEANS_ITERS} c USING (cid)),
stats AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cos_u) AS BIGINT) AS cohesion_u,
         ROUND(MIN(cos_raw), 6) AS min_cos
  FROM per GROUP BY cid),
tot AS (SELECT SUM(n) AS total, COUNT(*) AS cells FROM stats)
SELECT s.cid, s.n,
       CAST(1000 * s.n * t.cells // t.total AS BIGINT)
         AS balance_permille,
       s.cohesion_u, s.min_cos
FROM stats s, tot t ORDER BY s.cid
"""


def ann_pq_recall(spark, sf_dir):
    """Recall@k of the PQ-ADC search against the EXACT euclidean top-k
    for the same query — the acceptance metric that sizes PQ_M/codebook
    depth in production (the ADC counterpart of ann_recall_report's
    IVF/nprobe knob).  Both sides are the engine's own operators: the
    ADC ranking is ann_pq_adc_topk verbatim; the ground truth is one
    exact scan with the identical left-assoc fold order and nano floor,
    so both engines rank identical integers.  Output is one row:
    (q_id, k, n_hits, recall_permille) in exact integers.

    Scale shape: the 1-row query broadcasts into both rankings; each is
    a pure scan map + TakeOrdered(k); the comparison joins two k-row
    relations.  The full-scan ground truth is the audit cost you pay
    once per acceptance run, exactly like ann_recall_report."""
    adc = ann_pq_adc_topk(spark, sf_dir).select("vec_id")
    be = bucketed_embeddings(spark, sf_dir)
    ve = be.select("vec_id", F.expr(
        "transform(embedding, x -> CAST(x AS DOUBLE))").alias("ve"))
    qv = (ve.orderBy("vec_id").limit(1)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("ve").alias("qe")))
    db = ve.join(qv, F.col("vec_id") != F.col("q_id"))
    dist = ("aggregate(sequence(1, 64), CAST(0 AS DOUBLE), "
            "(a, i) -> a + (qe[i - 1] - ve[i - 1]) "
            "* (qe[i - 1] - ve[i - 1]))")
    gt = (db.select("vec_id",
                    F.expr(f"CAST(floor(({dist}) * 1e9) AS BIGINT)")
                     .alias("d_nano"))
          .orderBy("d_nano", "vec_id").limit(ADC_K)
          .select("vec_id"))
    hits = (gt.join(adc, "vec_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits")))
    return (qv.select("q_id").crossJoin(hits)
            .select("q_id", F.lit(ADC_K).cast("long").alias("k"),
                    "n_hits",
                    F.expr(f"n_hits * 1000 div {ADC_K}").cast("long")
                     .alias("recall_permille")))


QUERIES["ann_pq_recall"] = ann_pq_recall
ORACLES["ann_pq_recall"] = f"""{_PQ_CODES_CTE},
q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe,
         vec_id AS q_id
  FROM embeddings ORDER BY vec_id LIMIT 1),
dq AS (
  SELECT c.vec_id, c.s,
         list_reduce(list_transform(range(1, {PQ_DSUB + 1}),
           i -> (q.qe[CAST(i + c.s * {PQ_DSUB} AS INT)]
                 - sub.c_emb[CAST(i + c.s * {PQ_DSUB} AS INT)])
                * (q.qe[CAST(i + c.s * {PQ_DSUB} AS INT)]
                   - sub.c_emb[CAST(i + c.s * {PQ_DSUB} AS INT)])),
           (a, v) -> a + v) AS d
  FROM codes c
  JOIN sub ON sub.s = c.s AND sub.code = c.code
  CROSS JOIN q
  WHERE c.vec_id != (SELECT q_id FROM q)),
adc AS (
  SELECT vec_id,
         CAST(floor(list_reduce(list(d ORDER BY s), (a, v) -> a + v)
                    * 1e9) AS BIGINT) AS adc_nano
  FROM dq GROUP BY vec_id),
adc_top AS (
  SELECT vec_id FROM adc ORDER BY adc_nano, vec_id LIMIT {ADC_K}),
gt AS (
  SELECT e.vec_id,
         CAST(floor(list_reduce(list_transform(range(1, 65),
           i -> (q.qe[CAST(i AS INT)]
                 - CAST(e.embedding[CAST(i AS INT)] AS DOUBLE))
                * (q.qe[CAST(i AS INT)]
                   - CAST(e.embedding[CAST(i AS INT)] AS DOUBLE))),
           (a, v) -> a + v) * 1e9) AS BIGINT) AS d_nano
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != (SELECT q_id FROM q)),
gt_top AS (
  SELECT vec_id FROM gt ORDER BY d_nano, vec_id LIMIT {ADC_K})
SELECT (SELECT q_id FROM q) AS q_id,
       CAST({ADC_K} AS BIGINT) AS k,
       CAST((SELECT COUNT(*) FROM gt_top g
             JOIN adc_top a ON a.vec_id = g.vec_id) AS BIGINT) AS n_hits,
       CAST((SELECT COUNT(*) FROM gt_top g
             JOIN adc_top a ON a.vec_id = g.vec_id) * 1000 // {ADC_K}
            AS BIGINT) AS recall_permille
"""


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cell probe + ADC re-rank (the production ANN serving
# composition — FAISS IndexIVFPQ; Jegou et al. 2011 §V)
# ---------------------------------------------------------------------------

def ann_ivf_pq(spark, sf_dir):
    """IVF-PQ search: each probe query ranks the coarse centroids,
    scans only its top-NPROBE cells from the cell-partitioned store,
    and orders THOSE candidates by PQ asymmetric distance (query slice
    vs each candidate's code sub-centroid).  This is the composition a
    billion-vector store actually serves: coarse quantizer prunes the
    corpus to nprobe/k of its cells, PQ codes keep the candidate scan
    in RAM, the exact query vector keeps the distance asymmetric.

    Scale shape: cell selection is a |queries| x N_CENTROIDS broadcast
    rank; the candidate scan partition-prunes via Dynamic Partition
    Pruning off the broadcast (q, cell) join — JVM-side, no driver
    collect (verdict r14 ask #3) — over the PQ code STORE
    (load_pq_codes: codes precomputed at index-build time, the FAISS
    invlist shape), so the probe reads 8 ints per candidate and the
    ADC is a whole-stage-codegen fold (codebook inlined as literals) —
    no per-(query, candidate) re-encode (r15: previously the encoder
    argmin ran per PAIR); one per-query top-{ADC_K} window on the
    pruned candidate set.  No shuffle touches the full corpus.
    """
    a = _assignments(spark, sf_dir)
    cents = _kmeans_centroids(spark, sf_dir)
    q = (a.filter(F.col("vec_id").isin(*PROBE_IDS))
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_emb"),
                  F.col("v_nrm").alias("q_nrm")))
    c_cos = (F.expr(_s_dot("q_emb", "c_emb"))
             / (F.col("q_nrm") * F.col("c_nrm")))
    wc = Window.partitionBy("q_id").orderBy(F.col("c_cos").desc(),
                                            F.col("cid"))
    qc = (q.crossJoin(cents)
           .select("q_id", "cid", c_cos.alias("c_cos"))
           .withColumn("prk", F.row_number().over(wc))
           .filter(F.col("prk") <= NPROBE)
           .select("q_id", "cid"))
    # per-query ADC distance TABLE (|queries| x 64 rows), collapsed to
    # ONE 64-element array row PER QUERY (the ann_pq_adc_topk array-LUT
    # form, r15): the candidate scan pays a broadcast hash join on q_id
    # plus pure codegen subscripts — no 8x code explode, no
    # (q_id, s, code) hash join, no re-aggregation exchange.  The
    # s-ascending left-assoc + chain below is the exact fold order of
    # the previous collect_list/aggregate form (0.0 + d0 == d0), so
    # every distance double is bit-identical.
    dt = (q.select("q_id",
                   F.expr("transform(q_emb, x -> CAST(x AS DOUBLE))")
                    .alias("qe"))
           .crossJoin(_pq_grid(spark, sf_dir))
           .select("q_id", "s", "code", F.expr(_DT_D).alias("d")))
    lut = dt.groupBy("q_id").agg(F.expr(
        f"transform(array_sort(collect_list("
        f"struct(s * {PQ_M} + code AS k, d))), x -> x.d)").alias("lutd"))
    cand = (load_pq_codes(spark, sf_dir)
            .select("cid", "vec_id",
                    *[f"c{s}" for s in range(PQ_M)]))
    folded = (F.broadcast(qc)
              .join(cand, (qc.cid == cand.cid)
                    & (F.col("q_id") != cand.vec_id))
              .select("q_id", "vec_id",
                      *[f"c{s}" for s in range(PQ_M)]))
    total = " + ".join(f"lutd[{s} * {PQ_M} + c{s}]" for s in range(PQ_M))
    scored = (folded.join(F.broadcast(lut), "q_id")
              .select("q_id", "vec_id",
                      F.expr(f"CAST(floor(({total}) * 1e9) AS BIGINT)")
                       .alias("adc_nano")))
    w = Window.partitionBy("q_id").orderBy("adc_nano", "vec_id")
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= ADC_K)
            .select("q_id", F.col("rk").cast("long").alias("rk"),
                    "vec_id", "adc_nano")
            .orderBy("q_id", "rk"))


QUERIES["ann_ivf_pq"] = ann_ivf_pq
ORACLES["ann_ivf_pq"] = f"""{_PQ_CODES_CTE},
q AS (SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe,
             embedding AS q_emb
      FROM assign WHERE vec_id IN ({_probe_list})),
pc AS (SELECT q_id, cid FROM (
  SELECT q.q_id, c.cid,
         ROW_NUMBER() OVER (PARTITION BY q.q_id
            ORDER BY {_d_cos("q.q_emb", "c.c_emb")} DESC, c.cid) AS prk
  FROM q CROSS JOIN c{KMEANS_ITERS} c) WHERE prk <= {NPROBE}),
dq AS (
  SELECT q.q_id, c.vec_id, c.s,
         list_reduce(list_transform(range(1, {PQ_DSUB + 1}),
           i -> (q.qe[CAST(i + c.s * {PQ_DSUB} AS INT)]
                 - sub.c_emb[CAST(i + c.s * {PQ_DSUB} AS INT)])
                * (q.qe[CAST(i + c.s * {PQ_DSUB} AS INT)]
                   - sub.c_emb[CAST(i + c.s * {PQ_DSUB} AS INT)])),
           (a, v) -> a + v) AS d
  FROM q
  JOIN pc ON pc.q_id = q.q_id
  JOIN assign a ON a.cid = pc.cid AND a.vec_id != q.q_id
  JOIN codes c ON c.vec_id = a.vec_id
  JOIN sub ON sub.s = c.s AND sub.code = c.code),
adc AS (
  SELECT q_id, vec_id,
         CAST(floor(list_reduce(list(d ORDER BY s), (a, v) -> a + v)
                    * 1e9) AS BIGINT) AS adc_nano
  FROM dq GROUP BY q_id, vec_id)
SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id, adc_nano FROM (
  SELECT q_id, vec_id, adc_nano,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY adc_nano, vec_id) AS rk
  FROM adc) WHERE rk <= {ADC_K}
ORDER BY q_id, rk
"""


# ---------------------------------------------------------------------------
# range (radius) search: all neighbors above a similarity threshold
# ---------------------------------------------------------------------------

RANGE_TAU = 0.2


def ann_range_search(spark, sf_dir):
    """Range (radius) search: every corpus vector with cosine >=
    ``RANGE_TAU`` of each probe query, scanned over the query's
    top-NPROBE IVF cells — the FAISS ``range_search`` counterpart of
    the top-k probes, used when the consumer wants "everything this
    similar", not a fixed k (near-dup blocking, semantic recall
    screens).

    Scale path identical to ann_ivf_multiprobe: the tiny (query,
    probed-cell) map broadcasts against the cell-partitioned store and
    Dynamic Partition Pruning derives the directory filter from that
    join (JVM-side, no driver collect), and — unlike the
    top-k probes — there is NO window at all: the threshold filter is a
    map-side predicate, so the operator is one broadcast join + filter.
    Output size is data-dependent (that is the point of range search);
    the threshold bounds it the way the radius does in FAISS.

    Magnitude at 100x: float cosine only; no integer products.
    """
    a = _assignments(spark, sf_dir)
    cents = _kmeans_centroids(spark, sf_dir)
    q = (a.filter(F.col("vec_id").isin(*PROBE_IDS))
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_emb"),
                  F.col("v_nrm").alias("q_nrm")))
    c_cos = (F.expr(_s_dot("q_emb", "c_emb"))
             / (F.col("q_nrm") * F.col("c_nrm")))
    wc = Window.partitionBy("q_id").orderBy(F.col("c_cos").desc(),
                                            F.col("cid"))
    qc = (q.crossJoin(cents)
          .select("q_id", "q_emb", "q_nrm", "cid", c_cos.alias("c_cos"))
          .withColumn("prk", F.row_number().over(wc))
          .filter(F.col("prk") <= NPROBE)
          .select("q_id", "q_emb", "q_nrm", "cid"))
    cand = (load_cell_store(spark, sf_dir)
            .select("cid", "vec_id", "embedding", "v_nrm"))
    cos = (F.expr(_s_dot("q_emb", "embedding"))
           / (F.col("q_nrm") * F.col("v_nrm")))
    return (F.broadcast(qc)
            .join(cand, (qc.cid == cand.cid)
                  & (F.col("q_id") != cand.vec_id))
            .select("q_id", "vec_id", cos.alias("cos_raw"))
            .filter(F.col("cos_raw") >= RANGE_TAU)
            .select("q_id", "vec_id", F.round("cos_raw", 6).alias("cos"))
            .orderBy("q_id", "vec_id"))


QUERIES["ann_range_search"] = ann_range_search
ORACLES["ann_range_search"] = _DUCK_ASSIGN_CTE + f""",
q AS (SELECT vec_id AS q_id, embedding AS q_emb
      FROM assign WHERE vec_id IN ({_probe_list})),
pc AS (SELECT q_id, cid FROM (
  SELECT q.q_id, c.cid,
         ROW_NUMBER() OVER (PARTITION BY q.q_id
            ORDER BY {_d_cos("q.q_emb", "c.c_emb")} DESC, c.cid) AS prk
  FROM q CROSS JOIN c{KMEANS_ITERS} c) WHERE prk <= {NPROBE}),
probed AS (SELECT q.q_id, a.vec_id,
                  {_d_cos("q.q_emb", "a.embedding")} AS cos_raw
           FROM q JOIN pc ON pc.q_id = q.q_id
                JOIN assign a ON a.cid = pc.cid AND a.vec_id != q.q_id)
SELECT q_id, vec_id, ROUND(cos_raw, 6) AS cos
FROM probed WHERE cos_raw >= {RANGE_TAU}
ORDER BY q_id, vec_id
"""


# ---------------------------------------------------------------------------
# Cell-stratified diversity sample (SemDeDup-style representative coreset)
# ---------------------------------------------------------------------------

#: per-cell representative budget
DIVERSITY_M = 6


def curation_diversity_sample(spark, sf_dir):
    """Cell-stratified representative coreset: from every IVF cell keep
    the ``DIVERSITY_M`` members NEAREST their own centroid — a fixed
    per-semantic-cluster budget, so the sample covers every region of
    embedding space instead of oversampling the dense head (the
    curation move SemDeDup/coreset-selection papers make after
    clustering; embedding_outliers is its inverse — this keeps the
    prototypes, that flags the strays).

    Scale shape: reuses the persisted assignments and the centroid
    model carried in the projection; each vector scores ONE cosine
    against its own centroid (map-side, no join), then a window top-M
    partitioned by cell id.
    With the test-scale N_CENTROIDS=8 that is 8 sort partitions — fine
    here, a skew hazard at 100 TB; production IVF sizing puts k ~
    sqrt(corpus) cells (the standard nlist rule), which keeps each
    cell's rank partition bounded AND is already how the cell store is
    laid out (one directory per cell, each task ranks one directory).
    Magnitude: cosines only, 6dp-rounded by the same deterministic
    fold as every probe operator.
    """
    cos = _own_centroid_cos(_kmeans_model(spark, sf_dir))
    w = Window.partitionBy("cid").orderBy(F.col("cos_raw").desc(),
                                          "vec_id")
    return (_assignments(spark, sf_dir)
             .select("cid", "vec_id", cos.alias("cos_raw"))
             .withColumn("rk", F.row_number().over(w))
             .filter(F.col("rk") <= DIVERSITY_M)
             .select(F.col("cid").cast("long").alias("cid"),
                     "vec_id", F.col("rk").cast("long").alias("rk"),
                     F.round("cos_raw", 6).alias("cos"))
             .orderBy("cid", "rk"))


QUERIES["curation_diversity_sample"] = curation_diversity_sample
ORACLES["curation_diversity_sample"] = _DUCK_ASSIGN_CTE + f""",
scored AS (
  SELECT a.cid, a.vec_id,
         {_d_cos("a.embedding", "c.c_emb")} AS cos_raw
  FROM assign a JOIN c{KMEANS_ITERS} c USING (cid)),
ranked AS (
  SELECT cid, vec_id, cos_raw,
         ROW_NUMBER() OVER (PARTITION BY cid
                            ORDER BY cos_raw DESC, vec_id) AS rk
  FROM scored)
SELECT CAST(cid AS BIGINT) AS cid, vec_id, CAST(rk AS BIGINT) AS rk,
       ROUND(cos_raw, 6) AS cos
FROM ranked WHERE rk <= {DIVERSITY_M}
ORDER BY cid, rk
"""


# ---------------------------------------------------------------------------
# exact-integer PCA substrate (whitening / decorrelation of the store)
# ---------------------------------------------------------------------------


def _checked_long(c, name: str):
    """``c`` cast to BIGINT, failing the query where the value leaves
    the BIGINT range (the non-ANSI cast would wrap it silently, where
    DuckDB raises)."""
    return (F.when((c < F.lit(-(1 << 63))) | (c > F.lit((1 << 63) - 1)),
                   F.raise_error(F.lit(f"{name} leaves the BIGINT range")))
            .otherwise(c.cast("long")))


#: leading MRL block the PCA runs on (embedding_mrl_energy's ppm_16 is
#: the read that says how much energy this block carries)
PCA_DIMS = 16
#: fixed global quantization grid (steps per unit) — one shared literal,
#: NOT per-vector scales, so second moments are comparable across rows
PCA_Q = 64


def embedding_pca_covariance(spark, sf_dir):
    """EXACT second-moment / covariance relation over the PCA_DIMS
    leading embedding block — the substrate of PCA whitening and
    decorrelation (the standard preprocessing before IVF/PQ codebooks:
    Jegou et al. 2011 observe PQ quality depends on balanced variance
    across subspaces).  Components are quantized once onto a FIXED
    global grid (floor(x*Q + 0.5), half-up — identical in both
    engines), so every moment is an INTEGER and the relation is
    bit-stable cross-engine: float covariance sums are merge-order-
    dependent, integer sums are not (the embedding_quantize_int8
    stance extended to second moments).

    Publishes per (i <= j): n, the dim sums s_i/s_j, the product sum
    s_ij, and the scaled covariance numerator n*s_ij - s_i*s_j.  The
    eigendecomposition itself is a MODEL step on the D x D driver-side
    matrix (pca_components below — the kmeans-centroid pattern); this
    query is the only data-sized pass.

    Scale shape: one flatMap-style explode of the D*(D+1)/2 pair
    structs per row (a constant 136x factor before any shuffle — the
    explode-beats-wide-projection finding of BOOT_PROFILE_r14) into ONE
    map-side-combinable hash agg on 136 keys; both first moments ride
    the pair structs (each vector contributes one row per group, so the
    in-group sums ARE the dim sums — no join back, one scan total,
    plan-pinned).  Overflow discipline:
    |q| <= Q (unit-normalized store), so s_ij <= Q^2 * n ~ 4e15 at
    n = 1e12, and the cov numerator n*s_ij ~ 4e27 — past int64, inside
    decimal(38)/HUGEINT (the q110 staging rule).
    """
    e = load_table(spark, sf_dir, "embeddings")
    dec = "decimal(38,0)"
    qv = (f"transform(slice(embedding, 1, {PCA_DIMS}), x -> "
          f"CAST(floor(CAST(x AS DOUBLE) * {PCA_Q} + 0.5D) AS BIGINT))")
    # BOTH first moments ride each (i, j) pair struct: every vector
    # contributes exactly one row per group, so sum(qi)/sum(qj) within
    # the group ARE the dim sums — the whole relation is ONE scan into
    # ONE combinable hash agg on 136 keys, no join back at all
    pair_structs = (
        f"flatten(transform(sequence(0, {PCA_DIMS - 1}), i -> "
        f"transform(sequence(i, {PCA_DIMS - 1}), j -> "
        f"struct(i, j, element_at(qv, i + 1) * element_at(qv, j + 1)"
        f" AS p, element_at(qv, i + 1) AS qi,"
        f" element_at(qv, j + 1) AS qj))))")
    pairs = (e.select(F.expr(qv).alias("qv"))
             .select(F.explode(F.expr(pair_structs)).alias("s"))
             .select("s.i", "s.j", "s.p", "s.qi", "s.qj")
             .groupBy("i", "j")
             .agg(F.count(F.lit(1)).cast("long").alias("n"),
                  F.sum("qi").cast("long").alias("s_i"),
                  F.sum("qj").cast("long").alias("s_j"),
                  F.sum("p").cast("long").alias("s_ij")))
    return (pairs
            .select(F.col("i").cast("long").alias("i"),
                    F.col("j").cast("long").alias("j"),
                    "n", "s_i", "s_j", "s_ij",
                    # staged through decimal(38,0) so the arithmetic
                    # itself never wraps, then published AS BIGINT: the
                    # driver's value hash is width/type-sensitive and
                    # BIGINT is the only representation both engines
                    # hash identically (decimal(38,0) vs HUGEINT broke
                    # the r15 driver hash the same way q34 broke in
                    # r01).  100 TB caveat: n*s_ij ~ 4e27 at n = 1e12
                    # exceeds int64 — the cast then fails the query
                    # (as DuckDB's does) instead of wrapping, and
                    # consumers at that scale must read the decimal
                    # STAGING value (or a hi/lo long split) instead of
                    # this published column; pca_components divides by
                    # n^2*Q^2 first, so its doubles survive
                    _checked_long(
                        F.col("n").cast(dec) * F.col("s_ij").cast(dec)
                        - F.col("s_i").cast(dec) * F.col("s_j").cast(dec),
                        "cov_num").alias("cov_num"))
            .orderBy("i", "j"))


QUERIES["embedding_pca_covariance"] = embedding_pca_covariance
ORACLES["embedding_pca_covariance"] = f"""
WITH q AS (
  SELECT list_transform(embedding[1:{PCA_DIMS}], x ->
           CAST(floor(CAST(x AS DOUBLE) * {PCA_Q} + 0.5) AS BIGINT))
           AS qv
  FROM embeddings),
dims AS (
  SELECT g.i AS i, qv[g.i + 1] AS qx, rowid
  FROM (SELECT qv, row_number() OVER () AS rowid FROM q),
       generate_series(0, {PCA_DIMS - 1}) AS g(i)),
dimsum AS (SELECT i, SUM(qx) AS s FROM dims GROUP BY i),
pairs AS (
  SELECT a.i AS i, b.i AS j, COUNT(*) AS n, SUM(a.qx * b.qx) AS s_ij
  FROM dims a JOIN dims b ON a.rowid = b.rowid AND b.i >= a.i
  GROUP BY a.i, b.i)
SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j,
       CAST(p.n AS BIGINT) AS n,
       CAST(d1.s AS BIGINT) AS s_i, CAST(d2.s AS BIGINT) AS s_j,
       CAST(p.s_ij AS BIGINT) AS s_ij,
       CAST(CAST(p.n AS HUGEINT) * p.s_ij
            - CAST(d1.s AS HUGEINT) * d2.s AS BIGINT) AS cov_num
FROM pairs p JOIN dimsum d1 ON d1.i = p.i JOIN dimsum d2 ON d2.i = p.j
ORDER BY i, j
"""


def pca_components(spark, sf_dir, k: int = 4):
    """Driver-side PCA model step over the exact integer covariance
    (the kmeans-centroid pattern: the MODEL is D x D = tiny, the DATA
    pass is the one distributed covariance agg above).  Returns
    (eigenvalues desc, components) for the top ``k`` principal axes of
    the PCA_DIMS leading block, deterministic because the input matrix
    is integer-exact and numpy's symmetric eigensolver is deterministic
    on identical bytes.  Signs are normalized (largest-|.| coordinate
    positive) so downstream projections are rerun-stable."""
    import numpy as np
    rows = embedding_pca_covariance(spark, sf_dir).collect()
    n = rows[0].n
    cov = np.zeros((PCA_DIMS, PCA_DIMS))
    for r in rows:
        c = float(r.cov_num) / (float(n) * n * PCA_Q * PCA_Q)
        cov[r.i][r.j] = cov[r.j][r.i] = c
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append(v)
    return [float(vals[i]) for i in order], comps
