"""Deduplication operators over ``documents`` — exact, MinHash+LSH,
SimHash, and n-gram-Jaccard near-dup detection.

Reference parity: the reference's dedup surface is idempotent redelivery
handling (persistent queue, exporter/exporterhelper/internal/
persistent_storage.go:278-345); these operators extend it to content-level
dedup for training-data pipelines (driver north-star).

Cross-engine determinism (so every op carries a DuckDB oracle):
- word hash  = md5 (bit-identical in Spark and DuckDB)
- MinHash_j  = lexicographic MIN of md5("j:" || shingle) — a string-valued
  min-hash; ordering on hex strings is a total order, so it has the same
  collision semantics as integer min-hash without needing a portable
  hex->int cast.
- LSH band   = md5(band_idx || "|" || sig_2b || sig_2b+1)  (r=2, b=4, k=8);
  the band index is baked into the hash so buckets join on one column.
- SimHash    = 16-bit: bit i is the majority vote over words of
  (i-th hex nibble of md5(word) >= '8') — i.e. the high bit of each nibble.

Scale stance: candidate generation is explode -> shuffle-join on the band
hash (the standard distributed LSH plan); verification joins are bounded by
candidate count, not n^2.  At 100 TB: band-hash join keys are uniform md5
strings, so the EXCHANGE never skews — but identical *signatures* still
land in one bucket regardless of hashing, and boilerplate text shared
across a large doc fraction can dominate the per-component min and produce
one mega-bucket per band whose pair count is quadratic in the hot-doc
count (measured: tools/stress_skew.py, STRESS_SKEW_r13.json).  Both
engines therefore drop band buckets larger than ``LSH_BUCKET_CAP`` before
the pair join (the standard production mitigation — common-shingle
suppression a la web-dedup stop-shingles, applied at the bucket level so
signatures and the oracle stay byte-identical).  The cap is ~20x the
largest bucket any real corpus here produces (13 at sf0.1), so results on
non-adversarial data are unchanged; a LEGITIMATE >cap-sized near-dup
cluster is exact-dup-grade redundancy, which the hash-groupBy exact pass
(dedup_exact_*) collapses before LSH ever runs.  `spark.sql.adaptive`
handles residual imbalance.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..sources.tables import load_table, parallel_table
from .cache_registry import CHECKPOINT_DIR_ENV as cache_registry_checkpoint_env
from .cache_registry import cached, materialized, plan_checkpoint

QUERIES: dict = {}
ORACLES: dict = {}

K_HASHES = 8          # minhash signature length
N_BANDS = 4           # LSH bands (r = K_HASHES / N_BANDS = 2)
JACCARD_THRESHOLD = 0.5
#: Exact rational form of JACCARD_THRESHOLD.  The integer-threshold
#: algebra in dedup_allpairs_prefix (length filter, PPJoin positional
#: filter, exact verify) cross-multiplies with these so the comparisons
#: FOLLOW the constant instead of hardcoding tau=1/2:
#:   J >= tau  <=>  c * (den + num) >= num * (n1 + n2).
#: The prefix length in _build_prefix_relation (n div 2 + 1) and the
#: milli-thresholds below are still written for tau=1/2 — guard that.
from fractions import Fraction as _Fraction  # noqa: E402

_TAU = _Fraction(JACCARD_THRESHOLD)
TAU_NUM, TAU_DEN = _TAU.numerator, _TAU.denominator
assert (TAU_NUM, TAU_DEN) == (1, 2), (
    "prefix length n div 2 + 1 in _build_prefix_relation and its oracle "
    "twins assume tau = 1/2; rederive n - ceil(tau*n) + 1 before moving it")
SIMHASH_BITS = 16
#: Band buckets larger than this are dropped before the pair join (module
#: docstring, "Scale stance"): they arise from shared boilerplate
#: dominating the signature min, and their pair count is quadratic in
#: bucket size.  20x the largest legitimate bucket observed (13 @ sf0.1);
#: inert on real corpora, load-bearing under adversarial df skew
#: (STRESS_SKEW_r13.json: caps a 611/1202/2387-doc mega-bucket).
LSH_BUCKET_CAP = 256


# ---------------------------------------------------------------------------
# shared expression builders (Spark SQL fragments; arrays are 0-based)
# ---------------------------------------------------------------------------

def _spark_shingles(words_col: str = "ws") -> str:
    """3-word shingles; guarded so <3-word docs yield an empty array
    (Spark's sequence() would descend on a negative stop)."""
    w = words_col
    return (f"CASE WHEN size({w}) >= 3 THEN "
            f"transform(sequence(0, size({w})-3), "
            f"i -> concat_ws(' ', {w}[i], {w}[i+1], {w}[i+2])) "
            f"ELSE array() END")


def _duck_shingles(words_col: str = "ws") -> str:
    w = words_col
    return (f"list_transform(range(1, len({w})-1), "
            f"i -> concat_ws(' ', {w}[i], {w}[i+1], {w}[i+2]))")


def _spark_sig(j: int) -> str:
    return f"array_min(transform(shs, s -> md5(concat('{j}:', s))))"


def _duck_sig(j: int) -> str:
    return f"list_min(list_transform(shs, s -> md5(concat('{j}:', s))))"


def _spark_bands() -> str:
    parts = [f"md5(concat('{b}|', sig[{2 * b}], sig[{2 * b + 1}]))"
             for b in range(N_BANDS)]
    return "array(" + ", ".join(parts) + ")"


def _duck_bands() -> str:
    parts = [f"md5(concat('{b}|', sig[{2 * b + 1}], sig[{2 * b + 2}]))"
             for b in range(N_BANDS)]
    return "[" + ", ".join(parts) + "]"


#: DuckDB CTE producing LSH candidate pairs (d1 < d2) — reused by oracles.
_DUCK_PAIR_CTE = f"""
WITH docs AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
sh AS (SELECT doc_id, {_duck_shingles()} AS shs FROM docs),
sig AS (SELECT doc_id, [{", ".join(_duck_sig(j) for j in range(K_HASHES))}] AS sig FROM sh),
bands0 AS (SELECT doc_id, unnest({_duck_bands()}) AS band FROM sig),
bands AS (SELECT doc_id, band FROM bands0
          WHERE band NOT IN (SELECT band FROM bands0
                             GROUP BY band HAVING COUNT(*) > {LSH_BUCKET_CAP})),
pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
          FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)
"""


def _lsh_candidate_pairs(spark, sf_dir):
    """Spark side of _DUCK_PAIR_CTE: distinct LSH-bucket-sharing pairs.

    The pair set is materialized per (session, dir) with truncated
    lineage (cache_registry.materialized): it is tiny (candidates, not
    corpus — safe at any scale) and three downstream operators (lsh /
    jaccard / keep) reuse it, so materializing removes two
    recomputations of the shingle->signature->band pipeline AND caps
    every consumer's plan at its own operators (r15: persist-only
    memoization left the full lineage under the cache marker, which
    Catalyst re-optimized on every dependent action).
    """
    def build():
        # both join sides read the shared memoized band relation
        # (_banded_docs), whose blocks the registry owns
        return materialized(_build_lsh_candidate_pairs(spark, sf_dir))
    return cached("dedup.pairs", spark, sf_dir, build)


#: loud ceiling on the oversized-band list: past this the corpus is
#: boilerplate-degenerate and needs the exact-dup pass / a tau bump, not
#: a silent driver-side collect of an unbounded relation.
_CAP_MAX_OVERSIZED = 4096


def _band_counts(bands):
    """Per-band row counts (band, __bc) — map-side-combinable hash agg.
    The STORE side of the incremental path computes this once per store
    version and reuses it across micro-batches (see incremental_pairs)."""
    return bands.groupBy("band").agg(F.count(F.lit(1)).alias("__bc"))


def _oversized_list(counts) -> list:
    """Literal list of band values whose TOTAL count exceeds
    LSH_BUCKET_CAP.  ``counts`` may union several per-side count
    relations (duplicate band keys sum).  Bounded driver collect:
    loud error past _CAP_MAX_OVERSIZED."""
    oversized = (counts.groupBy("band")
                 .agg(F.sum("__bc").alias("__bc"))
                 .filter(F.col("__bc") > LSH_BUCKET_CAP)
                 .select("band")
                 .limit(_CAP_MAX_OVERSIZED + 1)
                 .collect())
    if len(oversized) > _CAP_MAX_OVERSIZED:
        raise RuntimeError(
            f"more than {_CAP_MAX_OVERSIZED} LSH band buckets exceed "
            f"LSH_BUCKET_CAP={LSH_BUCKET_CAP}: the corpus is boilerplate-"
            f"degenerate; run exact dedup first or raise tau")
    return [r.band for r in oversized]


def _apply_band_cap(bands, oversized: list):
    """NOT-IN literal filter form: an EMPTY list returns the input plan
    IDENTICALLY, so downstream re-evaluations of an unpersisted
    candidate relation pay zero cap overhead (the r13 bench regression
    fixed by this: an anti-join subplan re-ran the count agg on every
    re-evaluation, 3x on the epoch2 path)."""
    if not oversized:
        return bands
    return bands.filter(~F.col("band").isin(*oversized))


def _cap_buckets(bands):
    """Drop band buckets larger than LSH_BUCKET_CAP before a pair join
    (module docstring, "Scale stance").  The oversized band list is a
    HANDFUL by design, so it is collected once (map-side-combinable
    count agg, bounded by _CAP_MAX_OVERSIZED — loud error past it) and
    applied as a literal NOT-IN filter."""
    return _apply_band_cap(bands, _oversized_list(_band_counts(bands)))


def _banded_docs(spark, sf_dir):
    """(raw, capped) MinHash band relations (doc_id, source, band),
    memoized per (session, dir): ONE shingle -> signature -> band pass
    serves the LSH pair generator, the cross-corpus screen and the
    bucket-cap audit (r15: each of the three re-ran the md5-heavy
    signature pipeline — and cross_corpus re-persisted it — on every
    invocation).  ``raw`` is the materialized uncapped relation (the
    audit reports the full bucket distribution); ``capped`` applies the
    LSH_BUCKET_CAP literal NOT-IN filter, its oversized list collected
    once here from the materialized store."""
    def build():
        d = load_table(spark, sf_dir, "documents")
        # Small corpora arrive as one parquet split; spread the
        # md5-heavy signature map across cores (at real scale the scan
        # is already split).
        n_parts = spark.sparkContext.defaultParallelism
        sig = (d.select("doc_id", "source",
                        F.split("text", " ").alias("ws"))
               .repartition(n_parts)
               .select("doc_id", "source",
                       F.expr(_spark_shingles()).alias("shs"))
               .select("doc_id", "source",
                       F.array(*[F.expr(_spark_sig(j))
                                 for j in range(K_HASHES)]).alias("sig")))
        raw = materialized(
            sig.select("doc_id", "source",
                       F.explode(F.expr(_spark_bands())).alias("band")))
        capped = _apply_band_cap(raw, _oversized_list(_band_counts(raw)))
        return raw, capped
    return cached("dedup.bands", spark, sf_dir, build)


def _build_lsh_candidate_pairs(spark, sf_dir):
    _, bands = _banded_docs(spark, sf_dir)
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
              .select(F.col("a.doc_id").alias("d1"),
                      F.col("b.doc_id").alias("d2"))
              .distinct())
    return pairs


def _doc_shingle_sets(spark, sf_dir):
    """(doc_id, shingle) exploded over the DISTINCT shingle set per doc.
    Persisted per (session, dir): the verification stage references it
    three times (both pair sides + per-doc sizes)."""
    def build():
        d = load_table(spark, sf_dir, "documents")
        shd = (d.select("doc_id", F.split("text", " ").alias("ws"))
                .repartition(spark.sparkContext.defaultParallelism)
                .select("doc_id",
                        F.explode(F.array_distinct(F.expr(_spark_shingles())))
                         .alias("sh")))
        return materialized(shd)   # truncated plan, multi-reference safe
    return cached("dedup.shingles", spark, sf_dir, build)


def _doc_shingle_arrays(spark, sf_dir):
    """(doc_id, shs, n_sh): each doc's DISTINCT shingle set as one
    sorted array row — the set-per-row twin of :func:`_doc_shingle_sets`
    for verify stages.  A candidate-pair verify against this relation is
    two doc-keyed joins + a codegen ``array_intersect`` per pair (each
    doc's set ships ONCE per candidate), where the exploded form paid a
    pair-x-shingle row blowup through two hash joins and a
    re-aggregation exchange.  Built as a PURE MAP over documents — no
    exchange at all at build time."""
    def build():
        d = load_table(spark, sf_dir, "documents")
        arr = (d.select("doc_id", F.split("text", " ").alias("ws"))
                .repartition(spark.sparkContext.defaultParallelism)
                .select("doc_id",
                        F.expr(f"sort_array(array_distinct("
                               f"{_spark_shingles()}))").alias("shs"))
                .select("doc_id", "shs",
                        F.size("shs").cast("long").alias("n_sh")))
        return materialized(arr)
    return cached("dedup.shingle_arrays", spark, sf_dir, build)


# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------

def dedup_exact_stats(spark, sf_dir):
    """Corpus-level exact-duplicate accounting by content hash."""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_dup_docs"),
    )


QUERIES["dedup_exact_stats"] = dedup_exact_stats
ORACLES["dedup_exact_stats"] = """
SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique,
       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup_docs
FROM documents
"""


def dedup_exact_groups(spark, sf_dir):
    """Exact-duplicate groups with keep-first representative selection."""
    d = load_table(spark, sf_dir, "documents")
    return (d.groupBy(F.md5("text").alias("fp"))
             .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keep_id"))
             .filter(F.col("n") > 1)
             .orderBy("fp"))


QUERIES["dedup_exact_groups"] = dedup_exact_groups
ORACLES["dedup_exact_groups"] = """
SELECT md5(text) AS fp, COUNT(*) AS n, MIN(doc_id) AS keep_id
FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY fp
"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def dedup_minhash_lsh(spark, sf_dir):
    """LSH candidate pairs: docs sharing >=1 of the 4 (r=2) minhash bands."""
    return (_lsh_candidate_pairs(spark, sf_dir)
            .orderBy("d1", "d2").limit(500))


QUERIES["dedup_minhash_lsh"] = dedup_minhash_lsh
ORACLES["dedup_minhash_lsh"] = _DUCK_PAIR_CTE + """
SELECT d1, d2 FROM pairs ORDER BY d1, d2 LIMIT 500
"""


def dedup_bucket_cap_audit(spark, sf_dir):
    """LSH band-bucket health report — the operator form of the
    LSH_BUCKET_CAP mitigation (module docstring / STRESS_SKEW_r13): the
    bucket-size distribution BEFORE capping, each size class's pair-join
    cost (n_buckets * sz*(sz-1)/2 — the quadratic term the cap bounds)
    and whether the cap drops it.  On a healthy corpus every class sits
    far below the cap (dropped = 0 everywhere); a boilerplate-skewed
    corpus shows its mega-bucket here before it ever reaches a join —
    the capacity-planning read a 100 TB operator runs FIRST.

    Plan: two combinable hash aggs over the band relation (band -> size,
    size -> class stats); no joins, no window.
    """
    # UNCAPPED shared band relation — the audit reports the bucket
    # distribution the cap would act on, so it must see every bucket
    bands, _ = _banded_docs(spark, sf_dir)
    sizes = bands.groupBy("band").agg(F.count(F.lit(1)).alias("sz"))
    return (sizes.groupBy("sz")
            .agg(F.count(F.lit(1)).alias("n_buckets"))
            .select(F.col("sz").alias("bucket_docs"),
                    F.col("n_buckets").cast("long").alias("n_buckets"),
                    F.expr("n_buckets * sz * (sz - 1) div 2")
                     .cast("long").alias("pair_cost"),
                    F.when(F.col("sz") > LSH_BUCKET_CAP,
                           F.col("n_buckets")).otherwise(F.lit(0))
                     .cast("long").alias("dropped_by_cap"))
            .orderBy("bucket_docs"))


QUERIES["dedup_bucket_cap_audit"] = dedup_bucket_cap_audit
ORACLES["dedup_bucket_cap_audit"] = f"""
WITH docs AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
sh AS (SELECT doc_id, {{_sh}} AS shs FROM docs),
sig AS (SELECT doc_id, [{{_sig}}] AS sig FROM sh),
bands AS (SELECT doc_id, unnest({{_bands}}) AS band FROM sig),
sizes AS (SELECT band, COUNT(*) AS sz FROM bands GROUP BY band)
SELECT sz AS bucket_docs, CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(COUNT(*) * sz * (sz - 1) // 2 AS BIGINT) AS pair_cost,
       CAST(CASE WHEN sz > {LSH_BUCKET_CAP} THEN COUNT(*) ELSE 0 END
            AS BIGINT) AS dropped_by_cap
FROM sizes GROUP BY sz ORDER BY bucket_docs
""".format(_sh=_duck_shingles(),
           _sig=", ".join(_duck_sig(j) for j in range(K_HASHES)),
           _bands=_duck_bands())


def _jaccard_verified(spark, sf_dir):
    """(d1, d2, n_common, j): exact 3-gram Jaccard over LSH candidates —
    the standard two-stage plan (cheap recall stage, exact precision stage
    bounded by candidate count, never n^2).  Persisted per (session, dir):
    bounded by candidate count and reused by jaccard + keep operators."""
    return cached("dedup.jaccard", spark, sf_dir,
                  lambda: materialized(
                      _build_jaccard_verified(spark, sf_dir)))


def _build_jaccard_verified(spark, sf_dir):
    pairs = _lsh_candidate_pairs(spark, sf_dir)
    shd = _doc_shingle_sets(spark, sf_dir)
    sizes = shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    common = (pairs
              .join(shd.alias("s1"), F.col("d1") == F.col("s1.doc_id"))
              .join(shd.alias("s2"), (F.col("d2") == F.col("s2.doc_id"))
                    & (F.col("s1.sh") == F.col("s2.sh")))
              .groupBy("d1", "d2")
              .agg(F.count(F.lit(1)).alias("n_common")))
    return (common
            .join(sizes.alias("z1"), F.col("d1") == F.col("z1.doc_id"))
            .join(sizes.alias("z2"), F.col("d2") == F.col("z2.doc_id"))
            .select("d1", "d2", "n_common",
                    (F.col("n_common").cast("double")
                     / (F.col("z1.n_sh") + F.col("z2.n_sh") - F.col("n_common"))
                     ).alias("j")))


def dedup_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs: exact 3-gram Jaccard verification of LSH candidates."""
    return (_jaccard_verified(spark, sf_dir)
            .filter(F.col("j") >= JACCARD_THRESHOLD)
            .select("d1", "d2", "n_common", F.round("j", 4).alias("jaccard"))
            .orderBy("d1", "d2").limit(500))


QUERIES["dedup_ngram_jaccard"] = dedup_ngram_jaccard
ORACLES["dedup_ngram_jaccard"] = _DUCK_PAIR_CTE + f""",
shd AS (SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY doc_id),
common AS (SELECT p.d1, p.d2, COUNT(*) AS n_common
           FROM pairs p
           JOIN shd s1 ON s1.doc_id = p.d1
           JOIN shd s2 ON s2.doc_id = p.d2 AND s2.sh = s1.sh
           GROUP BY p.d1, p.d2)
SELECT d1, d2, n_common,
       ROUND(CAST(n_common AS DOUBLE) / (z1.n_sh + z2.n_sh - n_common), 4) AS jaccard
FROM common JOIN sizes z1 ON z1.doc_id = d1 JOIN sizes z2 ON z2.doc_id = d2
WHERE CAST(n_common AS DOUBLE) / (z1.n_sh + z2.n_sh - n_common) >= {JACCARD_THRESHOLD}
ORDER BY d1, d2 LIMIT 500
"""


def dedup_minhash_keep(spark, sf_dir):
    """Greedy near-dup removal: drop every doc that appears as the higher
    id of a verified (Jaccard >= threshold) pair; count survivors.
    (Greedy, not transitive-closure — documented engine semantics.)"""
    d = load_table(spark, sf_dir, "documents")
    drop_ids = (_jaccard_verified(spark, sf_dir)
                .filter(F.col("j") >= JACCARD_THRESHOLD)
                .select(F.col("d2").alias("doc_id")).distinct())
    return (d.join(drop_ids, "doc_id", "left_anti")
             .agg(F.count(F.lit(1)).alias("n_kept")))


QUERIES["dedup_minhash_keep"] = dedup_minhash_keep
#: _DUCK_PAIR_CTE extended through the greedy drop set (``dropped``) —
#: reused by the keep oracle here and the curation-pipeline oracle.
_DUCK_DROP_CTE = _DUCK_PAIR_CTE + f""",
shd AS (SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY doc_id),
common AS (SELECT p.d1, p.d2, COUNT(*) AS n_common
           FROM pairs p
           JOIN shd s1 ON s1.doc_id = p.d1
           JOIN shd s2 ON s2.doc_id = p.d2 AND s2.sh = s1.sh
           GROUP BY p.d1, p.d2),
dropped AS (SELECT DISTINCT d2 AS doc_id
            FROM common JOIN sizes z1 ON z1.doc_id = d1
                        JOIN sizes z2 ON z2.doc_id = d2
            WHERE CAST(n_common AS DOUBLE) / (z1.n_sh + z2.n_sh - n_common)
                  >= {JACCARD_THRESHOLD})"""

ORACLES["dedup_minhash_keep"] = _DUCK_DROP_CTE + """
SELECT COUNT(*) AS n_kept FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def dedup_simhash(spark, sf_dir):
    """16-bit SimHash per doc: bit i = majority over words of the high bit
    of md5(word)'s i-th hex nibble.  One md5 per word (hashes precomputed
    into an array; the 16 bit-votes are substring tests over it — not 16
    md5 passes)."""
    d = load_table(spark, sf_dir, "documents")
    terms = " + ".join(
        f"(CASE WHEN 2 * size(filter(hs, h -> substring(h, {i + 1}, 1) >= '8')) "
        f">= size(hs) THEN {1 << i} ELSE 0 END)"
        for i in range(SIMHASH_BITS))
    return (d.select("doc_id",
                     F.expr("transform(split(text, ' '), w -> md5(w))")
                      .alias("hs"))
             .repartition(spark.sparkContext.defaultParallelism)
             .select("doc_id", F.expr(terms).alias("simhash"))
             .orderBy("doc_id").limit(200))


def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup candidates: block by the 8-hyperplane LSH
    bucket (similarity.py planes), compute exact cosine inside each bucket,
    report pairs over threshold ranked most-similar-first.

    The synthetic embeddings are random (max pairwise cosine ~0.5), so the
    production threshold (~0.95) is exercised by unit tests with planted
    dups; the declared query uses 0.3 so the oracle checks real pairs.

    Scale stance: the bucket join is the standard near-dup blocking plan —
    candidates ~ n^2/256 per bucket, uniform bucket ids, no skew.
    """
    from .similarity import _s_dot, bucketed_embeddings
    t = bucketed_embeddings(spark, sf_dir)
    a, b = t.alias("a"), t.alias("b")
    cos = (F.expr(_s_dot("a.embedding", "b.embedding"))
           / (F.col("a.nrm") * F.col("b.nrm")))
    return (a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
             .select(F.col("a.vec_id").alias("v1"),
                     F.col("b.vec_id").alias("v2"), cos.alias("cos_raw"))
             .filter(F.col("cos_raw") >= 0.3)
             .select("v1", "v2", F.round("cos_raw", 6).alias("cos"))
             .orderBy(F.col("cos").desc(), "v1", "v2").limit(100))


QUERIES["dedup_embedding_cosine"] = dedup_embedding_cosine


def _duck_embedding_cosine_oracle() -> str:
    from .similarity import _d_dot, _d_plane_literal, _planes
    bucket = " + ".join(
        f"(CASE WHEN {_d_dot('embedding', _d_plane_literal(p))} >= 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(_planes()))
    return f"""
WITH t AS (SELECT vec_id, embedding, ({bucket}) AS bucket,
                  sqrt({_d_dot('embedding', 'embedding')}) AS nrm
           FROM embeddings),
pairs AS (SELECT a.vec_id v1, b.vec_id v2,
                 {_d_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS cos_raw
          FROM t a JOIN t b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT v1, v2, ROUND(cos_raw, 6) AS cos FROM pairs
WHERE cos_raw >= 0.3 ORDER BY cos DESC, v1, v2 LIMIT 100
"""


ORACLES["dedup_embedding_cosine"] = _duck_embedding_cosine_oracle()


# ---------------------------------------------------------------------------
# connected-components near-dup clustering (transitive closure)
# ---------------------------------------------------------------------------

CC_MAX_ITERS = 20
#: Edge sets below this run as driver-side union-find — the LSH candidate
#: output is normally orders of magnitude smaller than the corpus, so even
#: at 100 TB most runs take the exact single-pass path; above it, the
#: distributed label-propagation loop takes over.
CC_DRIVER_MAX_EDGES = 1_000_000


#: Env knob: set to a (cluster-visible) directory to switch the CC
#: loop's per-round lineage truncation from ``localCheckpoint`` (block-
#: manager storage — an executor loss mid-loop fails the job with
#: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) to RELIABLE ``.checkpoint()``
#: (files survive executor loss — the 100 TB long-loop stance).  A
#: checkpoint dir already set on the SparkContext is honored the same
#: way.  (Shared implementation: cache_registry.plan_checkpoint — the
#: same knob also hardens every memoized-store materialization.)
CHECKPOINT_DIR_ENV = cache_registry_checkpoint_env


def _loop_checkpoint(df):
    """Materialize one loop round with truncated lineage.

    Reliable ``.checkpoint(eager=True)`` when a checkpoint dir is
    configured (via $SPARK_GRAFT_CHECKPOINT_DIR or an explicit
    ``sc.setCheckpointDir``), else ``localCheckpoint(eager=True)``.
    Both yield a constant-size plan per round and identical labels; the
    reliable path additionally survives executor loss, at the cost of
    writing each round to the checkpoint FS (superseded rounds' files
    are retired by the ContextCleaner when
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``, else
    bounded by CC_MAX_ITERS x |labels| until app end)."""
    return plan_checkpoint(df)


def _free_local_checkpoint(df) -> None:
    """Eagerly release the storage blocks behind a localCheckpoint'd
    DataFrame.  ``localCheckpoint`` stores its partitions through the
    block manager and only the ContextCleaner's GC hook ever drops them,
    so an iterative loop accumulates one materialized relation per round
    unless superseded rounds are freed by hand.  The checkpointed RDD is
    the one wrapped by the plan's LogicalRDD node; the DataFrame must
    never be evaluated again afterwards (the truncated lineage cannot
    recompute).  Best-effort: internal-API shape changes degrade to the
    old ContextCleaner behavior, never to a failure."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def connected_components(edges, src: str = "d1", dst: str = "d2",
                         force_distributed: bool = False):
    """Deterministic connected components over an undirected edge set:
    every node is labelled with the MIN node id reachable from it.

    Adaptive plan (the GraphFrames-style recipe):
    - |edges| <= CC_DRIVER_MAX_EDGES: collect the (candidate-bounded) edge
      list and run exact union-find on the driver — one job, no loop.
    - larger: iterative min-label propagation with pointer jumping — each
      round (a) takes the min label over the node's neighbours and (b)
      hops to the label of its current label (path doubling), so
      convergence is O(log diameter) rounds.  Each round is two shuffle
      joins bounded by |edges| plus one monotone-sum convergence action
      (labels only ever decrease, so fixpoint <=> sum(lbl) unchanged).

    Both paths produce identical labels.  Returns (node, cluster_id), one
    row per distinct endpoint.  Raises if the distributed loop hits
    CC_MAX_ITERS without reaching the fixpoint.
    """
    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not force_distributed:
        n_edges = e.limit(CC_DRIVER_MAX_EDGES + 1).count()
        if n_edges <= CC_DRIVER_MAX_EDGES:
            parent: dict = {}

            def find(x):
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != x:       # path compression
                    parent[x], x = r, parent[x]
                return r

            seen: set = set()
            for row in e.collect():
                seen.add(row.a)
                seen.add(row.b)
                ra, rb = find(row.a), find(row.b)
                if ra != rb:                       # union by min id
                    lo, hi = min(ra, rb), max(ra, rb)
                    parent[hi] = lo
            rows = sorted((x, find(x)) for x in seen)
            return spark.createDataFrame(
                rows, "node long, cluster_id long")

    bidir = (e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
             .distinct().persist())
    # Each round references the previous labels TWICE (neighbour min +
    # pointer hop), so building rounds on raw lineage doubles the logical
    # plan per iteration — exponential plan growth that OOMs the driver
    # around round 7 on a high-diameter graph (caught by
    # tests/test_bounded_collects.py).  localCheckpoint(eager) truncates
    # lineage each round: every iteration's plan is two joins over a
    # materialized relation, constant-sized regardless of round count.
    # Each superseded round's checkpoint blocks are freed EAGERLY below
    # (_free_local_checkpoint) — relying on the ContextCleaner would let
    # up to CC_MAX_ITERS materialized label relations pile up in executor
    # storage.  100 TB stance: localCheckpoint is non-reliable (executor
    # loss mid-loop fails the job — Spark reports it with an explicit
    # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND error); on a real cluster set
    # $SPARK_GRAFT_CHECKPOINT_DIR (or sc.setCheckpointDir) and
    # _loop_checkpoint switches every round to reliable .checkpoint()
    # — identical labels, loss-tolerant (test_cc_reliable_checkpoint).
    labels = _loop_checkpoint(
        bidir.select(F.col("a").alias("node")).distinct()
             .withColumn("lbl", F.col("node")))
    prev_sum = labels.agg(F.sum("lbl")).first()[0]
    try:
        for _ in range(CC_MAX_ITERS):
            nbr = (bidir.join(labels.withColumnRenamed("node", "bn"),
                              F.col("b") == F.col("bn"))
                        .groupBy("a").agg(F.min("lbl").alias("nbr_lbl")))
            stepped = (labels.join(nbr, labels["node"] == nbr["a"], "left")
                             .select("node",
                                     F.least("lbl", F.coalesce("nbr_lbl", "lbl"))
                                      .alias("lbl")))
            # pointer jump: follow lbl -> label(lbl) to halve chain depth
            hop = labels.select(F.col("node").alias("hn"),
                                F.col("lbl").alias("hl"))
            new = _loop_checkpoint(
                stepped.join(hop, stepped["lbl"] == hop["hn"], "left")
                       .select("node",
                               F.least("lbl", F.coalesce("hl", "lbl"))
                                .alias("lbl")))
            new_sum = new.agg(F.sum("lbl")).first()[0]
            # `new` is materialized, so the previous round's relation is
            # dead — free its blocks now (NEVER the live one: a freed
            # localCheckpoint cannot be recomputed).
            _free_local_checkpoint(labels)
            labels = new
            if new_sum == prev_sum:
                return labels.select("node", F.col("lbl").alias("cluster_id"))
            prev_sum = new_sum
        raise RuntimeError(
            f"connected_components: no fixpoint in {CC_MAX_ITERS} rounds")
    finally:
        bidir.unpersist()


#: DuckDB CTE chain: verified (Jaccard >= threshold) near-dup pairs.
#: Same text as the dedup_ngram_jaccard oracle's precision stage.
_DUCK_VERIFIED_CTE = _DUCK_PAIR_CTE + f""",
shd AS (SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY doc_id),
common AS (SELECT p.d1, p.d2, COUNT(*) AS n_common
           FROM pairs p
           JOIN shd s1 ON s1.doc_id = p.d1
           JOIN shd s2 ON s2.doc_id = p.d2 AND s2.sh = s1.sh
           GROUP BY p.d1, p.d2),
verified AS (SELECT d1, d2
             FROM common JOIN sizes z1 ON z1.doc_id = d1
                         JOIN sizes z2 ON z2.doc_id = d2
             WHERE CAST(n_common AS DOUBLE) / (z1.n_sh + z2.n_sh - n_common)
                   >= {JACCARD_THRESHOLD})
"""

#: Recursive closure over the verified pairs (min-reachable-id labels).
#: DuckDB requires RECURSIVE on the first WITH of the whole chain.
_DUCK_CC_CTE = _DUCK_VERIFIED_CTE.replace(
    "WITH docs", "WITH RECURSIVE docs", 1) + """,
bidir AS (SELECT d1 AS a, d2 AS b FROM verified
          UNION SELECT d2, d1 FROM verified),
walk(node, r) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM bidir) t
    UNION
    SELECT e.b, w.r FROM walk w JOIN bidir e ON e.a = w.node
),
cc AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM walk GROUP BY node)
"""

def _cc_labels(spark, sf_dir):
    def build():
        edges = (_jaccard_verified(spark, sf_dir)
                 .filter(F.col("j") >= JACCARD_THRESHOLD).select("d1", "d2"))
        return materialized(connected_components(edges))
    return cached("dedup.cc", spark, sf_dir, build)


def dedup_cc_labels(spark, sf_dir):
    """Transitive near-dup clusters: (doc_id, cluster_id) for every doc in
    a verified pair; cluster_id = min doc_id of the component.  Unlike
    dedup_minhash_keep's greedy drop, A~B and B~C place A,B,C in ONE
    cluster even when A!~C."""
    return (_cc_labels(spark, sf_dir)
            .select(F.col("node").alias("doc_id"), "cluster_id")
            .orderBy("doc_id"))


QUERIES["dedup_cc_labels"] = dedup_cc_labels
ORACLES["dedup_cc_labels"] = _DUCK_CC_CTE + """
SELECT doc_id, cluster_id FROM cc ORDER BY doc_id
"""


def dedup_cc_keep(spark, sf_dir):
    """Transitive-closure dedup accounting: keep one representative per
    component; n_kept = n_docs - (clustered docs - clusters)."""
    d = load_table(spark, sf_dir, "documents")
    labels = _cc_labels(spark, sf_dir)
    stats = labels.agg(
        F.count(F.lit(1)).alias("n_clustered"),
        F.countDistinct("cluster_id").alias("n_clusters"))
    total = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (total.crossJoin(stats)
            .select("n_clusters", "n_clustered",
                    (F.col("n_docs") - F.col("n_clustered")
                     + F.col("n_clusters")).alias("n_kept")))


QUERIES["dedup_cc_keep"] = dedup_cc_keep
ORACLES["dedup_cc_keep"] = _DUCK_CC_CTE + """
SELECT (SELECT COUNT(DISTINCT cluster_id) FROM cc) AS n_clusters,
       (SELECT COUNT(*) FROM cc) AS n_clustered,
       (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM cc)
           + (SELECT COUNT(DISTINCT cluster_id) FROM cc) AS n_kept
"""


QUERIES["dedup_simhash"] = dedup_simhash
ORACLES["dedup_simhash"] = """
WITH t AS (SELECT doc_id,
                  list_transform(string_split(text,' '), w -> md5(w)) AS hs
           FROM documents)
SELECT doc_id, (
""" + " + ".join(
    f"(CASE WHEN 2 * len(list_filter(hs, h -> substr(h, {i + 1}, 1) >= '8')) "
    f">= len(hs) THEN {1 << i} ELSE 0 END)"
    for i in range(SIMHASH_BITS)
) + """
) AS simhash
FROM t ORDER BY doc_id LIMIT 200
"""


# ---------------------------------------------------------------------------
# exact substring (passage) dedup
# ---------------------------------------------------------------------------

#: passage length in words for exact-substring detection
PASSAGE_LEN = 8


def dedup_substring(spark, sf_dir):
    """Exact duplicated passages: every PASSAGE_LEN-word window shared by
    >= 2 documents, with document and occurrence counts — the
    suffix-array-style exact-substring dedup signal ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022),
    expressed as a distributed shingle aggregation instead of a suffix
    array: explode every passage window once, ONE hash aggregation on the
    passage key, no pairwise comparison anywhere.

    At 100 TB: the passage explode is a narrow map inside the scan; the
    aggregation shuffles on (near-unique) passage text with map-side
    combine, and the n_docs >= 2 filter drops the unique tail before the
    final top-k.  Reference analogue: the persistent queue's idempotent
    redelivery (persistent_storage.go:278-345) extended to content level.
    """
    # fan-out: the window explode (a PASSAGE_LEN-word slice+join per
    # window position) is the scan-stage compute; the single-split
    # documents scan serialized it on one core (guide §2.5)
    d = parallel_table(spark, sf_dir, "documents")
    p = (d.select("doc_id", F.split("text", " ").alias("ws"))
           .filter(F.size("ws") >= PASSAGE_LEN)
           .select("doc_id", F.explode(F.expr(
               f"transform(sequence(0, size(ws)-{PASSAGE_LEN}), "
               f"i -> array_join(slice(ws, i+1, {PASSAGE_LEN}), ' '))"))
               .alias("passage")))
    # Expand-free distinct count (the q68 rewrite): collapse to
    # (passage, doc) grain first — combinable, 1x-width shuffle — then
    # roll up; COUNT(DISTINCT doc_id) == count of per-doc groups,
    # COUNT(*) == sum of their occurrence counts.  The mixed
    # distinct/plain aggregate planned an Expand that DOUBLED the
    # passage stream before its shuffle.
    per_doc = (p.groupBy("passage", "doc_id")
                .agg(F.count(F.lit(1)).alias("occ")))
    return (per_doc.groupBy("passage")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("occ").alias("n_occ"))
             .filter(F.col("n_docs") >= 2)
             .orderBy(F.col("n_docs").desc(), F.col("n_occ").desc(),
                      "passage")
             .limit(200))


QUERIES["dedup_substring"] = dedup_substring
ORACLES["dedup_substring"] = f"""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
              WHERE len(string_split(text, ' ')) >= {PASSAGE_LEN}),
p AS (SELECT doc_id,
             unnest(list_transform(range(1, len(ws) - {PASSAGE_LEN - 2}),
               i -> array_to_string(ws[i:i+{PASSAGE_LEN - 1}], ' ')))
               AS passage
      FROM docs)
SELECT passage, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
FROM p GROUP BY passage HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_occ DESC, passage LIMIT 200
"""


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style: k-means cells as blocking, cosine prune)
# ---------------------------------------------------------------------------

SEMANTIC_COS = 0.3

#: Cell-size cap before the within-cell pair join — the semantic twin of
#: LSH_BUCKET_CAP (module docstring, "Scale stance"): a cell of size s
#: costs s^2/2 cosine pairs, so one degenerate cell (an embedding-space
#: boilerplate cluster: empty docs, a template page) can dominate the
#: whole join.  Cells above the cap are EXCLUDED from pairing in both
#: engines (literal NOT-IN on the Spark side, HAVING mirror in the
#: oracle).  The oversized list is bounded by the number of cells
#: (N_CENTROIDS here; nlist ~ sqrt(corpus) in production IVF sizing, so
#: the collect stays model-sized at 100 TB).
SEM_CELL_CAP = 2048


def _semantic_pairs(spark, sf_dir):
    """Within-cell semantic near-dup pairs (cid, v1, v2), cos >=
    SEMANTIC_COS, over cells no larger than SEM_CELL_CAP — the shared
    candidate relation of the SemDeDup family (funnel accounting +
    keep-first canonicalization), session-memoized so the two queries
    cannot desynchronize and the n²/k-per-cell join runs once."""
    from .similarity import _assignments, _s_dot

    def build():
        a = _assignments(spark, sf_dir)
        counts = a.groupBy("cid").agg(F.count(F.lit(1)).alias("__cc"))
        oversized = [r.cid for r in
                     counts.filter(F.col("__cc") > SEM_CELL_CAP).collect()]
        if oversized:
            a = a.filter(~F.col("cid").isin(*oversized))
        left = a.select(F.col("vec_id").alias("v1"),
                        F.col("embedding").alias("e1"),
                        F.col("v_nrm").alias("n1"), "cid")
        right = a.select(F.col("vec_id").alias("v2"),
                         F.col("embedding").alias("e2"),
                         F.col("v_nrm").alias("n2"),
                         F.col("cid").alias("cid2"))
        cos = F.expr(_s_dot("e1", "e2")) / (F.col("n1") * F.col("n2"))
        pairs = (left.join(right, (F.col("cid") == F.col("cid2"))
                           & (F.col("v1") < F.col("v2")))
                     .withColumn("cos_raw", cos)
                     .filter(F.col("cos_raw") >= SEMANTIC_COS)
                     .select("cid", "v1", "v2"))
        return materialized(pairs)
    return cached("dedup.semantic_pairs", spark, sf_dir, build)


#: oracle mirror of the SEM_CELL_CAP exclusion + threshold pair join
def _duck_semantic_pairs_cte() -> str:
    from .similarity import _d_cos
    return f"""
keepcells AS (SELECT cid FROM assign GROUP BY cid
              HAVING COUNT(*) <= {SEM_CELL_CAP}),
pairs AS (
  SELECT a.cid, a.vec_id AS v1, b.vec_id AS v2
  FROM assign a JOIN assign b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE a.cid IN (SELECT cid FROM keepcells)
    AND {_d_cos("a.embedding", "b.embedding")} >= {SEMANTIC_COS})"""


def dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic dedup accounting: block the corpus by the
    deterministic k-means cells (the IVF clustering in similarity.py —
    Abbas et al. 2023's "cluster, then prune within cluster" recipe),
    find within-cell pairs above the cosine threshold, and report the
    per-cell funnel: members, near-dup pairs, and how many vectors a
    greedy keep-lowest-id pass would drop.

    Versus ``dedup_embedding_cosine`` (256 LSH buckets) this blocks by
    LEARNED clusters — fewer, semantically coherent blocks, the shape
    used when near-dups don't hash together.

    Scale: the pair scan is n²/k per cell on cell-local data (never
    all-pairs; SEM_CELL_CAP excludes a degenerate cell); the funnel is
    integer aggregation of the shared memoized pair set
    (_semantic_pairs).  The k-means model is sample-trained, driver
    round-trips are model parameters only.
    """
    from .similarity import _assignments
    a = _assignments(spark, sf_dir)
    pairs = _semantic_pairs(spark, sf_dir)
    per_cell = (pairs.groupBy("cid")
                     .agg(F.count(F.lit(1)).alias("n_pairs"),
                          F.countDistinct("v2").alias("n_dropped")))
    n_vecs = a.groupBy("cid").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (n_vecs.join(per_cell, "cid", "left")
                  .select("cid", "n_vecs",
                          F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
                          F.coalesce("n_dropped", F.lit(0)).cast("long")
                           .alias("n_dropped"))
                  .orderBy("cid"))


def _semantic_oracle() -> str:
    from .similarity import _DUCK_ASSIGN_CTE
    return _DUCK_ASSIGN_CTE + "," + _duck_semantic_pairs_cte() + """,
per_cell AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(COUNT(DISTINCT v2) AS BIGINT) AS n_dropped
  FROM pairs GROUP BY cid),
vecs AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs
         FROM assign GROUP BY cid)
SELECT v.cid, v.n_vecs, COALESCE(p.n_pairs, 0) AS n_pairs,
       COALESCE(p.n_dropped, 0) AS n_dropped
FROM vecs v LEFT JOIN per_cell p ON p.cid = v.cid
ORDER BY v.cid
"""


QUERIES["dedup_semantic"] = dedup_semantic
ORACLES["dedup_semantic"] = _semantic_oracle()


def dedup_semantic_keep(spark, sf_dir):
    """SemDeDup keep-first canonicalization (verdict r14 ask #1): the
    embedding-space leg of the dedup family's canonical-assignment
    trio (exact-token CC -> dedup_cc_labels, LSH greedy ->
    dedup_minhash_keep, THIS = semantic).  Within-cell cosine pairs
    (>= SEMANTIC_COS, cells capped at SEM_CELL_CAP — Abbas et al. 2023
    cluster-then-prune) feed ``connected_components``; every clustered
    vector is labelled with its canonical (MIN-id reachable) vec_id and
    a keep bit, i.e. exactly the drop list a training-data pipeline
    applies before tokenization.

    Transitivity note: edges exist only within a cell, so a component
    never crosses cells — the closure inherits the blocking (same
    containment SemDeDup accepts; recall lost to cell boundaries is the
    blocking trade, audited by ann_ivf_cell_quality).

    Scale: pairs are the shared memoized _semantic_pairs relation
    (n²/k per cell, cap-bounded); components run on the pair set —
    candidate-bounded, orders of magnitude under corpus size, so the
    adaptive CC takes the single-pass driver union-find path in
    practice (distributed pointer-jumping with reliable-checkpoint knob
    past CC_DRIVER_MAX_EDGES).  Output is clustered-vector-sized.
    """
    pairs = _semantic_pairs(spark, sf_dir)
    labels = connected_components(pairs, src="v1", dst="v2")
    return (labels
            .select(F.col("node").alias("vec_id"),
                    F.col("cluster_id").alias("canon_id"),
                    (F.col("node") == F.col("cluster_id"))
                    .cast("long").alias("keep"))
            .orderBy("vec_id"))


def _semantic_keep_oracle() -> str:
    from .similarity import _DUCK_ASSIGN_CTE
    return (_DUCK_ASSIGN_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
            + "," + _duck_semantic_pairs_cte() + """,
bidir AS (SELECT v1 AS a, v2 AS b FROM pairs
          UNION SELECT v2, v1 FROM pairs),
walk(node, r) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM bidir) t
    UNION
    SELECT e.b, w.r FROM walk w JOIN bidir e ON e.a = w.node
),
cc AS (SELECT node AS vec_id, MIN(r) AS canon_id FROM walk GROUP BY node)
SELECT vec_id, canon_id,
       CAST(CASE WHEN vec_id = canon_id THEN 1 ELSE 0 END AS BIGINT)
         AS keep
FROM cc ORDER BY vec_id
""")


QUERIES["dedup_semantic_keep"] = dedup_semantic_keep
ORACLES["dedup_semantic_keep"] = _semantic_keep_oracle()


def dedup_semantic_cell_audit(spark, sf_dir):
    """Capacity read for the SemDeDup family — the cell-side twin of
    ``dedup_bucket_cap_audit``: per-corpus one-row report of the cell
    population, the quadratic pair bound the within-cell join is
    allowed to cost (sum s*(s-1)/2 — the semantic analogue of
    dedup_prefix_cost_model's candidate bound), the largest cell, and
    how many cells SEM_CELL_CAP would exclude.  At 100 TB this row
    decides whether nlist must grow (cells ~ sqrt(corpus), the
    standard IVF sizing) BEFORE the n²/k join is launched.

    Plan: one scan of the persisted assignments into one combinable
    hash agg on cid, then a one-row rollup — linear in the corpus at
    every scale (the stress-harness row for the family; the pair join
    itself is cell-quadratic by contract and excluded for the
    ann_knn_graph reason, tools/stress.py comment)."""
    from .similarity import _assignments
    cells = (_assignments(spark, sf_dir)
             .groupBy("cid").agg(F.count(F.lit(1)).alias("sz")))
    return cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("sz").cast("long").alias("n_vecs"),
        F.max("sz").cast("long").alias("max_cell"),
        F.sum(F.expr("sz * (sz - 1) div 2")).cast("long")
         .alias("pair_bound"),
        F.sum(F.when(F.col("sz") > SEM_CELL_CAP, 1).otherwise(0))
         .cast("long").alias("n_over_cap"),
        F.sum(F.when(F.col("sz") > SEM_CELL_CAP,
                     F.expr("sz * (sz - 1) div 2")).otherwise(0))
         .cast("long").alias("excluded_pairs"))


def _semantic_cell_audit_oracle() -> str:
    from .similarity import _DUCK_ASSIGN_CTE
    return _DUCK_ASSIGN_CTE + f""",
cells AS (SELECT cid, COUNT(*) AS sz FROM assign GROUP BY cid)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(sz) AS BIGINT) AS n_vecs,
       CAST(MAX(sz) AS BIGINT) AS max_cell,
       CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS pair_bound,
       CAST(SUM(CASE WHEN sz > {SEM_CELL_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_over_cap,
       CAST(SUM(CASE WHEN sz > {SEM_CELL_CAP} THEN sz * (sz - 1) // 2
                     ELSE 0 END) AS BIGINT) AS excluded_pairs
FROM cells
"""


QUERIES["dedup_semantic_cell_audit"] = dedup_semantic_cell_audit
ORACLES["dedup_semantic_cell_audit"] = _semantic_cell_audit_oracle()


def dedup_keep_best(spark, sf_dir):
    """Quality-aware cluster resolution: within each transitive near-dup
    cluster, KEEP the member with the best quality-classifier score
    (ties -> lowest doc_id) instead of the arbitrary min-id survivor —
    how production dedup actually picks canonicals (drop the boilerplate
    copy, keep the clean one).

    Composes two oracle-gated operators: the connected-component labels
    and the integer quality score of ``text_quality_classifier``.  Plan:
    labels (candidate-bounded) join the docs, one scan-side score
    projection, one window argmax per cluster — cluster cardinality is
    tiny relative to the corpus, so the window shuffle is bounded by the
    near-dup population, never the corpus.
    """
    from pyspark.sql import Window

    from .text_score import quality_score_col
    labels = _cc_labels(spark, sf_dir) \
        .select(F.col("node").alias("doc_id"), "cluster_id")
    d = load_table(spark, sf_dir, "documents")
    scored = (labels.join(d, "doc_id")
                    .select("doc_id", "cluster_id",
                            quality_score_col().alias("score")))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("score").desc(), "doc_id")
    return (scored.withColumn("rk", F.row_number().over(w))
                  .groupBy("cluster_id")
                  .agg(F.max(F.when(F.col("rk") == 1, F.col("doc_id")))
                        .alias("kept_doc"),
                       F.max(F.when(F.col("rk") == 1, F.col("score")))
                        .cast("long").alias("best_score"),
                       F.count(F.lit(1)).alias("n_members"))
                  .orderBy("cluster_id"))


QUERIES["dedup_keep_best"] = dedup_keep_best
ORACLES["dedup_keep_best"] = _DUCK_CC_CTE + """,
f AS (
  SELECT doc_id,
    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        x -> x <> '')) AS n_words,
    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        x -> x IN ('the','a','fast','slow'))) AS stop_hits,
    length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
    len(list_distinct(list_filter(string_split_regex(lower(text),
        '[^a-z0-9]+'), x -> x <> ''))) AS n_distinct
  FROM documents),
scored AS (
  SELECT cc.cluster_id, cc.doc_id,
         2*n_words + 50*stop_hits - 10*n_digits
           + (n_distinct*1000) // n_words AS score
  FROM cc JOIN f USING (doc_id)),
ranked AS (
  SELECT cluster_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY score DESC, doc_id) AS rk
  FROM scored)
SELECT cluster_id,
       MAX(CASE WHEN rk = 1 THEN doc_id END) AS kept_doc,
       CAST(MAX(CASE WHEN rk = 1 THEN score END) AS BIGINT) AS best_score,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM ranked GROUP BY cluster_id ORDER BY cluster_id
"""


# ---------------------------------------------------------------------------
# cross-corpus dedup (new crawl vs existing corpus)
# ---------------------------------------------------------------------------

def dedup_cross_corpus(spark, sf_dir):
    """Incremental-ingest dedup: screen the NEW crawl (source != 'src0')
    against the EXISTING corpus (source = 'src0') — the shape every
    pretraining refresh runs, where intra-crawl pairs are someone else's
    problem and only new-vs-corpus matches decide drops.

    Same banded-LSH candidate generation as dedup_minhash_lsh, but the
    band join is A x B ONLY (new side joins corpus side) — candidate
    work scales with cross-bucket overlap, never |A|^2 or |B|^2.
    Candidates verify by exact shingle Jaccard, and each new doc keeps
    just its best corpus match (integer-key argmin via row_number: the
    cross-multiplied jaccard in millis, ties to the lowest corpus id).
    """
    # shared memoized band relation; its cap counts BOTH sources, which
    # is exactly this screen's "bucket size over the union" semantics
    _, bands = _banded_docs(spark, sf_dir)
    new = bands.filter(F.col("source") != "src0") \
               .select(F.col("doc_id").alias("a_doc"), "band")
    corp = bands.filter(F.col("source") == "src0") \
                .select(F.col("doc_id").alias("b_doc"), "band")
    pairs = new.join(corp, "band").select("a_doc", "b_doc").distinct()

    # verify on the materialized ARRAY relation (one codegen
    # array_intersect per candidate, n_sh precomputed) instead of the
    # exploded double-join + two size-aggregate joins — the four
    # consumptions of the exploded substrate each re-executed per run
    # (cached-relation subtrees never stage-reuse, the r16 finding;
    # same rewrite as dedup_containment).  A zero-overlap candidate now
    # carries jac_milli = 0 where the sh-equality join dropped it: it
    # ranks below every positive pair and the JACCARD_THRESHOLD filter
    # discards it either way — output-identical.
    arrs = _doc_shingle_arrays(spark, sf_dir)
    za = arrs.select(F.col("doc_id").alias("a_doc"),
                     F.col("shs").alias("sa"), F.col("n_sh").alias("na"))
    zb = arrs.select(F.col("doc_id").alias("b_doc"),
                     F.col("shs").alias("sb"), F.col("n_sh").alias("nb"))
    c = F.size(F.array_intersect("sa", "sb")).cast("long")
    j = (pairs.join(za, "a_doc")
         .join(zb, "b_doc")
         .select("a_doc", "b_doc", c.alias("n_common"), "na", "nb")
         .select("a_doc", "b_doc", "n_common",
                 F.expr("n_common * 1000 div (na + nb - n_common)")
                 .cast("long").alias("jac_milli")))
    from pyspark.sql import Window
    w = Window.partitionBy("a_doc").orderBy(F.col("jac_milli").desc(),
                                            "b_doc")
    return (j.withColumn("rk", F.row_number().over(w))
             .filter((F.col("rk") == 1)
                     & (F.col("jac_milli")
                        >= int(JACCARD_THRESHOLD * 1000)))
             .select("a_doc", "b_doc",
                     F.col("n_common").cast("long").alias("n_common"),
                     "jac_milli")
             .orderBy("a_doc").limit(500))


QUERIES["dedup_cross_corpus"] = dedup_cross_corpus
ORACLES["dedup_cross_corpus"] = f"""
WITH docs AS (SELECT doc_id, source, string_split(text,' ') AS ws
              FROM documents),
sh AS (SELECT doc_id, source, {_duck_shingles()} AS shs FROM docs),
sig AS (SELECT doc_id, source,
               [{", ".join(_duck_sig(j) for j in range(K_HASHES))}] AS sig
        FROM sh),
bands0 AS (SELECT doc_id, source, unnest({_duck_bands()}) AS band FROM sig),
bands AS (SELECT doc_id, source, band FROM bands0
          WHERE band NOT IN (SELECT band FROM bands0
                             GROUP BY band HAVING COUNT(*) > {LSH_BUCKET_CAP})),
pairs AS (SELECT DISTINCT a.doc_id AS a_doc, b.doc_id AS b_doc
          FROM bands a JOIN bands b ON a.band = b.band
          WHERE a.source != 'src0' AND b.source = 'src0'),
shd AS (SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY doc_id),
common AS (SELECT p.a_doc, p.b_doc, COUNT(*) AS n_common
           FROM pairs p
           JOIN shd s1 ON s1.doc_id = p.a_doc
           JOIN shd s2 ON s2.doc_id = p.b_doc AND s2.sh = s1.sh
           GROUP BY p.a_doc, p.b_doc),
jm AS (SELECT c.a_doc, c.b_doc, c.n_common,
              c.n_common * 1000 // (za.n_sh + zb.n_sh - c.n_common)
                AS jac_milli,
              ROW_NUMBER() OVER (
                PARTITION BY c.a_doc
                ORDER BY c.n_common * 1000
                         // (za.n_sh + zb.n_sh - c.n_common) DESC,
                         c.b_doc) AS rk
       FROM common c
       JOIN sizes za ON za.doc_id = c.a_doc
       JOIN sizes zb ON zb.doc_id = c.b_doc)
SELECT a_doc, b_doc, CAST(n_common AS BIGINT) AS n_common,
       CAST(jac_milli AS BIGINT) AS jac_milli
FROM jm WHERE rk = 1 AND jac_milli >= {int(JACCARD_THRESHOLD * 1000)}
ORDER BY a_doc LIMIT 500
"""


# ---------------------------------------------------------------------------
# Corpus-level source overlap (MinHash signature agreement + exact audit)
# ---------------------------------------------------------------------------

#: seeds in the per-SOURCE MinHash signature (corpus-level, coarser than
#: the 8-hash per-doc signature above — overlap between whole sources)
SRC_OVERLAP_HASHES = 16


def dedup_source_overlap(spark, sf_dir):
    """Declared query: the corpus-overlap matrix between sources — the
    question a mixture curator asks BEFORE merging two crawls ("how
    much of B is already in A?").

    Scale path: each source collapses to a SRC_OVERLAP_HASHES-slot
    MinHash signature (per (source, seed): the MIN md5 over the
    source's doc contents — lexicographic min over hex strings, the
    same engine-portable trick the per-doc LSH uses), so the pairwise
    comparison is |sources|^2 x 16 signature cells, independent of
    corpus size.  The document TEXT is hashed exactly once; the 16
    seed hashes mix the 32-char digest, not the payload — at 100 TB
    the byte-hashing cost is 1x the corpus, not 16x.  Signature
    agreement estimates corpus Jaccard; the EXACT content-hash Jaccard
    rides along as the audit (|A intersect B| / |A union B| over
    distinct doc md5s — the full-data side you pay to validate the
    estimate, the ann_recall pattern).  Published per unordered pair
    with integer permille.
    """
    d = (load_table(spark, sf_dir, "documents")
         .select("source", F.md5("text").alias("h0")))
    seeds = spark.range(SRC_OVERLAP_HASHES).select(
        F.col("id").cast("int").alias("seed"))
    # |docs| x 16 digest-mix rows -> |sources| x 16 cells
    sig = (d.crossJoin(seeds)
           .select("source", "seed",
                   F.md5(F.concat(F.col("seed").cast("string"),
                                  F.lit(":"), F.col("h0"))).alias("h"))
           .groupBy("source", "seed").agg(F.min("h").alias("minh")))
    a = sig.select(F.col("source").alias("src_a"), "seed",
                   F.col("minh").alias("ha"))
    b = sig.select(F.col("source").alias("src_b"), "seed",
                   F.col("minh").alias("hb"))
    est = (a.join(b, "seed")
           .filter(F.col("src_a") < F.col("src_b"))
           .groupBy("src_a", "src_b")
           .agg(F.sum(F.when(F.col("ha") == F.col("hb"), 1).otherwise(0))
                .cast("long").alias("agree")))
    # exact audit: distinct content hashes per source
    hs = (load_table(spark, sf_dir, "documents")
          .select("source", F.md5("text").alias("h")).distinct())
    sizes = hs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (hs.alias("x").join(hs.alias("y"), "h")
             .filter(F.col("x.source") < F.col("y.source"))
             .groupBy(F.col("x.source").alias("src_a"),
                      F.col("y.source").alias("src_b"))
             .agg(F.count(F.lit(1)).alias("n_inter")))
    out = (est
           .join(sizes.select(F.col("source").alias("src_a"),
                              F.col("n").alias("n_a")), "src_a")
           .join(sizes.select(F.col("source").alias("src_b"),
                              F.col("n").alias("n_b")), "src_b")
           .join(inter, ["src_a", "src_b"], "left")
           .select(
               "src_a", "src_b", "agree",
               F.expr(f"agree * 1000 div {SRC_OVERLAP_HASHES}")
                .cast("long").alias("est_permille"),
               F.coalesce("n_inter", F.lit(0)).cast("long")
                .alias("n_inter"),
               F.expr("coalesce(n_inter, 0) * 1000 "
                      "div (n_a + n_b - coalesce(n_inter, 0))")
                .cast("long").alias("exact_permille")))
    return out.orderBy("src_a", "src_b")


QUERIES["dedup_source_overlap"] = dedup_source_overlap
ORACLES["dedup_source_overlap"] = f"""
WITH d0 AS (SELECT source, md5(text) AS h0 FROM documents),
sig AS (
  SELECT source, seed, MIN(md5(CAST(seed AS VARCHAR) || ':' || h0)) AS minh
  FROM d0
  CROSS JOIN generate_series(0, {SRC_OVERLAP_HASHES - 1}) AS s(seed)
  GROUP BY source, seed),
est AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(SUM(CASE WHEN a.minh = b.minh THEN 1 ELSE 0 END) AS BIGINT)
           AS agree
  FROM sig a JOIN sig b ON a.seed = b.seed AND a.source < b.source
  GROUP BY src_a, src_b),
hs AS (SELECT DISTINCT source, md5(text) AS h FROM documents),
sizes AS (SELECT source, COUNT(*) AS n FROM hs GROUP BY source),
inter AS (
  SELECT x.source AS src_a, y.source AS src_b, COUNT(*) AS n_inter
  FROM hs x JOIN hs y ON x.h = y.h AND x.source < y.source
  GROUP BY src_a, src_b)
SELECT e.src_a, e.src_b, agree,
       CAST(agree * 1000 // {SRC_OVERLAP_HASHES} AS BIGINT) AS est_permille,
       CAST(COALESCE(n_inter, 0) AS BIGINT) AS n_inter,
       CAST(COALESCE(n_inter, 0) * 1000
            // (sa.n + sb.n - COALESCE(n_inter, 0)) AS BIGINT)
         AS exact_permille
FROM est e
JOIN sizes sa ON sa.source = e.src_a
JOIN sizes sb ON sb.source = e.src_b
LEFT JOIN inter i ON i.src_a = e.src_a AND i.src_b = e.src_b
ORDER BY e.src_a, e.src_b
"""


# ---------------------------------------------------------------------------
# benchmark decontamination screen
# ---------------------------------------------------------------------------

#: sliding shingle width (tokens) and the distinct shared-shingle count
#: at which a training doc counts as contaminated by a benchmark doc
CONTAM_SHINGLE_W = 3
CONTAM_MIN_SHARED = 2


def dedup_contamination(spark, sf_dir):
    """Benchmark contamination screen — the decontamination pass every
    LLM training pipeline runs before a corpus ships (GPT-3 appendix C,
    PaLM §C.2: strike training docs sharing n-gram spans with the eval
    sets): a deterministic held-out slice (doc_id % 97 == 0) plays the
    benchmark; every (train doc, bench doc) pair sharing >=
    CONTAM_MIN_SHARED distinct CONTAM_SHINGLE_W-token shingles is
    reported with its shared-shingle count and a contaminated flag.
    Unlike pairwise near-dup (MinHash), this is the ASYMMETRIC
    set-vs-corpus shape: the benchmark side is tiny and fixed, the
    corpus side is the 100 TB operand.

    Scale shape: both sides shingle with a constant-factor explode +
    per-doc distinct; the benchmark shingle relation is benchmark-sized
    (1/97 of the docs here), so at bench scale the probe is a broadcast
    hash join against the corpus shingle stream with NO shuffle of the
    big side, and the (train, bench) count is the only exchange; the
    size threshold, not a hint, switches it to a shuffle join once the
    benchmark outgrows a broadcast.
    """
    d = load_table(spark, sf_dir, "documents")
    W = CONTAM_SHINGLE_W
    toks = F.split("text", " ")
    sh = (d.select("doc_id", toks.alias("ts"), F.size(toks).alias("n"))
          .filter(F.col("n") >= W)
          .select("doc_id", F.explode(F.sequence(
              F.lit(0).cast("long"), F.col("n") - W)).alias("i"),
              "ts")
          .select("doc_id",
                  F.md5(F.array_join(
                      F.slice("ts", F.col("i").cast("int") + 1, W), " "))
                  .alias("h"))
          .distinct())
    bench = (sh.filter(F.col("doc_id") % 97 == 0)
             .select(F.col("doc_id").alias("bench_doc"), "h"))
    train = (sh.filter(F.col("doc_id") % 97 != 0)
             .select(F.col("doc_id").alias("train_doc"), "h"))
    return (train.join(bench, "h")
            .groupBy("train_doc", "bench_doc")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
            .select("train_doc", "bench_doc", "n_shared",
                    (F.col("n_shared") >= CONTAM_MIN_SHARED)
                    .alias("contaminated"))
            .orderBy("train_doc", "bench_doc"))


QUERIES["dedup_contamination"] = dedup_contamination
ORACLES["dedup_contamination"] = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ts,
         len(string_split(text, ' ')) AS n
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(
               list_slice(ts, i.i + 1, i.i + {CONTAM_SHINGLE_W}), ' '))
           AS h
  FROM t, unnest(range(0, n - {CONTAM_SHINGLE_W} + 1)) AS i(i)
  WHERE n >= {CONTAM_SHINGLE_W}),
bench AS (SELECT doc_id AS bench_doc, h FROM sh WHERE doc_id % 97 = 0),
train AS (SELECT doc_id AS train_doc, h FROM sh WHERE doc_id % 97 != 0)
SELECT tr.train_doc, b.bench_doc,
       CAST(COUNT(*) AS BIGINT) AS n_shared,
       (COUNT(*) >= {CONTAM_MIN_SHARED}) AS contaminated
FROM train tr JOIN bench b USING (h)
GROUP BY tr.train_doc, b.bench_doc
ORDER BY tr.train_doc, b.bench_doc
"""


# ---------------------------------------------------------------------------
# entity resolution: blocked fuzzy matching (record linkage)
# ---------------------------------------------------------------------------

ER_MAX_DIST = 2       # levenshtein acceptance threshold


def _er_customers(spark, sf_dir):
    """Blocking-keyed customer relation: (nat, seg, c_custkey, c_name)."""
    return (load_table(spark, sf_dir, "customer")
            .select(F.col("c_nationkey").alias("nat"),
                    F.col("c_mktsegment").alias("seg"),
                    "c_custkey", "c_name"))


def _er_candidates(c):
    """Blocked candidate pairs with their edit distance — the ONE
    definition of the ER contract (blocking key + ordering + verify
    metric) shared by the three ER queries."""
    a, b = c.alias("a"), c.alias("b")
    return (a.join(b, ["nat", "seg"])
            .filter(F.col("a.c_custkey") < F.col("b.c_custkey"))
            .select("nat", "seg",
                    F.col("a.c_custkey").alias("d1"),
                    F.col("b.c_custkey").alias("d2"),
                    F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
                     .alias("dist")))


def _er_candidates_cached(spark, sf_dir):
    """The candidate relation persisted per (session, dir): blocking /
    clusters / canonical all consume the same blocked join + verify, so
    the quadratic-in-block work runs once per session (the _knn_edges
    memoization discipline).  Candidate count is bounded by
    sum(block^2), tiny next to the corpus."""
    def build():
        return materialized(_er_candidates(_er_customers(spark, sf_dir)))
    return cached("dedup.er_pairs", spark, sf_dir, build)


def _er_labels(spark, sf_dir):
    """Entity labels: verified match pairs -> connected components —
    the shared step of dedup_er_clusters and dedup_er_canonical.
    Memoized (r15): both consumers re-ran the driver union-find
    (bounded collect + createDataFrame) on every invocation; one label
    relation per (session, dir) serves both."""
    def build():
        pairs = (_er_candidates_cached(spark, sf_dir)
                 .filter(F.col("dist") <= ER_MAX_DIST)
                 .select("d1", "d2"))
        return materialized(connected_components(pairs))
    return cached("dedup.er_labels", spark, sf_dir, build)


def dedup_er_blocking(spark, sf_dir):
    """Entity resolution by blocking + edit-distance verify over
    ``customer``: candidate pairs are generated ONLY inside a blocking
    key (c_nationkey, c_mktsegment) — the classic record-linkage plan —
    then verified with levenshtein(name_a, name_b) <= ER_MAX_DIST.
    Output is the per-block linkage report: member count, candidate
    pair count, and verified-match count (all exact integers).

    Scale shape: the self-join is an equality join on the block key
    (ONE shuffle of each side; never all-pairs), and the quadratic
    verify cost is bounded by the largest block — at 100 TB you keep
    blocks bounded by refining the key (soundex/prefix salts), exactly
    like LSH bands bound the near-dup verify.  levenshtein is
    bit-identical in Spark and DuckDB, so the verify carries a full
    oracle."""
    c = _er_customers(spark, sf_dir)
    members = (c.groupBy("nat", "seg")
               .agg(F.count(F.lit(1)).cast("long").alias("n_members")))
    pair_agg = (_er_candidates_cached(spark, sf_dir).groupBy("nat", "seg")
                .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                     F.sum((F.col("dist") <= ER_MAX_DIST).cast("long"))
                      .cast("long").alias("n_matches")))
    return (members.join(pair_agg, ["nat", "seg"], "left")
            .select("nat", "seg", "n_members",
                    F.coalesce("n_pairs", F.lit(0)).cast("long")
                     .alias("n_pairs"),
                    F.coalesce("n_matches", F.lit(0)).cast("long")
                     .alias("n_matches"))
            .orderBy("nat", "seg"))


QUERIES["dedup_er_blocking"] = dedup_er_blocking
ORACLES["dedup_er_blocking"] = f"""
WITH c AS (
  SELECT c_nationkey AS nat, c_mktsegment AS seg, c_custkey, c_name
  FROM customer),
members AS (
  SELECT nat, seg, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM c GROUP BY nat, seg),
pair_agg AS (
  SELECT a.nat, a.seg, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CASE WHEN levenshtein(a.c_name, b.c_name)
                            <= {ER_MAX_DIST} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_matches
  FROM c a JOIN c b ON a.nat = b.nat AND a.seg = b.seg
                   AND a.c_custkey < b.c_custkey
  GROUP BY a.nat, a.seg)
SELECT m.nat, m.seg, m.n_members,
       CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(p.n_matches, 0) AS BIGINT) AS n_matches
FROM members m LEFT JOIN pair_agg p USING (nat, seg)
ORDER BY nat, seg
"""


def dedup_er_clusters(spark, sf_dir):
    """The second half of the record-linkage pipeline: the verified
    match pairs from ``dedup_er_blocking``'s plan become an undirected
    graph and transitive closure groups them into ENTITIES (a customer
    matching A and B links A to B even when A-B itself missed the
    threshold).  Output is the scale-stable entity-size histogram:
    how many entities have 2, 3, ... linked records.

    Plan: blocked equality self-join (never all-pairs) -> levenshtein
    verify -> ``connected_components`` (driver union-find under the
    1M-edge bound, pointer-jumping min-label propagation above it —
    identical labels either way)."""
    labels = _er_labels(spark, sf_dir)
    sizes = (labels.groupBy("cluster_id")
             .agg(F.count(F.lit(1)).cast("long").alias("cluster_size")))
    return (sizes.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).cast("long").alias("n_entities"),
                 (F.count(F.lit(1)) * F.first("cluster_size")).cast("long")
                  .alias("n_customers"))
            .orderBy("cluster_size"))


QUERIES["dedup_er_clusters"] = dedup_er_clusters
ORACLES["dedup_er_clusters"] = f"""
WITH RECURSIVE c AS (
  SELECT c_nationkey AS nat, c_mktsegment AS seg, c_custkey, c_name
  FROM customer),
pairs AS (
  SELECT a.c_custkey AS d1, b.c_custkey AS d2
  FROM c a JOIN c b ON a.nat = b.nat AND a.seg = b.seg
                   AND a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= {ER_MAX_DIST}),
bidir AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION SELECT d2, d1 FROM pairs),
walk(node, r) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM bidir) t
    UNION
    SELECT e.b, w.r FROM walk w JOIN bidir e ON e.a = w.node
),
cc AS (SELECT node, MIN(r) AS cluster_id FROM walk GROUP BY node),
sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM cc GROUP BY cluster_id)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_entities,
       CAST(COUNT(*) * cluster_size AS BIGINT) AS n_customers
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
"""


def dedup_er_canonical(spark, sf_dir):
    """Survivorship — the last step of the record-linkage pipeline:
    every matched entity keeps ONE canonical record (the min-custkey
    member, the deterministic survivor rule) and reports how many
    records merged into it and the total account balance the merge
    consolidates (exact integer cents).  Unmatched customers pass
    through untouched, so the output is the deduplicated master list's
    accounting: one row per canonical record that absorbed >= 2 members.

    Plan: the blocked candidate join + CC labeler (shared with
    dedup_er_clusters), then one aggregation of the |linked| labels
    joined back to the balance column — ONE scan of customer, keyed on
    the tiny label relation."""
    labels = _er_labels(spark, sf_dir)
    bal = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("node"),
        F.expr("CAST(floor(c_acctbal * 100) AS BIGINT)").alias("cents"))
    return (labels.join(bal, "node")
            .groupBy("cluster_id")
            .agg(F.min("node").cast("long").alias("canonical_custkey"),
                 F.count(F.lit(1)).cast("long").alias("n_merged"),
                 F.sum("cents").cast("long").alias("total_acctbal_cents"))
            .select("canonical_custkey", "n_merged",
                    "total_acctbal_cents")
            .orderBy("canonical_custkey"))


QUERIES["dedup_er_canonical"] = dedup_er_canonical
ORACLES["dedup_er_canonical"] = f"""
WITH RECURSIVE c AS (
  SELECT c_nationkey AS nat, c_mktsegment AS seg, c_custkey, c_name
  FROM customer),
pairs AS (
  SELECT a.c_custkey AS d1, b.c_custkey AS d2
  FROM c a JOIN c b ON a.nat = b.nat AND a.seg = b.seg
                   AND a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= {ER_MAX_DIST}),
bidir AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION SELECT d2, d1 FROM pairs),
walk(node, r) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM bidir) t
    UNION
    SELECT e.b, w.r FROM walk w JOIN bidir e ON e.a = w.node
),
cc AS (SELECT node, MIN(r) AS cluster_id FROM walk GROUP BY node)
SELECT CAST(MIN(node) AS BIGINT) AS canonical_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_merged,
       CAST(SUM(CAST(floor(cu.c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS total_acctbal_cents
FROM cc JOIN customer cu ON cu.c_custkey = cc.node
GROUP BY cluster_id ORDER BY canonical_custkey
"""


# ---------------------------------------------------------------------------
# exact all-pairs similarity join via prefix filtering (Bayardo 2007)
# ---------------------------------------------------------------------------

def dedup_allpairs_prefix(spark, sf_dir):
    """EXACT all-pairs near-dup join by prefix filtering — the
    deterministic complement of the MinHash-LSH path (which trades
    false negatives for speed): every pair with 3-gram Jaccard >=
    JACCARD_THRESHOLD is found, guaranteed (Bayardo, Ma & Srikant 2007
    "Scaling up all pairs similarity search"; Xiao et al. 2008 PPJoin
    prefix lemma).  Shingles are globally ordered by document
    frequency ascending (rarest first); a doc with n shingles keeps
    only its first n - ceil(tau*n) + 1 as its PREFIX, and any
    qualifying pair must collide on a prefix shingle — so the
    candidate join runs on rare tokens only, never all-pairs.
    Candidates then verify by exact set intersection.  Output shape
    matches dedup_ngram_jaccard (which it must contain: LSH candidates
    are a subset of the exact result — pinned in tests).

    Scale shape: one global DF hash agg, one per-doc rank window
    (partitioned by doc_id — no global sort), one equality self-join
    keyed on PREFIX shingles (df-ascending order puts the rarest
    shingles in prefixes, so bucket sizes stay small — the published
    reason prefix filtering beats naive token joins), then the blocked
    exact verify on the candidate set only.  No LSH bands, no
    probabilistic misses; at 100 TB the prefix join is the standard
    exact-dedup discipline (candidate count bounded by
    sum-over-rare-tokens of df^2, tunable via tau).
    """
    arrs = _doc_shingle_arrays(spark, sf_dir)
    # prefix length n - ceil(n/2) + 1 = n div 2 + 1 (tau=1/2); the
    # ranked prefix relation is shared with dedup_prefix_cost_model
    ranked = _prefix_relation(spark, sf_dir)
    # Bayardo LENGTH filter + PPJoin POSITIONAL filter (Xiao et al.
    # 2008 §3.2) applied PER COLLIDING ROW, before the candidate-pair
    # exchange — both output-invariant:
    # - length: J >= tau needs (num+den)*min(n1,n2) >= num*(n1+n2);
    #   row-independent, so per-row == per-pair.
    # - positional: at a common token with doc-local ranks (ra, rb) no
    #   more than 1 + min(n1-ra, n2-rb) common tokens can follow its
    #   LATER of the two positions, and for the pair's FIRST common
    #   token that bound is exact-overlap-valid; every other common
    #   token has componentwise-larger (ra, rb), hence a SMALLER bound,
    #   so "some row passes" <=> "the first-common-token row passes" —
    #   the per-row filter keeps exactly the pairs the r15
    #   min(ra)/min(rb) aggregation kept, while dropping losers BEFORE
    #   they cross the (d1, d2) distinct exchange (guide §2.3) and
    #   turning the min-min aggregation into a plain distinct.
    # Thresholds cross-multiplied from the rational tau, not hardcoded.
    na, nb = F.col("a.n_sh"), F.col("b.n_sh")
    cand = (ranked.alias("a")
            .join(ranked.alias("b"), "sh")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .filter((TAU_DEN + TAU_NUM) * F.least(na, nb)
                    >= TAU_NUM * (na + nb))
            .filter((TAU_DEN + TAU_NUM)
                    * (1 + F.least(na - F.col("a.rn"),
                                   nb - F.col("b.rn")))
                    >= TAU_NUM * (na + nb))
            .select(F.col("a.doc_id").alias("d1"),
                    F.col("b.doc_id").alias("d2"))
            .distinct())
    z1 = arrs.select(F.col("doc_id").alias("d1"),
                     F.col("shs").alias("s1"), F.col("n_sh").alias("n1"))
    z2 = arrs.select(F.col("doc_id").alias("d2"),
                     F.col("shs").alias("s2"), F.col("n_sh").alias("n2"))
    # the surviving candidate rows are BYTE-tiny (two longs) but each
    # costs an array_intersect over full shingle sets downstream, so
    # AQE's byte-based coalescing collapses the verify to one task
    # (measured r16: 2.7 s single-task verify) — fan the verify out
    # explicitly; compute-dense-per-row is the case byte-advisories
    # cannot see (guide §2.5)
    cand = (cand.repartition(spark.sparkContext.defaultParallelism)
            .join(z1, "d1").join(z2, "d2"))
    # exact verify as a codegen set intersection per surviving pair
    # (the _doc_shingle_arrays rationale: no pair-x-shingle explode, no
    # re-aggregation exchange — each doc's set ships once per pair).
    # The threshold runs in its EXACT integer form:
    # c/(n1+n2-c) >= num/den  <=>  (den+num)*c >= num*(n1+n2)
    # (at tau=1/2: 3c >= n1+n2, which also implies c > 0);
    # the float comparison cannot disagree — c, n1, n2 are exact ints
    # far below 2^53 and the nearest-double rounding of c/(n1+n2-c) is
    # ~1e-16, while the gap to the boundary is at least 1/(n1+n2-c).
    # This keeps array_intersect to ONE evaluation inside the join
    # condition (the double-form filter fused into the broadcast join
    # as THREE separate array_intersect calls — measured 2.8-3.5 s vs
    # 1.5-1.8 s steady); n_common and jaccard are projected AFTER the
    # orderBy/limit, so TakeOrderedAndProject evaluates them on the 500
    # published rows only.
    cand = cand.filter((TAU_DEN + TAU_NUM)
                       * F.size(F.array_intersect("s1", "s2"))
                       >= TAU_NUM * (F.col("n1") + F.col("n2")))
    top = cand.orderBy("d1", "d2").limit(500)
    c = F.size(F.array_intersect("s1", "s2")).cast("long")
    return top.select(
        "d1", "d2", c.alias("n_common"),
        F.round(c / (F.col("n1") + F.col("n2") - c), 4).alias("jaccard"))


def _prefix_relation(spark, sf_dir):
    """The df-ascending ranked PREFIX relation (doc_id, sh) shared by
    dedup_allpairs_prefix and dedup_prefix_cost_model — persisted via
    the bounded cache registry because both consumers reference it
    multiple times in one plan (the cost model three times) and the
    ranking pipeline (df agg + doc-keyed rank window) is the expensive
    half of the exact path."""
    return cached("dedup.prefix_rel", spark, sf_dir,
                  lambda: materialized(
                      _build_prefix_relation(spark, sf_dir)))


def _build_prefix_relation(spark, sf_dir):
    """Raw (pre-materialization) plan of the ranked prefix relation —
    split out so plan-quality tests can pin the rank-window shape that
    the truncated memoized relation no longer exposes."""
    from pyspark.sql import Window
    shd = _doc_shingle_sets(spark, sf_dir)
    sizes = shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    df = shd.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "sh")
    # rn (the token's position in the doc's full df-ascending order)
    # and n_sh (the doc's set size) ride along so the allpairs join can
    # run the PPJoin positional AND Bayardo length filters PER ROW,
    # before the candidate-pair exchange (see dedup_allpairs_prefix)
    return (shd.join(df, "sh")
            .select("doc_id", "sh", F.row_number().over(w).alias("rn"))
            .join(sizes, "doc_id")
            .filter(F.col("rn") <= F.expr("n_sh div 2 + 1"))
            .select("doc_id", "sh", "rn", "n_sh"))


def dedup_prefix_cost_model(spark, sf_dir):
    """Capacity model for the exact prefix-filter join — the measurable
    form of dedup_allpairs_prefix's scale claim ("candidate count
    bounded by sum-over-prefix-tokens of df^2, rarest-first ordering
    keeps df small"): publishes the PREFIX-relation size, the per-token
    pair bound sum(pdf*(pdf-1)/2) over prefix occurrences, and the
    ACTUAL distinct candidate count, which must sit at or under the
    bound.  At 100 TB this one row is what decides whether tau must
    rise before the join is launched (STRESS_SKEW_r13 ran exactly this
    arithmetic by hand; now it is an operator).

    Plan: the allpairs ranking pipeline up through the prefix relation
    (one df agg, one doc-keyed rank window), one combinable per-token
    agg for the bound, and the same equality self-join for the actual
    count — no new join shapes.
    """
    pref = _prefix_relation(spark, sf_dir)
    bound = (pref.groupBy("sh").agg(F.count(F.lit(1)).alias("pdf"))
             .agg(F.count(F.lit(1)).alias("n_prefix_tokens"),
                  F.sum(F.expr("pdf * (pdf - 1) div 2"))
                   .alias("candidate_bound")))
    actual = (pref.alias("a").join(pref.alias("b"), "sh")
              .filter(F.col("a.doc_id") < F.col("b.doc_id"))
              .select(F.col("a.doc_id").alias("d1"),
                      F.col("b.doc_id").alias("d2"))
              .distinct()
              .agg(F.count(F.lit(1)).alias("n_candidates")))
    n_pref = pref.agg(F.count(F.lit(1)).alias("n_prefix_rows"))
    return (n_pref.crossJoin(bound).crossJoin(actual)
            .select(F.col("n_prefix_rows").cast("long"),
                    F.col("n_prefix_tokens").cast("long"),
                    F.col("candidate_bound").cast("long"),
                    F.col("n_candidates").cast("long")))


QUERIES["dedup_prefix_cost_model"] = dedup_prefix_cost_model
ORACLES["dedup_prefix_cost_model"] = f"""
WITH docs AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
sh0 AS (SELECT doc_id, {{_sh}} AS shs FROM docs),
shd AS (SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM sh0),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY doc_id),
df AS (SELECT sh, COUNT(*) AS df FROM shd GROUP BY sh),
ranked AS (
  SELECT shd.doc_id, shd.sh,
         ROW_NUMBER() OVER (PARTITION BY shd.doc_id
                            ORDER BY df.df, shd.sh) AS rn,
         z.n_sh
  FROM shd JOIN df ON df.sh = shd.sh
  JOIN sizes z ON z.doc_id = shd.doc_id),
pref AS (SELECT doc_id, sh FROM ranked WHERE rn <= n_sh // 2 + 1),
bound AS (SELECT COUNT(*) AS n_prefix_tokens,
                 SUM(pdf * (pdf - 1) // 2) AS candidate_bound
          FROM (SELECT sh, COUNT(*) AS pdf FROM pref GROUP BY sh)),
actual AS (SELECT COUNT(*) AS n_candidates FROM (
  SELECT DISTINCT a.doc_id, b.doc_id
  FROM pref a JOIN pref b ON a.sh = b.sh AND a.doc_id < b.doc_id))
SELECT CAST((SELECT COUNT(*) FROM pref) AS BIGINT) AS n_prefix_rows,
       CAST(n_prefix_tokens AS BIGINT) AS n_prefix_tokens,
       CAST(candidate_bound AS BIGINT) AS candidate_bound,
       CAST(n_candidates AS BIGINT) AS n_candidates
FROM bound, actual
""".format(_sh=_duck_shingles())


QUERIES["dedup_allpairs_prefix"] = dedup_allpairs_prefix
ORACLES["dedup_allpairs_prefix"] = f"""
WITH docs AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
sh0 AS (SELECT doc_id, {_duck_shingles()} AS shs FROM docs),
shd AS (SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM sh0),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY doc_id),
df AS (SELECT sh, COUNT(*) AS df FROM shd GROUP BY sh),
ranked AS (
  SELECT shd.doc_id, shd.sh,
         ROW_NUMBER() OVER (PARTITION BY shd.doc_id
                            ORDER BY df.df, shd.sh) AS rn,
         z.n_sh
  FROM shd JOIN df ON df.sh = shd.sh
  JOIN sizes z ON z.doc_id = shd.doc_id),
pref AS (SELECT doc_id, sh FROM ranked WHERE rn <= n_sh // 2 + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM pref a JOIN pref b ON a.sh = b.sh AND a.doc_id < b.doc_id),
common AS (
  SELECT c.d1, c.d2, COUNT(*) AS n_common
  FROM cand c
  JOIN shd s1 ON s1.doc_id = c.d1
  JOIN shd s2 ON s2.doc_id = c.d2 AND s2.sh = s1.sh
  GROUP BY c.d1, c.d2)
SELECT d1, d2, n_common,
       ROUND(CAST(n_common AS DOUBLE)
             / (z1.n_sh + z2.n_sh - n_common), 4) AS jaccard
FROM common JOIN sizes z1 ON z1.doc_id = d1
JOIN sizes z2 ON z2.doc_id = d2
WHERE CAST(n_common AS DOUBLE)
      / (z1.n_sh + z2.n_sh - n_common) >= {JACCARD_THRESHOLD}
ORDER BY d1, d2 LIMIT 500
"""


# ---------------------------------------------------------------------------
# incremental corpus dedup (new-shard-vs-persisted-signature-store)
# ---------------------------------------------------------------------------

#: deterministic ~10% slice of ``documents`` modeling the newly arrived
#: ingest shard; the remaining 90% is the already-deduped corpus whose
#: signatures live in the persisted store.  doc_id >= 0 in the testdata,
#: so Spark ``pmod`` and DuckDB ``%`` agree.
INCR_SHARD_MOD = 10
INCR_SHARD_REM = 7
_SPARK_SHARD = f"pmod(doc_id, {INCR_SHARD_MOD}) = {INCR_SHARD_REM}"
_DUCK_SHARD = f"doc_id % {INCR_SHARD_MOD} = {INCR_SHARD_REM}"


def _shard_pred(rem: int):
    """SQL predicate factory: is column ``c`` in the shard slice ``rem``?
    doc_id >= 0 in the testdata, so Spark pmod and DuckDB % agree."""
    return lambda c: f"pmod({c}, {INCR_SHARD_MOD}) = {rem}"


_SPARK_SHARD_PRED = _shard_pred(INCR_SHARD_REM)


def keepfirst_dropped(verified, pred):
    """doc_ids of shard docs DROPPED by greedy keep-first dedup over a
    verified pair relation (d1 < d2, already thresholded): a shard doc
    loses to any non-shard endpoint (the store side is already
    canonical) and to any LOWER-id shard doc (dedup_minhash_keep
    semantics).  ``pred(col)`` renders the is-shard SQL predicate.
    Shared by the single-epoch delta and both epoch-2 steps so the
    keep-first rule cannot diverge between epochs."""
    return (verified
            .select(F.expr(
                f"CASE WHEN ({pred('d1')}) AND NOT ({pred('d2')}) "
                "THEN d1 ELSE d2 END").alias("doc_id"))
            .distinct())


def build_signature_store(docs):
    """(doc_id, band) MinHash-LSH band rows for a documents DataFrame —
    the persistable signature store of the incremental dedup path (same
    shingle -> signature -> band pipeline as the batch LSH operators, so
    store rows and fresh rows are join-compatible by construction).

    Production shape: built ONCE over the corpus and persisted (parquet;
    the roundtrip is pytest-pinned lossless), then only APPENDED to as
    shards arrive — the corpus is never re-shingled.  4 rows/doc
    (N_BANDS), each an md5 hex string: ~150 B/doc, uniform keys, no skew.
    """
    return (docs.select("doc_id", F.split("text", " ").alias("ws"))
            .select("doc_id", F.expr(_spark_shingles()).alias("shs"))
            .select("doc_id", F.array(*[F.expr(_spark_sig(j))
                                        for j in range(K_HASHES)]).alias("sig"))
            .select("doc_id",
                    F.explode(F.expr(_spark_bands())).alias("band")))


def incremental_pairs(spark, documents, store_bands, shard_docs,
                      store_band_counts=None, shard_bands=None):
    """Verified near-dup pairs TOUCHING the new shard, without ever
    re-signing the corpus: shingle+sign ONLY ``shard_docs``, band-join
    the shard bands against ``store_bands`` (corpus) plus themselves
    (intra-shard dups), then exact-Jaccard verify.  Corpus text is
    re-read ONLY for docs that matched a candidate (semi-join on the
    candidate id set — bounded by candidates, not corpus size).

    Equivalence (pytest-pinned and oracle-gated): identical to running
    the full batch LSH dedup over corpus UNION shard, restricted to
    pairs with at least one endpoint in the shard.

    Magnitude at 100x: no BIGINT products — n_common <= shingles/doc
    (~1e3) and all counts <= corpus rows (1e12 << 2^63).

    ``store_band_counts``: optional precomputed (band, __bc) counts of
    ``store_bands`` (one _band_counts pass per STORE VERSION, persisted
    by the caller).  Without it the cap aggregation re-scans the store
    band relation on every invocation — one full extra scan per
    micro-batch even when no bucket is ever oversized.

    ``shard_bands``: optional pre-signed, persisted+materialized band
    relation of ``shard_docs`` (r15: the DELTA operators append the
    same shard's bands the verify path joins, so signing the shard
    once per slice — _shard_bands — removes a whole shingle+minhash
    pass per epoch).  Ownership follows the argument: a caller-provided
    relation is left pinned (its cache registration owns the
    unpersist); a locally-built one is released before return.
    """
    n_parts = spark.sparkContext.defaultParallelism
    owns_shard_bands = shard_bands is None
    if owns_shard_bands:
        shard_bands = build_signature_store(
            shard_docs.repartition(n_parts)).persist()
        shard_bands.count()   # materialize: referenced on both join sides
    a = shard_bands.alias("a")
    # bucket sizes are defined over the FULL (store + shard) relation —
    # capping the b side alone removes every pair of an oversized band
    # (the join needs the band on both sides), byte-matching the batch
    # CTE's rule restricted to shard-touching pairs.  Per-side counts
    # sum to the union's counts, so a caller-supplied store count
    # relation replaces the per-batch store scan; the shard side counts
    # read the just-materialized shard cache (tiny).
    if store_band_counts is None:
        store_band_counts = _band_counts(store_bands)
    over = _oversized_list(
        store_band_counts.unionByName(_band_counts(shard_bands)))
    b = _apply_band_cap(
        store_bands.unionByName(shard_bands), over).alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.doc_id") != F.col("b.doc_id")))
            .select(F.least("a.doc_id", "b.doc_id").alias("d1"),
                    F.greatest("a.doc_id", "b.doc_id").alias("d2"))
            .distinct())
    res = verify_candidate_pairs(spark, documents, cand)
    # release the stage-local persist (res is already materialized; the
    # band relation is NOT registry-tracked, and leaving it pinned
    # would leak executor storage across repeated cache-cold runs —
    # stress runs clear_caches() between scales and would re-pin new
    # copies).  Caller-provided shard bands stay pinned: the cache
    # registry that memoized them owns their lifetime.
    if owns_shard_bands:
        shard_bands.unpersist(False)
    return res


def verify_candidate_pairs(spark, documents, cand):
    """Exact-Jaccard verification of an arbitrary candidate pair
    relation ``cand`` (d1, d2): re-read documents ONLY for docs
    appearing in a candidate (semi-join on the id set — bounded by
    candidates, never corpus size), shingle them, and emit
    (d1, d2, n_common, j).  The verify stage shared by the batch
    incremental operator and the streaming ingest composition (the
    twin emits candidates; this is the downstream batch join the
    docstring of streaming/incr_dedup.py promises).  Returns a
    persisted, materialized relation sized by the candidate count."""
    n_parts = spark.sparkContext.defaultParallelism
    # cand is referenced three times below; deliberately NOT persisted:
    # a persist marker inside this memoized plan would be re-materialized
    # on every re-execution after the teardown unpersist (measured 2.6x
    # on the epoch2 path) — the three references re-derive from already-
    # cached band relations instead, which is cheaper than the cache
    # round-trip
    ids = (cand.select(F.col("d1").alias("doc_id"))
           .unionByName(cand.select(F.col("d2").alias("doc_id")))
           .distinct())
    # each candidate doc's DISTINCT shingle set as ONE sorted array row
    # (the _doc_shingle_arrays form): the verify is then two doc-keyed
    # joins + a codegen array_intersect per pair — no pair-x-shingle
    # explode through two hash joins, no re-aggregation exchange
    arrs = (documents.join(ids, "doc_id", "semi")
            .select("doc_id", F.split("text", " ").alias("ws"))
            .repartition(n_parts)
            .select("doc_id",
                    F.expr(f"sort_array(array_distinct("
                           f"{_spark_shingles()}))").alias("shs"))
            .select("doc_id", "shs", F.size("shs").alias("n_sh"))
            .persist())
    arrs.count()  # materialize before the double-reference verify join
    # zero-shingle docs (<3 words) had NO rows in the exploded form, so
    # their pairs vanished from the inner verify join; mirror that by
    # dropping them before the join (n_common would be 0 anyway, but a
    # 0-0 pair would now divide by zero)
    nz = arrs.filter(F.col("n_sh") > 0)
    common = (cand
              .join(nz.select(F.col("doc_id").alias("d1"),
                              F.col("shs").alias("s1"),
                              F.col("n_sh").alias("n1")), "d1")
              .join(nz.select(F.col("doc_id").alias("d2"),
                              F.col("shs").alias("s2"),
                              F.col("n_sh").alias("n2")), "d2")
              .select("d1", "d2",
                      F.size(F.array_intersect("s1", "s2"))
                       .cast("long").alias("n_common"),
                      "n1", "n2")
              .filter(F.col("n_common") > 0))
    res = (common
           .select("d1", "d2", "n_common",
                   (F.col("n_common").cast("double")
                    / (F.col("n1") + F.col("n2")
                       - F.col("n_common"))).alias("j"))
           .persist())
    res.count()   # materialize, then release the stage-local persist
    arrs.unpersist(False)
    return res


def _incr_store(spark, sf_dir):
    """Persisted corpus-side signature store for the sf_dir's documents
    minus the shard slice (session-memoized — the production analogue is
    the parquet store build_signature_store documents)."""
    def build():
        d = (load_table(spark, sf_dir, "documents")
             .filter(~F.expr(_SPARK_SHARD))
             .repartition(spark.sparkContext.defaultParallelism))
        return materialized(build_signature_store(d))
    return cached("dedup.incr_store", spark, sf_dir, build)


def _shard_bands(spark, sf_dir, rem: int):
    """Persisted signature bands of the ``doc_id % MOD = rem`` shard
    slice, session-memoized — bands depend only on the shard's text, so
    ONE sign pass per slice serves every operator that touches it: the
    verify join side (incremental_pairs) AND the delta append, in both
    the single-epoch and two-epoch forms (the single-epoch shard and
    epoch-A are the same rem=7 slice)."""
    def build():
        d = (load_table(spark, sf_dir, "documents")
             .filter(F.expr(f"pmod(doc_id, {INCR_SHARD_MOD}) = {rem}"))
             .repartition(spark.sparkContext.defaultParallelism))
        return materialized(build_signature_store(d))
    return cached(f"dedup.shard_bands_{rem}", spark, sf_dir, build)


def _store_band_counts(spark, sf_dir, cache_key, store):
    """Memoized (band, __bc) counts for a persisted signature store —
    one counting pass per STORE VERSION, shared by every micro-batch's
    bucket-cap check (ADVICE r13: _cap_buckets re-scanned the raw
    store+shard union on every incremental_pairs call)."""
    def build():
        return materialized(_band_counts(store))
    return cached(cache_key, spark, sf_dir, build)


def _incr_verified(spark, sf_dir):
    """Verified shard-touching pairs (d1, d2, n_common, j), memoized —
    shared by dedup_incremental (the pair report) and
    dedup_incremental_delta (the store append)."""
    def build():
        d = load_table(spark, sf_dir, "documents")
        st = _incr_store(spark, sf_dir)
        # materialized(): truncate the verify chain's lineage at the memo
        # boundary so the pair/delta consumers re-plan only their own tail
        return materialized(incremental_pairs(
            spark, d, st, d.filter(F.expr(_SPARK_SHARD)),
            store_band_counts=_store_band_counts(
                spark, sf_dir, "dedup.incr_store_counts", st),
            shard_bands=_shard_bands(spark, sf_dir, INCR_SHARD_REM)))
    return cached("dedup.incr_verified", spark, sf_dir, build)


def dedup_incremental(spark, sf_dir):
    """Incremental corpus dedup — the production 100 TB ingest shape:
    a NEW shard (deterministic slice ``doc_id % 10 = 7``) arrives, is
    shingled+signed alone, and band-joins against the PERSISTED corpus
    signature store; the corpus is never re-shingled (the store was
    built once).  Emits every exact-Jaccard-verified near-dup pair with
    at least one endpoint in the shard.

    Reference parity: extends the reference's idempotent redelivery
    surface (exporter/internal/persistent_storage.go:278-345) to
    content-level incremental dedup; the store-vs-recompute equivalence
    is the oracle (DuckDB recomputes BOTH sides from scratch — equality
    proves the store is lossless).
    """
    return (_incr_verified(spark, sf_dir)
            .filter(F.col("j") >= JACCARD_THRESHOLD)
            .select("d1", "d2", "n_common",
                    F.round("j", 4).alias("jaccard"))
            .orderBy("d1", "d2").limit(500))


QUERIES["dedup_incremental"] = dedup_incremental
#: shard-touching verified pairs, recomputed FROM SCRATCH (no store) —
#: shared by the incremental pair + delta oracles.
_DUCK_INCR_CTE = _DUCK_PAIR_CTE + f""",
tpairs AS (SELECT d1, d2 FROM pairs
           WHERE d1 % {INCR_SHARD_MOD} = {INCR_SHARD_REM}
              OR d2 % {INCR_SHARD_MOD} = {INCR_SHARD_REM}),
shd AS (SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY doc_id),
common AS (SELECT p.d1, p.d2, COUNT(*) AS n_common
           FROM tpairs p
           JOIN shd s1 ON s1.doc_id = p.d1
           JOIN shd s2 ON s2.doc_id = p.d2 AND s2.sh = s1.sh
           GROUP BY p.d1, p.d2),
verified AS (
  SELECT d1, d2, n_common,
         CAST(n_common AS DOUBLE) / (z1.n_sh + z2.n_sh - n_common) AS j
  FROM common JOIN sizes z1 ON z1.doc_id = d1
              JOIN sizes z2 ON z2.doc_id = d2)
"""
ORACLES["dedup_incremental"] = _DUCK_INCR_CTE + f"""
SELECT d1, d2, n_common, ROUND(j, 4) AS jaccard
FROM verified WHERE j >= {JACCARD_THRESHOLD}
ORDER BY d1, d2 LIMIT 500
"""


def dedup_incremental_delta(spark, sf_dir):
    """The store APPEND of the incremental ingest step: band rows for
    every shard doc that SURVIVES dedup.  A shard doc is dropped if a
    verified pair links it to any corpus doc (the corpus is already
    canonical, so the newcomer always loses) or to a LOWER-id shard doc
    (greedy keep-first within the shard, dedup_minhash_keep semantics).
    Appending exactly these rows keeps the store equal to a from-scratch
    rebuild over the deduped corpus — the invariant that makes the next
    shard's join correct.
    """
    verified = (_incr_verified(spark, sf_dir)
                .filter(F.col("j") >= JACCARD_THRESHOLD))
    dropped = keepfirst_dropped(verified, _SPARK_SHARD_PRED)
    # asc_nulls_last: a <3-word doc signs to NULL bands; Spark sorts
    # NULLS FIRST by default while DuckDB sorts NULLS LAST, so under
    # the LIMIT the two engines could select different rows on data
    # containing tiny docs (ADVICE r11)
    return (_shard_bands(spark, sf_dir, INCR_SHARD_REM)
            .join(dropped, "doc_id", "left_anti")
            .orderBy("doc_id", F.asc_nulls_last("band")).limit(500))


QUERIES["dedup_incremental_delta"] = dedup_incremental_delta
ORACLES["dedup_incremental_delta"] = _DUCK_INCR_CTE + f""",
dropped AS (
  SELECT DISTINCT CASE WHEN d1 % {INCR_SHARD_MOD} = {INCR_SHARD_REM}
                        AND d2 % {INCR_SHARD_MOD} <> {INCR_SHARD_REM}
                       THEN d1 ELSE d2 END AS doc_id
  FROM verified WHERE j >= {JACCARD_THRESHOLD})
SELECT doc_id, unnest({_duck_bands()}) AS band
FROM sig
WHERE doc_id % {INCR_SHARD_MOD} = {INCR_SHARD_REM}
  AND doc_id NOT IN (SELECT doc_id FROM dropped)
ORDER BY doc_id, band LIMIT 500
"""


# ---------------------------------------------------------------------------
# two-epoch composition: corpus -> (+shard A delta) -> shard B
# ---------------------------------------------------------------------------

#: epoch-B shard slice; epoch A reuses :data:`INCR_SHARD_REM` (7).  The
#: corpus for the two-epoch pipeline is everything in NEITHER slice.
INCR2_REM_B = 3
_SPARK_SHARD_B = f"pmod(doc_id, {INCR_SHARD_MOD}) = {INCR2_REM_B}"
_SPARK_SHARD_B_PRED = _shard_pred(INCR2_REM_B)
_SPARK_CORPUS0 = (f"pmod(doc_id, {INCR_SHARD_MOD}) NOT IN "
                  f"({INCR_SHARD_REM}, {INCR2_REM_B})")


def apply_store_delta(store_bands, delta_bands):
    """The epoch-boundary append: store ∪ delta.  Pure unionByName — at
    production scale this is a parquet APPEND to the store table (the
    roundtrip is pytest-pinned lossless); nothing is re-shingled."""
    return store_bands.unionByName(delta_bands)


def _incr2_store0(spark, sf_dir):
    """Epoch-0 signature store: bands of the two-epoch corpus (docs in
    neither shard slice), persisted + materialized (session-memoized)."""
    def build():
        d = (load_table(spark, sf_dir, "documents")
             .filter(F.expr(_SPARK_CORPUS0))
             .repartition(spark.sparkContext.defaultParallelism))
        return materialized(build_signature_store(d))
    return cached("dedup.incr2_store0", spark, sf_dir, build)


def _incr2_verified_a(spark, sf_dir):
    """Epoch-A verified pairs: shard A (doc_id%10=7) joined against the
    epoch-0 store ALONE — shard B does not exist yet.  Memoized; shared
    by the epoch-A delta and (transitively) everything epoch-B."""
    def build():
        d = load_table(spark, sf_dir, "documents")
        st0 = _incr2_store0(spark, sf_dir)
        return materialized(incremental_pairs(
            spark, d, st0, d.filter(F.expr(_SPARK_SHARD)),
            store_band_counts=_store_band_counts(
                spark, sf_dir, "dedup.incr2_store0_counts", st0),
            shard_bands=_shard_bands(spark, sf_dir, INCR_SHARD_REM)))
    return cached("dedup.incr2_verifiedA", spark, sf_dir, build)


def incr2_delta_a(spark, sf_dir):
    """Epoch-A store delta: band rows of every shard-A doc surviving
    keep-first dedup against the epoch-0 store (same rule as
    dedup_incremental_delta, restricted to the two-epoch corpus)."""
    dropped_a = keepfirst_dropped(
        _incr2_verified_a(spark, sf_dir)
        .filter(F.col("j") >= JACCARD_THRESHOLD), _SPARK_SHARD_PRED)
    return (_shard_bands(spark, sf_dir, INCR_SHARD_REM)
            .join(dropped_a, "doc_id", "left_anti"))


def _incr2_store1(spark, sf_dir):
    """The store AFTER epoch A: store0 ∪ delta-A, persisted +
    materialized.  This is the relation whose correctness the epoch-B
    oracle proves: if the delta append lost or invented any band row,
    epoch B's pairs would diverge from the from-scratch recompute."""
    def build():
        return materialized(apply_store_delta(
            _incr2_store0(spark, sf_dir), incr2_delta_a(spark, sf_dir)))
    return cached("dedup.incr2_store1", spark, sf_dir, build)


def _incr2_verified_b(spark, sf_dir):
    """Epoch-B verified pairs: shard B signed ALONE, band-joined against
    store0+deltaA (corpus never re-shingled, shard A never re-shingled
    past its own epoch), exact-Jaccard verified over candidates only."""
    def build():
        d = load_table(spark, sf_dir, "documents")
        st1 = _incr2_store1(spark, sf_dir)
        return materialized(incremental_pairs(
            spark, d, st1, d.filter(F.expr(_SPARK_SHARD_B)),
            store_band_counts=_store_band_counts(
                spark, sf_dir, "dedup.incr2_store1_counts", st1),
            shard_bands=_shard_bands(spark, sf_dir, INCR2_REM_B)))
    return cached("dedup.incr2_verifiedB", spark, sf_dir, build)


def dedup_incremental_epoch2(spark, sf_dir):
    """Two-epoch incremental dedup — the composition proof the
    single-epoch operator's delta docstring promises: partition
    documents into corpus (doc_id%10 ∉ {7,3}) / shard A (%10=7) /
    shard B (%10=3); build the store over the corpus ONCE, apply shard
    A's keep-first delta, then run shard B incrementally against
    store+delta.  Emits shard-B's verified near-dup pairs.

    The oracle recomputes the ENTIRE two-epoch pipeline from scratch in
    DuckDB (global LSH pairs -> epoch-A keep-first drops -> epoch-B
    pairs restricted to survivors), so a green row proves the delta
    APPEND composes: store0 + deltaA behaves identically to a
    from-scratch rebuild over the deduped corpus ∪ A.  In particular a
    pair (B-doc × dropped-A-doc) must be ABSENT — the dropped doc's
    bands never entered the store.

    Reference parity: composes the idempotent-redelivery store shape
    (exporter/internal/persistent_storage.go:278-345) across epochs.

    Magnitude at 100x: identical to dedup_incremental — counts bounded
    by shingles/doc (~1e3) and corpus rows; no products of aggregates.
    Scale shape: epoch cost is the SHARD's (sign shard, band-join
    against store, verify bounded by candidates) — the store is only
    ever appended to, never rebuilt; shard-axis stress covers the
    single-epoch core this composes.
    """
    return (_incr2_verified_b(spark, sf_dir)
            .filter(F.col("j") >= JACCARD_THRESHOLD)
            .select("d1", "d2", "n_common",
                    F.round("j", 4).alias("jaccard"))
            .orderBy("d1", "d2").limit(500))


QUERIES["dedup_incremental_epoch2"] = dedup_incremental_epoch2

_DUCK_A = f"% {INCR_SHARD_MOD} = {INCR_SHARD_REM}"
_DUCK_B = f"% {INCR_SHARD_MOD} = {INCR2_REM_B}"

#: from-scratch two-epoch recompute shared by the epoch-2 pair + delta
#: oracles: global LSH pairs -> verify (restricted to pairs touching
#: either shard) -> epoch-A keep-first drops (shard B not yet arrived:
#: pairs with a B endpoint excluded) -> epoch-B pairs over survivors.
_DUCK_INCR2_CTE = _DUCK_PAIR_CTE + f""",
abpairs AS (SELECT d1, d2 FROM pairs
            WHERE d1 % {INCR_SHARD_MOD} IN ({INCR_SHARD_REM}, {INCR2_REM_B})
               OR d2 % {INCR_SHARD_MOD} IN ({INCR_SHARD_REM}, {INCR2_REM_B})),
shd AS (SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY doc_id),
common AS (SELECT p.d1, p.d2, COUNT(*) AS n_common
           FROM abpairs p
           JOIN shd s1 ON s1.doc_id = p.d1
           JOIN shd s2 ON s2.doc_id = p.d2 AND s2.sh = s1.sh
           GROUP BY p.d1, p.d2),
verified AS (
  SELECT d1, d2, n_common,
         CAST(n_common AS DOUBLE) / (z1.n_sh + z2.n_sh - n_common) AS j
  FROM common JOIN sizes z1 ON z1.doc_id = d1
              JOIN sizes z2 ON z2.doc_id = d2),
dropped_a AS (
  SELECT DISTINCT CASE WHEN d1 {_DUCK_A} AND NOT (d2 {_DUCK_A})
                       THEN d1 ELSE d2 END AS doc_id
  FROM verified
  WHERE j >= {JACCARD_THRESHOLD}
    AND NOT (d1 {_DUCK_B}) AND NOT (d2 {_DUCK_B})
    AND (d1 {_DUCK_A} OR d2 {_DUCK_A})),
epoch_b AS (
  SELECT d1, d2, n_common, j FROM verified
  WHERE j >= {JACCARD_THRESHOLD}
    AND (d1 {_DUCK_B} OR d2 {_DUCK_B})
    AND d1 NOT IN (SELECT doc_id FROM dropped_a)
    AND d2 NOT IN (SELECT doc_id FROM dropped_a))
"""
ORACLES["dedup_incremental_epoch2"] = _DUCK_INCR2_CTE + """
SELECT d1, d2, n_common, ROUND(j, 4) AS jaccard
FROM epoch_b ORDER BY d1, d2 LIMIT 500
"""


def dedup_incremental_epoch2_delta(spark, sf_dir):
    """The epoch-B store APPEND: band rows of every shard-B doc that
    survives keep-first dedup against store0+deltaA — the delta that
    would seed epoch C.  Together with dedup_incremental_epoch2 this
    gates the full epoch cycle (join -> report -> append) at depth 2;
    the delta-then-rebuild identity (store0 ∪ deltaA ∪ deltaB ==
    from-scratch store over kept docs) is pytest-pinned.

    Magnitude/scale: same as the epoch-1 delta — 4 uniform md5 band
    rows per surviving shard doc; the anti-join's right side is the
    dropped set (bounded by verified pairs, not corpus).
    """
    dropped_b = keepfirst_dropped(
        _incr2_verified_b(spark, sf_dir)
        .filter(F.col("j") >= JACCARD_THRESHOLD), _SPARK_SHARD_B_PRED)
    # asc_nulls_last: engine-independent ordering under the LIMIT on
    # data containing <3-word docs (NULL bands) — ADVICE r11
    return (_shard_bands(spark, sf_dir, INCR2_REM_B)
            .join(dropped_b, "doc_id", "left_anti")
            .orderBy("doc_id", F.asc_nulls_last("band")).limit(500))


QUERIES["dedup_incremental_epoch2_delta"] = dedup_incremental_epoch2_delta
ORACLES["dedup_incremental_epoch2_delta"] = _DUCK_INCR2_CTE + f""",
dropped_b AS (
  SELECT DISTINCT CASE WHEN d1 {_DUCK_B} AND NOT (d2 {_DUCK_B})
                       THEN d1 ELSE d2 END AS doc_id
  FROM epoch_b)
SELECT doc_id, unnest({_duck_bands()}) AS band
FROM sig
WHERE doc_id {_DUCK_B}
  AND doc_id NOT IN (SELECT doc_id FROM dropped_b)
ORDER BY doc_id, band LIMIT 500
"""


# ---------------------------------------------------------------------------
# incremental EXACT near-dup: prefix filter against a frozen-order store
# (the batch/stream closure of dedup_allpairs_prefix, verdict r13 ask #7)
# ---------------------------------------------------------------------------

def build_prefix_store(docs):
    """(shd, sizes, dfr, pref) — the persistable signature store of the
    EXACT dedup path (the allpairs analogue of build_signature_store):
    distinct 3-gram shingles per doc, per-doc set sizes, the global
    document-frequency relation, and the df-ascending ranked PREFIX
    relation (n div 2 + 1 rarest shingles per doc at tau=1/2).

    The df relation IS the store's FROZEN token order (df asc, ties by
    shingle): every later arrival ranks its prefixes under this order,
    never re-ranking the corpus.  Production shape: built once over the
    corpus, written to parquet, appended per epoch; re-versioned when
    the accumulated unseen-token mass makes df=1 prefixes too common.
    """
    from pyspark.sql import Window
    shd = (docs.select("doc_id", F.split("text", " ").alias("ws"))
           .select("doc_id",
                   F.explode(F.array_distinct(F.expr(_spark_shingles())))
                    .alias("sh")))
    sizes = shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    dfr = shd.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "sh")
    pref = (shd.join(dfr, "sh")
            .withColumn("rn", F.row_number().over(w))
            .join(sizes, "doc_id")
            .filter(F.col("rn") <= F.expr("n_sh div 2 + 1"))
            .select("doc_id", "sh"))
    return shd, sizes, dfr, pref


def prefix_incremental_pairs(spark, documents, store, shard_docs):
    """Exact verified near-dup pairs TOUCHING the new shard, without
    re-ranking the corpus: the shard is shingled alone and its prefixes
    ranked under the store's FROZEN token order (store df ascending,
    ties by shingle; tokens the store never saw rank rarest at df=1).
    Any FIXED total order satisfies the Bayardo/PPJoin prefix lemma —
    df-ascending is only the performance choice — and store docs'
    prefixes are unchanged under the extended order (their tokens all
    carry store dfs), so exactness is unconditional: every pair with
    Jaccard >= JACCARD_THRESHOLD and >= 1 shard endpoint is found.

    Candidates = shard-prefix x store-prefix (shingle equality) plus
    the intra-shard prefix self-join; the Bayardo length filter and the
    exact set-intersection verify are the batch operator's, so values
    are bit-identical to the from-scratch recompute (pytest-pinned and
    oracle-gated).

    ``store``: (shd, sizes, dfr, pref) from build_prefix_store,
    persisted by the caller.  Scale shape: the shard ranking window
    partitions by shard doc_id (shard-sized); the candidate joins run
    prefix-to-prefix (the df^2-over-rare-tokens bound of
    dedup_prefix_cost_model applies verbatim); corpus text is re-read
    only for docs in a candidate (verify_candidate_pairs semi-join).
    """
    from pyspark.sql import Window
    n_parts = spark.sparkContext.defaultParallelism
    _st_shd, st_sizes, st_dfr, st_pref = store
    s_shd = (shard_docs.repartition(n_parts)
             .select("doc_id", F.split("text", " ").alias("ws"))
             .select("doc_id",
                     F.explode(F.array_distinct(F.expr(_spark_shingles())))
                      .alias("sh"))
             .persist())
    s_shd.count()   # materialize: referenced by sizes, ranking and verify
    s_sizes = s_shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    w = Window.partitionBy("doc_id").orderBy("df", "sh")
    s_pref = (s_shd.join(st_dfr, "sh", "left")
              .withColumn("df", F.coalesce("df", F.lit(1)))
              .withColumn("rn", F.row_number().over(w))
              .join(s_sizes, "doc_id")
              .filter(F.col("rn") <= F.expr("n_sh div 2 + 1"))
              .select("doc_id", "sh"))
    cross = (s_pref.alias("a")
             .join(st_pref.alias("b"), "sh")
             .filter(F.col("a.doc_id") != F.col("b.doc_id"))
             .select(F.least("a.doc_id", "b.doc_id").alias("d1"),
                     F.greatest("a.doc_id", "b.doc_id").alias("d2")))
    intra = (s_pref.alias("a").join(s_pref.alias("b"), "sh")
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("d1"),
                     F.col("b.doc_id").alias("d2")))
    cand = cross.unionByName(intra).distinct()
    # Bayardo length filter (output-invariant at tau=1/2, see
    # dedup_allpairs_prefix).  A doc_id may sit in BOTH size relations
    # (streaming re-delivery: the shard re-contains a store doc) — the
    # store row wins and the shard row is anti-joined away, else the
    # duplicate z-row doubles matching cand rows and n_common inflates
    # 2x downstream (ADVICE r14 high: the j-up-to-2.0 corruption).
    sizes_all = st_sizes.unionByName(
        s_sizes.join(st_sizes.select("doc_id"), "doc_id", "left_anti"))
    z1 = sizes_all.select(F.col("doc_id").alias("d1"),
                          F.col("n_sh").alias("n1"))
    z2 = sizes_all.select(F.col("doc_id").alias("d2"),
                          F.col("n_sh").alias("n2"))
    cand = (cand.join(z1, "d1").join(z2, "d2")
            .filter(F.greatest("n1", "n2") <= 2 * F.least("n1", "n2"))
            .select("d1", "d2"))
    res = verify_candidate_pairs(spark, documents, cand)
    s_shd.unpersist(False)
    return res


def _prefix_store(spark, sf_dir):
    """Session-memoized frozen-order prefix store over the corpus
    (documents minus the shard slice), all four relations persisted —
    the production analogue is the parquet store build_prefix_store
    documents."""
    def build():
        d = (load_table(spark, sf_dir, "documents")
             .filter(~F.expr(_SPARK_SHARD))
             .repartition(spark.sparkContext.defaultParallelism))
        return tuple(materialized(r) for r in build_prefix_store(d))
    return cached("dedup.prefix_store", spark, sf_dir, build)


def dedup_incremental_prefix(spark, sf_dir):
    """Incremental EXACT corpus dedup — dedup_allpairs_prefix's
    incremental-arrival form, closing the batch/stream asymmetry of the
    exact path (the LSH path has dedup_incremental + the streaming
    twin; this is the deterministic-guarantee sibling): a new shard
    (doc_id % 10 = 7) arrives, is shingled and prefix-ranked alone
    under the store's frozen token order, and prefix-joins against the
    PERSISTED corpus prefix relation; every pair with 3-gram Jaccard >=
    JACCARD_THRESHOLD touching the shard is found — guaranteed, no LSH
    misses.

    The oracle recomputes the exact all-pairs join from scratch over
    the WHOLE corpus and restricts to shard-touching pairs: candidate
    sets differ between the two prefix orders (global vs frozen), but
    both algorithms are exact, so the verified outputs are identical —
    that identity is precisely the store-reuse correctness claim.

    Scale shape: see prefix_incremental_pairs; streaming twin in
    streaming/incr_prefix.py rides the same store.
    """
    def build():
        d = load_table(spark, sf_dir, "documents")
        return materialized(prefix_incremental_pairs(
            spark, d, _prefix_store(spark, sf_dir),
            d.filter(F.expr(_SPARK_SHARD))))
    ver = cached("dedup.prefix_incr_verified", spark, sf_dir, build)
    return (ver.filter(F.col("j") >= JACCARD_THRESHOLD)
            .select("d1", "d2", "n_common",
                    F.round("j", 4).alias("jaccard"))
            .orderBy("d1", "d2").limit(500))


QUERIES["dedup_incremental_prefix"] = dedup_incremental_prefix
ORACLES["dedup_incremental_prefix"] = f"""
WITH docs AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
sh0 AS (SELECT doc_id, {{_sh}} AS shs FROM docs),
shd AS (SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM sh0),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY doc_id),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM shd a JOIN shd b ON a.sh = b.sh AND a.doc_id < b.doc_id
  WHERE a.doc_id % {INCR_SHARD_MOD} = {INCR_SHARD_REM}
     OR b.doc_id % {INCR_SHARD_MOD} = {INCR_SHARD_REM}),
common AS (
  SELECT c.d1, c.d2, COUNT(*) AS n_common
  FROM cand c
  JOIN shd s1 ON s1.doc_id = c.d1
  JOIN shd s2 ON s2.doc_id = c.d2 AND s2.sh = s1.sh
  GROUP BY c.d1, c.d2)
SELECT d1, d2, n_common,
       ROUND(CAST(n_common AS DOUBLE)
             / (z1.n_sh + z2.n_sh - n_common), 4) AS jaccard
FROM common JOIN sizes z1 ON z1.doc_id = d1
JOIN sizes z2 ON z2.doc_id = d2
WHERE CAST(n_common AS DOUBLE)
      / (z1.n_sh + z2.n_sh - n_common) >= {JACCARD_THRESHOLD}
ORDER BY d1, d2 LIMIT 500
""".replace("{_sh}", _duck_shingles())


# ---------------------------------------------------------------------------
# asymmetric containment (excerpt / quote detection)
# ---------------------------------------------------------------------------

CONTAINMENT_PERMILLE = 700


def dedup_cc_incremental(spark, sf_dir):
    """Incremental connected-components canonicalization (verdict r14
    ask #7, batch form of ``streaming/incr_cc.py`` — the SAME
    IncrementalCCStore, so stream and batch cannot diverge): the
    corpus-only verified near-dup edges (neither endpoint in the
    arriving shard, doc_id % 10 = 7) build a persisted label
    store, the shard-touching edges arrive as a batch, and the store
    merges them via the contracted-quotient-graph relabel.  Output is
    the DELTA — (node, cluster_id) labels that changed or appeared —
    i.e. exactly what an ingest pipeline writes back per epoch.

    The oracle recomputes BOTH closures from scratch (full edge set and
    corpus-only edge set, two recursive walks) and diffs them — the
    quotient-graph exactness claim is therefore the thing gated, not
    assumed.

    Scale shape: per-batch cost = contracted CC over batch-bounded
    edges + ONE broadcast relabel join over the store; the store is
    never re-shuffled against edges.  Rides the shard axis in
    tools/stress_incremental.py.
    """
    edges = (_jaccard_verified(spark, sf_dir)
             .filter(F.col("j") >= JACCARD_THRESHOLD)
             .select("d1", "d2"))
    m, r = INCR_SHARD_MOD, INCR_SHARD_REM
    touch = (F.col("d1") % m == r) | (F.col("d2") % m == r)

    def build():
        from ..streaming.incr_cc import IncrementalCCStore
        store = IncrementalCCStore(spark, edges.filter(~touch))
        delta = store.apply_batch(edges.filter(touch))
        store.release()
        return delta                   # checkpoint-materialized
    return (cached("dedup.cc_incr", spark, sf_dir, build)
            .orderBy("node"))


def _cc_incremental_oracle() -> str:
    m, r = INCR_SHARD_MOD, INCR_SHARD_REM
    walk = """
{b} AS (SELECT d1 AS a, d2 AS b FROM {src}
        UNION SELECT d2, d1 FROM {src}),
{w}(node, rt) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM {b}) t
    UNION
    SELECT e.b, w.rt FROM {w} w JOIN {b} e ON e.a = w.node
),
{cc} AS (SELECT node, MIN(rt) AS cluster_id FROM {w} GROUP BY node)"""
    return (_DUCK_VERIFIED_CTE.replace("WITH docs", "WITH RECURSIVE docs", 1)
            + ","
            + walk.format(b="bidir_a", w="walk_a", cc="cc_all",
                          src="verified")
            + f""",
cverified AS (SELECT d1, d2 FROM verified
              WHERE d1 % {m} != {r} AND d2 % {m} != {r}),"""
            + walk.format(b="bidir_c", w="walk_c", cc="cc_corpus",
                          src="cverified").lstrip(",\n")
            + """
SELECT a.node, a.cluster_id
FROM cc_all a LEFT JOIN cc_corpus c ON c.node = a.node
WHERE c.node IS NULL OR c.cluster_id != a.cluster_id
ORDER BY a.node
""")


QUERIES["dedup_cc_incremental"] = dedup_cc_incremental
ORACLES["dedup_cc_incremental"] = _cc_incremental_oracle()


def dedup_containment(spark, sf_dir):
    """Asymmetric shingle containment over the LSH candidate pairs:
    C = |A ∩ B| / min(|A|, |B|) — the measure that catches a short doc
    QUOTED inside a long one, which symmetric Jaccard dilutes below
    threshold (Broder 1997 distinguishes resemblance from containment
    for exactly this case).  Emits candidates whose containment clears
    ``CONTAINMENT_PERMILLE`` even when their Jaccard does not, with
    both values side by side.  Candidate recall is the LSH band join's
    (documented: banded MinHash recalls by resemblance; a
    containment-complete screen would band the shorter side's prefix —
    dedup_allpairs_prefix covers the exact path).

    Magnitude at 100x: 1000 * n_common <= 1000 * shingles/doc ~ 1e6 —
    trivially BIGINT; no products of aggregates.

    Scale shape: reuses the memoized candidate pairs + shingle sets
    (bounded by candidates, never n^2); two doc-keyed joins against the
    shingle-array relation, which grows with the corpus, so size
    statistics pick their strategy.
    """
    pairs = _lsh_candidate_pairs(spark, sf_dir)
    # verify on the materialized ARRAY relation (n_sh precomputed, one
    # codegen array_intersect per candidate) instead of the exploded
    # double-join + two size-aggregate joins: the four consumptions of
    # the exploded substrate each re-executed (AQE stage reuse skips
    # cached-relation subtrees — the minhash_estimate_error finding),
    # costing three 32-task aggregate passes per run.  A zero-overlap
    # candidate publishes n_common = 0 here where the sh-equality join
    # dropped it — identical output either way, the containment
    # threshold discards it (CONTAINMENT_PERMILLE > 0).
    arrs = _doc_shingle_arrays(spark, sf_dir)
    z1 = arrs.select(F.col("doc_id").alias("d1"),
                     F.col("shs").alias("s1"), F.col("n_sh").alias("n1"))
    z2 = arrs.select(F.col("doc_id").alias("d2"),
                     F.col("shs").alias("s2"), F.col("n_sh").alias("n2"))
    c = F.size(F.array_intersect("s1", "s2")).cast("long")
    return (pairs
            .join(z1, "d1").join(z2, "d2")
            .select("d1", "d2", c.alias("n_common"),
                    "n1", "n2")
            .select("d1", "d2", "n_common",
                    F.expr("1000 * n_common div least(n1, n2)")
                     .cast("long").alias("cont_permille"),
                    F.expr("1000 * n_common div (n1 + n2 - n_common)")
                     .cast("long").alias("jaccard_permille"))
            .filter(F.col("cont_permille") >= CONTAINMENT_PERMILLE)
            .orderBy("d1", "d2").limit(500))


QUERIES["dedup_containment"] = dedup_containment
ORACLES["dedup_containment"] = _DUCK_PAIR_CTE + f""",
shd AS (SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY doc_id),
common AS (SELECT p.d1, p.d2, COUNT(*) AS n_common
           FROM pairs p
           JOIN shd s1 ON s1.doc_id = p.d1
           JOIN shd s2 ON s2.doc_id = p.d2 AND s2.sh = s1.sh
           GROUP BY p.d1, p.d2)
SELECT d1, d2, CAST(n_common AS BIGINT) AS n_common,
       CAST(1000 * n_common // LEAST(z1.n_sh, z2.n_sh) AS BIGINT)
         AS cont_permille,
       CAST(1000 * n_common // (z1.n_sh + z2.n_sh - n_common) AS BIGINT)
         AS jaccard_permille
FROM common JOIN sizes z1 ON z1.doc_id = d1
            JOIN sizes z2 ON z2.doc_id = d2
WHERE 1000 * n_common // LEAST(z1.n_sh, z2.n_sh)
      >= {CONTAINMENT_PERMILLE}
ORDER BY d1, d2 LIMIT 500
"""


# ---------------------------------------------------------------------------
# shard-ingest funnel (quality gate -> incremental dedup -> keep)
# ---------------------------------------------------------------------------

INGEST_QUALITY_GATE = 800


def curation_ingest_funnel(spark, sf_dir):
    """The end-to-end shard-ingest funnel, per shard source: how many
    docs ARRIVED, failed the QUALITY gate (the shared linear classifier
    below ``INGEST_QUALITY_GATE``), were near-DUPs of the corpus or of
    a lower-id quality-passing shard sibling (incremental LSH + exact
    Jaccard — the dedup_incremental machinery), and were KEPT.  This is
    the acceptance report a 100 TB ingest run publishes per landing
    crawl; quality runs FIRST, so a rejected doc can neither enter the
    store nor suppress a sibling.

    Magnitude at 100x: funnel counts only (<= shard rows); the score
    arithmetic is the classifier's (bounded by doc length).

    Scale shape: the score is one codegen map over the SHARD only; dup
    flags ride the memoized shard-touching verified pairs (bounded by
    candidates); the funnel is one |sources|-row hash agg.
    """
    from .text_score import quality_score_col
    d = load_table(spark, sf_dir, "documents")
    shard = (d.filter(F.expr(_SPARK_SHARD))
             .select("doc_id", "source",
                     (quality_score_col()
                      >= INGEST_QUALITY_GATE).alias("qpass")))
    verified = (_incr_verified(spark, sf_dir)
                .filter(F.col("j") >= JACCARD_THRESHOLD))
    is_shard = f"% {INCR_SHARD_MOD} = {INCR_SHARD_REM}"
    qp = shard.select("doc_id", "qpass")
    # a pair suppresses its shard endpoint if the OTHER side is a
    # corpus doc, or a lower-id shard doc that itself passed quality
    v = (verified
         .join(qp.select(F.col("doc_id").alias("d1"),
                         F.col("qpass").alias("q1")), "d1", "left")
         .join(qp.select(F.col("doc_id").alias("d2"),
                         F.col("qpass").alias("q2")), "d2", "left"))
    dropped = (v.select(F.expr(
        f"CASE WHEN d1 {is_shard} AND NOT (d2 {is_shard}) THEN d1 "
        f"WHEN NOT (d1 {is_shard}) AND d2 {is_shard} THEN d2 "
        f"WHEN coalesce(q1, false) THEN d2 END").alias("doc_id"))
        .filter(F.col("doc_id").isNotNull())
        .distinct()
        .withColumn("is_dup", F.lit(True)))
    return (shard.join(dropped, "doc_id", "left")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_arrived"),
                 F.sum(F.when(~F.col("qpass"), 1).otherwise(0))
                  .cast("long").alias("n_quality_fail"),
                 F.sum(F.when(F.col("qpass")
                              & F.coalesce("is_dup", F.lit(False)),
                              1).otherwise(0))
                  .cast("long").alias("n_dup"),
                 F.sum(F.when(F.col("qpass")
                              & ~F.coalesce("is_dup", F.lit(False)),
                              1).otherwise(0))
                  .cast("long").alias("n_kept"))
            .select("source",
                    F.col("n_arrived").cast("long").alias("n_arrived"),
                    "n_quality_fail", "n_dup", "n_kept")
            .orderBy("source"))


QUERIES["curation_ingest_funnel"] = curation_ingest_funnel
ORACLES["curation_ingest_funnel"] = _DUCK_INCR_CTE + f""",
f AS (
  SELECT doc_id,
    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        x -> x <> '')) AS n_words,
    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        x -> x IN ('the','a','fast','slow'))) AS stop_hits,
    length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
    len(list_distinct(list_filter(string_split_regex(lower(text),
        '[^a-z0-9]+'), x -> x <> ''))) AS n_distinct
  FROM documents WHERE doc_id % {INCR_SHARD_MOD} = {INCR_SHARD_REM}),
shard AS (
  SELECT d.doc_id, d.source,
         (2*f.n_words + 50*f.stop_hits - 10*f.n_digits
          + (f.n_distinct*1000) // f.n_words)
           >= {INGEST_QUALITY_GATE} AS qpass
  FROM documents d JOIN f ON f.doc_id = d.doc_id
  WHERE d.doc_id % {INCR_SHARD_MOD} = {INCR_SHARD_REM}),
vq AS (
  SELECT v.d1, v.d2, q1.qpass AS q1, q2.qpass AS q2
  FROM verified v
  LEFT JOIN shard q1 ON q1.doc_id = v.d1
  LEFT JOIN shard q2 ON q2.doc_id = v.d2
  WHERE v.j >= {JACCARD_THRESHOLD}),
dropped AS (
  SELECT DISTINCT CASE
    WHEN d1 % {INCR_SHARD_MOD} = {INCR_SHARD_REM}
         AND d2 % {INCR_SHARD_MOD} <> {INCR_SHARD_REM} THEN d1
    WHEN d1 % {INCR_SHARD_MOD} <> {INCR_SHARD_REM}
         AND d2 % {INCR_SHARD_MOD} = {INCR_SHARD_REM} THEN d2
    WHEN COALESCE(q1, false) THEN d2 END AS doc_id
  FROM vq)
SELECT s.source,
       CAST(COUNT(*) AS BIGINT) AS n_arrived,
       CAST(SUM(CASE WHEN NOT s.qpass THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quality_fail,
       CAST(SUM(CASE WHEN s.qpass AND dr.doc_id IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       CAST(SUM(CASE WHEN s.qpass AND dr.doc_id IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM shard s
LEFT JOIN (SELECT doc_id FROM dropped WHERE doc_id IS NOT NULL) dr
       ON dr.doc_id = s.doc_id
GROUP BY s.source ORDER BY s.source
"""


def curation_store_stats(spark, sf_dir):
    """Signature-store health report — the monitor an incremental-dedup
    owner reads before trusting the next band join: store row count,
    distinct docs, distinct band buckets, the largest bucket (the join's
    worst-case fan-out — md5 bands should keep it tiny), and how many
    buckets hold more than one doc (real collision candidates).

    Magnitude at 100x: counts only (store rows = 4 x corpus docs).

    Scale shape: two hash aggs over the memoized store relation (one
    bucket-keyed, one global roll-up); nothing driver-side.
    """
    st = _incr_store(spark, sf_dir)
    per_bucket = st.groupBy("band").agg(
        F.count(F.lit(1)).alias("bs"))
    totals = st.agg(F.countDistinct("doc_id").alias("n_docs"))
    return (per_bucket.agg(
        F.sum("bs").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("bs").cast("long").alias("max_bucket"),
        F.sum(F.when(F.col("bs") > 1, 1).otherwise(0)).cast("long")
         .alias("n_collision_buckets"))
        .crossJoin(totals)
        .select(F.col("n_docs").cast("long").alias("n_docs"),
                "n_rows", "n_buckets", "max_bucket",
                "n_collision_buckets"))


QUERIES["curation_store_stats"] = curation_store_stats
ORACLES["curation_store_stats"] = f"""
WITH docs AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents
              WHERE doc_id % {INCR_SHARD_MOD} <> {INCR_SHARD_REM}),
sh AS (SELECT doc_id, {_duck_shingles()} AS shs FROM docs),
sig AS (SELECT doc_id, [{", ".join(_duck_sig(j) for j in range(K_HASHES))}] AS sig FROM sh),
bands AS (SELECT doc_id, unnest({_duck_bands()}) AS band FROM sig),
pb AS (SELECT band, COUNT(*) AS bs FROM bands GROUP BY band)
SELECT CAST((SELECT COUNT(DISTINCT doc_id) FROM bands) AS BIGINT) AS n_docs,
       CAST(SUM(bs) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(bs) AS BIGINT) AS max_bucket,
       CAST(SUM(CASE WHEN bs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_collision_buckets
FROM pb
"""


# ---------------------------------------------------------------------------
# minhash signature accuracy: estimated vs exact Jaccard (round 12)
# ---------------------------------------------------------------------------

def dedup_minhash_estimate_error(spark, sf_dir):
    """Measured accuracy of the MinHash sketch itself: for every LSH
    candidate pair, the signature-estimated Jaccard (matching
    components / K_HASHES — Broder 1997's unbiased estimator) next to
    the exact shingle Jaccard, with the absolute error, all in integer
    permille (K_HASHES = 8 divides 1000*matches exactly: est = 125 *
    matches).  The dedup battery's analogue of ann_recall_report:
    every sketch in the engine publishes its measured error, not just
    its output.

    Magnitude at 100x: 1000 * n_common <= 1e6 — trivial; the estimate
    is <= 1000 by construction.

    Scale shape: signatures are recomputed ONLY for docs appearing in
    a candidate pair (semi-join on the id set — the verify-stage
    discipline); the estimate join is two broadcast-able id lookups
    against the candidate relation, the exact side reuses the memoized
    verified relation.  No new shuffle over the corpus.
    """
    pairs = _lsh_candidate_pairs(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    ids = (pairs.select(F.col("d1").alias("doc_id"))
           .unionByName(pairs.select(F.col("d2").alias("doc_id")))
           .distinct())
    sig = (docs.join(ids, "doc_id", "semi")
           .select("doc_id", F.split("text", " ").alias("ws"))
           .select("doc_id", F.expr(_spark_shingles()).alias("shs"))
           .select("doc_id",
                   F.array(*[F.expr(_spark_sig(j))
                             for j in range(K_HASHES)]).alias("sig")))
    # sig is consumed ONCE, via melt + pivot-back: the natural two-
    # broadcast-lookup form re-executed the whole semi-join + signature
    # pipeline per side — AQE's stage-reuse cache refuses to dedupe
    # subtrees that contain a cached relation (TableCacheQueryStage),
    # even though the two copies are sameResult (r16 finding; a
    # cache-free minimal repro DOES print ReusedExchange).  Melting the
    # pair to one row per (pair, member) makes one broadcast join serve
    # both sides; the pivot-back aggregate runs on pair-count rows
    # (d1 < d2 always, so the WHEN routing is unambiguous, and each
    # group has exactly its two member rows — max picks the non-null).
    side = pairs.select(
        "d1", "d2",
        F.explode(F.array(F.col("d1"), F.col("d2"))).alias("doc_id"))
    both = (side.join(sig, "doc_id")
            .groupBy("d1", "d2")
            .agg(F.max(F.when(F.col("doc_id") == F.col("d1"),
                              F.col("sig"))).alias("sig1"),
                 F.max(F.when(F.col("doc_id") == F.col("d2"),
                              F.col("sig"))).alias("sig2")))
    n_match = F.aggregate(
        F.zip_with(F.col("sig1"), F.col("sig2"),
                   lambda a, b: F.when(a == b, 1).otherwise(0)),
        F.lit(0), lambda acc, x: acc + x)
    est = both.select("d1", "d2", n_match.alias("n_match"))
    # per-doc set sizes come precomputed off the materialized array
    # relation instead of a groupBy over the exploded substrate: the
    # aggregate was consumed twice (z1/z2) and, sitting on a cached
    # relation, never stage-reused — each run paid two full 32-task
    # aggregations for a column _doc_shingle_arrays already carries
    sizes = _doc_shingle_arrays(spark, sf_dir).select("doc_id", "n_sh")
    exact = (_jaccard_verified(spark, sf_dir)
             .join(sizes.alias("z1"),
                   F.col("d1") == F.col("z1.doc_id"))
             .join(sizes.alias("z2"),
                   F.col("d2") == F.col("z2.doc_id"))
             .select("d1", "d2",
                     F.expr("1000 * n_common div "
                            "(z1.n_sh + z2.n_sh - n_common)")
                     .cast("long").alias("exact_permille")))
    k_scale = 1000 // K_HASHES
    return (est.join(exact, ["d1", "d2"])
            .select("d1", "d2",
                    F.col("n_match").cast("long").alias("n_sig_match"),
                    (F.col("n_match") * k_scale).cast("long")
                    .alias("est_permille"),
                    "exact_permille",
                    F.abs(F.col("n_match") * k_scale
                          - F.col("exact_permille")).cast("long")
                    .alias("err_permille"))
            .orderBy("d1", "d2").limit(500))


QUERIES["dedup_minhash_estimate_error"] = dedup_minhash_estimate_error
ORACLES["dedup_minhash_estimate_error"] = _DUCK_PAIR_CTE + f""",
shd AS (SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY doc_id),
common AS (SELECT p.d1, p.d2, COUNT(*) AS n_common
           FROM pairs p
           JOIN shd s1 ON s1.doc_id = p.d1
           JOIN shd s2 ON s2.doc_id = p.d2 AND s2.sh = s1.sh
           GROUP BY p.d1, p.d2),
est AS (
  SELECT p.d1, p.d2,
         list_sum(list_transform(range(1, {K_HASHES + 1}),
           i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
           AS n_match
  FROM pairs p
  JOIN sig a ON a.doc_id = p.d1
  JOIN sig b ON b.doc_id = p.d2)
SELECT e.d1, e.d2,
       CAST(e.n_match AS BIGINT) AS n_sig_match,
       CAST(e.n_match * {1000 // K_HASHES} AS BIGINT) AS est_permille,
       CAST(1000 * c.n_common // (z1.n_sh + z2.n_sh - c.n_common)
            AS BIGINT) AS exact_permille,
       CAST(abs(e.n_match * {1000 // K_HASHES}
                - 1000 * c.n_common
                  // (z1.n_sh + z2.n_sh - c.n_common))
            AS BIGINT) AS err_permille
FROM est e
JOIN common c ON c.d1 = e.d1 AND c.d2 = e.d2
JOIN sizes z1 ON z1.doc_id = e.d1
JOIN sizes z2 ON z2.doc_id = e.d2
ORDER BY e.d1, e.d2 LIMIT 500
"""


# ---------------------------------------------------------------------------
# LSH band-geometry sensitivity (the b/r tuning report)
# ---------------------------------------------------------------------------

#: the geometries under comparison: (rows_per_band r, n_bands b) with
#: r*b == K_HASHES.  r=1 collides on ANY shared minhash (recall
#: superset), r=2 is the production geometry, r=4 the conservative one.
BAND_GEOMETRIES = [(1, 8), (2, 4), (4, 2)]


def _spark_geo_bands(r: int) -> str:
    b = K_HASHES // r
    parts = []
    for i in range(b):
        cells = ", ".join(f"sig[{i * r + k}]" for k in range(r))
        parts.append(f"md5(concat_ws('|', '{r}x{i}', {cells}))")
    return "array(" + ", ".join(parts) + ")"


def _duck_geo_bands(r: int) -> str:
    b = K_HASHES // r
    parts = []
    for i in range(b):
        cells = ", ".join(f"sig[{i * r + k + 1}]" for k in range(r))
        parts.append(f"md5(concat_ws('|', '{r}x{i}', {cells}))")
    return "[" + ", ".join(parts) + "]"


def _geo_pairs(spark, sf_dir):
    """Distinct candidate pairs per band geometry (r, d1, d2), memoized
    per (session, dir): ONE signature pass feeds all three band
    explosions; the stage-local signature persist is released once the
    pair relation (candidate-bounded) is materialized."""
    def build():
        d = load_table(spark, sf_dir, "documents")
        n_parts = spark.sparkContext.defaultParallelism
        sig = (d.select("doc_id", F.split("text", " ").alias("ws"))
               .repartition(n_parts)
               .select("doc_id", F.expr(_spark_shingles()).alias("shs"))
               .select("doc_id",
                       F.array(*[F.expr(_spark_sig(j))
                                 for j in range(K_HASHES)]).alias("sig"))
               .persist())
        sig.count()   # one signature pass feeds all three geometries
        bands = None
        for r, _b in BAND_GEOMETRIES:
            part = (sig.select(F.lit(r).alias("r"), "doc_id",
                               F.explode(F.expr(_spark_geo_bands(r)))
                               .alias("band")))
            bands = part if bands is None else bands.unionByName(part)
        a, b2 = bands.alias("a"), bands.alias("b")
        pairs = (a.join(b2, (F.col("a.r") == F.col("b.r"))
                        & (F.col("a.band") == F.col("b.band"))
                        & (F.col("a.doc_id") < F.col("b.doc_id")))
                 .select(F.col("a.r").alias("r"),
                         F.col("a.doc_id").alias("d1"),
                         F.col("b.doc_id").alias("d2"))
                 .distinct())
        pairs = materialized(pairs)
        sig.unpersist(False)
        return pairs
    return cached("dedup.band_geo_pairs", spark, sf_dir, build)


def dedup_band_sensitivity(spark, sf_dir):
    """LSH band-geometry tuning report: the SAME 8-hash MinHash
    signature banded three ways — r=1 (8 bands: collide on any shared
    hash), r=2 (production), r=4 (2 bands, conservative) — with each
    geometry's candidate count, true-duplicate catch, recall and
    precision in permille.  The S-curve trade (Broder 1997; Leskovec/
    Rajaraman/Ullman ch.3: collision prob = 1-(1-s^r)^b) measured on
    the corpus instead of assumed — the report a curator reads before
    committing a 100 TB dedup pass to one geometry.  Ground truth is
    the exact-Jaccard (>= 0.5) verification of the r=1 candidate set,
    which SUPERSETS every coarser geometry's candidates (agreeing on a
    band's r hashes implies agreeing on each singleton hash), so truth
    is complete for all three rows by construction.

    Scale shape: ONE signature pipeline (the corpus-linear cost) feeds
    all three band explosions; candidate pairs stay distinct per
    geometry; truth verification is bounded by the r=1 candidate count
    via the shared verify join (semi-join doc re-read).  r=1's bucket
    fan-out is the worst case (popular min-shingles pool documents) —
    acceptable for a tuning report run on a corpus SAMPLE in
    production, and exactly the fan-out curation_store_stats exists to
    watch.  Magnitude: counts and 1000-scaled divisions only.
    """
    d = load_table(spark, sf_dir, "documents")
    pairs = _geo_pairs(spark, sf_dir)
    # materialized(): truncated-lineage memo of the verify relation —
    # the registry owns the blocks; consumers re-plan only their tail
    truth = cached(
        "dedup.band_truth", spark, sf_dir,
        lambda: materialized(verify_candidate_pairs(
            spark, d, pairs.filter(F.col("r") == 1).select("d1", "d2")))
    ).filter(F.col("j") >= JACCARD_THRESHOLD).select("d1", "d2")
    # memoized scalar next to the memoized truth relation it counts,
    # so repeat invocations build the plan without a Spark job
    n_true = cached("dedup.band_truth_n", spark, sf_dir, truth.count)
    caught = (pairs.join(truth, ["d1", "d2"], "semi")
              .groupBy("r").agg(F.count(F.lit(1)).alias("n_caught")))
    out = (pairs.groupBy("r")
           .agg(F.count(F.lit(1)).alias("n_candidates"))
           .join(caught, "r", "left")
           .select(F.col("r").cast("long").alias("rows_per_band"),
                   F.expr(f"CAST({K_HASHES} div r AS BIGINT)")
                   .alias("n_bands"),
                   F.col("n_candidates").cast("long")
                   .alias("n_candidates"),
                   F.coalesce("n_caught", F.lit(0)).cast("long")
                   .alias("n_caught"),
                   F.lit(n_true).cast("long").alias("n_true_total"),
                   F.expr(f"CASE WHEN {n_true} = 0 THEN NULL ELSE "
                          f"coalesce(n_caught, 0) * 1000 div {n_true} "
                          "END").cast("long").alias("recall_permille"),
                   F.expr("coalesce(n_caught, 0) * 1000 "
                          "div n_candidates").cast("long")
                   .alias("precision_permille"))
           .orderBy("rows_per_band"))
    return out


QUERIES["dedup_band_sensitivity"] = dedup_band_sensitivity


def _band_sensitivity_oracle() -> str:
    geo_pairs = []
    for r, _b in BAND_GEOMETRIES:
        geo_pairs.append(f"""
  SELECT {r} AS r, a.doc_id AS d1, b.doc_id AS d2
  FROM (SELECT doc_id, unnest({_duck_geo_bands(r)}) AS band FROM sig) a
  JOIN (SELECT doc_id, unnest({_duck_geo_bands(r)}) AS band FROM sig) b
    ON a.band = b.band AND a.doc_id < b.doc_id""")
    union = " UNION ALL ".join(f"({q})" for q in geo_pairs)
    return f"""
WITH docs AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
sh AS (SELECT doc_id, {_duck_shingles()} AS shs FROM docs),
sig AS (SELECT doc_id,
        [{", ".join(_duck_sig(j) for j in range(K_HASHES))}] AS sig
        FROM sh),
gp AS (SELECT DISTINCT r, d1, d2 FROM ({union})),
shd AS (SELECT doc_id, unnest(list_distinct(shs)) AS s FROM sh
        WHERE doc_id IN (SELECT d1 FROM gp WHERE r = 1
                         UNION SELECT d2 FROM gp WHERE r = 1)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY doc_id),
common AS (
  SELECT p.d1, p.d2, COUNT(*) AS n_common
  FROM (SELECT d1, d2 FROM gp WHERE r = 1) p
  JOIN shd s1 ON s1.doc_id = p.d1
  JOIN shd s2 ON s2.doc_id = p.d2 AND s2.s = s1.s
  GROUP BY p.d1, p.d2),
truth AS (
  SELECT c.d1, c.d2
  FROM common c
  JOIN sizes z1 ON z1.doc_id = c.d1
  JOIN sizes z2 ON z2.doc_id = c.d2
  WHERE CAST(c.n_common AS DOUBLE)
        / (z1.n_sh + z2.n_sh - c.n_common) >= {JACCARD_THRESHOLD}),
nt AS (SELECT COUNT(*) AS n_true FROM truth),
caught AS (
  SELECT gp.r, COUNT(*) AS n_caught
  FROM gp SEMI JOIN truth t ON t.d1 = gp.d1 AND t.d2 = gp.d2
  GROUP BY gp.r),
cand AS (SELECT r, COUNT(*) AS n_candidates FROM gp GROUP BY r)
SELECT CAST(cand.r AS BIGINT) AS rows_per_band,
       CAST({K_HASHES} // cand.r AS BIGINT) AS n_bands,
       CAST(cand.n_candidates AS BIGINT) AS n_candidates,
       CAST(COALESCE(caught.n_caught, 0) AS BIGINT) AS n_caught,
       CAST(nt.n_true AS BIGINT) AS n_true_total,
       CAST(CASE WHEN nt.n_true = 0 THEN NULL
            ELSE COALESCE(caught.n_caught, 0) * 1000 // nt.n_true
            END AS BIGINT) AS recall_permille,
       CAST(COALESCE(caught.n_caught, 0) * 1000 // cand.n_candidates
            AS BIGINT) AS precision_permille
FROM cand CROSS JOIN nt
LEFT JOIN caught ON caught.r = cand.r
ORDER BY rows_per_band
"""


ORACLES["dedup_band_sensitivity"] = _band_sensitivity_oracle()
