"""Corpus-assembly operators over ``documents`` — the last mile of a
training-data pipeline: pack curated text into fixed-length training
sequences, screen the corpus for eval-benchmark contamination, and lay the
result out in a deterministic global shuffle order.

Reference parity: the reference's batch processor re-chunks telemetry into
size-capped batches (processor/batchprocessor/splittraces.go:11-66) and its
persistent queue fixes a deterministic replay order
(exporter/exporterhelper/internal/persistent_storage.go:203-276); these
operators extend both ideas to corpus assembly (driver north-star).

Cross-engine determinism: ordering keys and shard assignment are md5-based
(bit-identical in Spark and DuckDB) or natural keys (doc_id); token counts
are whitespace-split word counts, identical in both engines on the
space-separated `documents.text`.

Scale stance — each op avoids the global-coordination trap:
- Packing runs per shard (hash-partitioned), never as one global cumsum:
  the window is PARTITIONed by shard, so at 100 TB each of the N shards
  packs independently in its own task tree — exactly how production
  packers shard work across writers.  No single-partition window exists
  in this module.
- Contamination hash-joins the corpus against the materialized
  benchmark shingle set (broadcast while its measured size is under the
  session threshold, shuffled past it) and the corpus-side explode feeds
  a map-side-combinable hash aggregation — no n^2.
- Shuffle-shard is a codegen map (md5) + per-shard window; the output
  layout (shard, pos) is the write-partitioning a 1000-executor job
  would use directly.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..sources.tables import load_table

QUERIES: dict = {}
ORACLES: dict = {}

#: training sequence length in tokens (whitespace words)
SEQ_LEN = 512
#: number of independent packing / shuffle shards (one md5 hex char)
N_SHARDS = 16
#: benchmark overlap ratio above which a doc is flagged contaminated
CONTAM_THRESHOLD = 0.5

_SHARD = "substring(md5(cast(doc_id as string)), 1, 1)"
_DUCK_SHARD = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)"


# ---------------------------------------------------------------------------
# sequence packing (concat-and-chunk)
# ---------------------------------------------------------------------------

def pack_sequences(spark, sf_dir):
    """Concat-and-chunk packing accounting: documents are concatenated in
    (shard, doc_id) order and cut into SEQ_LEN-token training sequences;
    report per shard how many sequences result, the tail fill ratio, and
    how many documents straddle a sequence boundary (the cross-document
    attention-contamination count packers try to minimize).

    Per-shard running sum via a PARTITIONed window — no global cumsum, so
    the plan holds at any corpus size (see module scale stance).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.expr(_SHARD).alias("shard"), "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"))
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = toks.withColumn("cum", F.sum("n_tok").over(w))
    straddle = (F.floor((F.col("cum") - 1) / SEQ_LEN)
                > F.floor((F.col("cum") - F.col("n_tok")) / SEQ_LEN))
    return (cum
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").alias("total_tokens"),
                 F.ceil(F.max("cum") / SEQ_LEN).cast("long").alias("n_seqs"),
                 F.sum(straddle.cast("int")).cast("long").alias("n_straddlers"))
            .select("shard", "n_docs", "total_tokens", "n_seqs", "n_straddlers",
                    F.round(F.col("total_tokens").cast("double")
                            / (F.col("n_seqs") * SEQ_LEN), 4).alias("fill"))
            .orderBy("shard"))


QUERIES["pack_sequences"] = pack_sequences
ORACLES["pack_sequences"] = f"""
WITH t AS (
  SELECT {_DUCK_SHARD} AS shard, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
c AS (
  SELECT shard, doc_id, n_tok,
         SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM t)
SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(CEIL(CAST(MAX(cum) AS DOUBLE) / {SEQ_LEN}) AS BIGINT) AS n_seqs,
       CAST(SUM(CASE WHEN (cum - 1) // {SEQ_LEN}
                          > (cum - n_tok) // {SEQ_LEN}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers,
       ROUND(CAST(SUM(n_tok) AS DOUBLE)
             / (CAST(CEIL(CAST(MAX(cum) AS DOUBLE) / {SEQ_LEN}) AS BIGINT)
                * {SEQ_LEN}), 4) AS fill
FROM c GROUP BY shard ORDER BY shard
"""


# ---------------------------------------------------------------------------
# benchmark contamination screen
# ---------------------------------------------------------------------------

def _src_shingles(spark, sf_dir):
    """(doc_id, sh, source): the dedup battery's MATERIALIZED per-doc
    distinct-shingle relation (dedup._doc_shingle_sets — one explode per
    session, parallel by construction) with each document's source
    attached by a doc_id join (the documents table grows with the
    corpus, so size statistics pick its strategy).  Shared by the
    contamination screens and the bloom pair, which previously each
    re-ran the full documents scan + split + shingle explode per BRANCH
    per invocation (r16 stage profile: sketch_bloom_fpr alone ran five
    serial explode passes)."""
    from .dedup import _doc_shingle_sets
    shd = _doc_shingle_sets(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return shd.join(src, "doc_id")


def _bench_shingles(spark, sf_dir):
    """Distinct benchmark (source = 'src0') shingles, memoized through
    the bounded cache registry — the screen/bloom-family build side
    (four consumers: both screens, both bloom queries)."""
    from .cache_registry import cached, materialized
    return cached(
        "curation.bench_shingles", spark, sf_dir,
        lambda: materialized(
            _src_shingles(spark, sf_dir)
            .filter(F.col("source") == "src0").select("sh").distinct()))


def _bloom_bits(spark, sf_dir):
    """The Bloom filter's DISTINCT set-bit relation (<= 2^16 rows) over
    the benchmark shingles, memoized: the broadcastable thing both
    bloom queries probe (BLOOM_K positions per inserted shingle)."""
    from .cache_registry import cached, materialized
    pos = _bloom_pos_exprs("sh", "substring")
    return cached(
        "curation.bloom_bits", spark, sf_dir,
        lambda: materialized(
            _bench_shingles(spark, sf_dir)
            .select(F.explode(F.array(*[F.expr(p) for p in pos]))
                    .alias("bit"))
            .distinct()))


def contamination_screen(spark, sf_dir):
    """Eval-set contamination screen: treating `source = 'src0'` documents
    as the held-out benchmark, flag corpus documents whose distinct 3-gram
    shingles overlap the benchmark shingle set above CONTAM_THRESHOLD.

    Plan: the benchmark's distinct shingle set is materialized, so its
    real size decides the join (broadcast at bench scale); the corpus
    side reads the shared shingle substrate once and hash-aggregates
    matches per doc — one shuffle on doc_id, candidate work bounded by
    corpus size x shingle count, never pairwise.
    """
    sh = _src_shingles(spark, sf_dir)
    bench = _bench_shingles(spark, sf_dir)
    corpus = sh.filter(F.col("source") != "src0")
    sizes = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    hits = (corpus.join(bench, "sh")
                  .groupBy("doc_id")
                  .agg(F.count(F.lit(1)).alias("n_hit")))
    ratio = F.col("n_hit").cast("double") / F.col("n_sh")
    return (sizes.join(hits, "doc_id")
            .filter(ratio >= CONTAM_THRESHOLD)
            .select("doc_id", "n_sh", "n_hit",
                    F.round(ratio, 4).alias("overlap"))
            .orderBy("doc_id").limit(500))


QUERIES["contamination_screen"] = contamination_screen
ORACLES["contamination_screen"] = f"""
WITH docs AS (SELECT doc_id, source, string_split(text, ' ') AS ws
              FROM documents),
sh AS (SELECT doc_id, source,
              unnest(list_distinct(list_transform(range(1, len(ws) - 1),
                i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))) AS sh
       FROM docs),
bench AS (SELECT DISTINCT sh FROM sh WHERE source = 'src0'),
corpus AS (SELECT doc_id, sh FROM sh WHERE source != 'src0'),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM corpus GROUP BY doc_id),
hits AS (SELECT c.doc_id, COUNT(*) AS n_hit
         FROM corpus c JOIN bench b ON c.sh = b.sh GROUP BY c.doc_id)
SELECT s.doc_id, s.n_sh, h.n_hit,
       ROUND(CAST(h.n_hit AS DOUBLE) / s.n_sh, 4) AS overlap
FROM sizes s JOIN hits h ON s.doc_id = h.doc_id
WHERE CAST(h.n_hit AS DOUBLE) / s.n_sh >= {CONTAM_THRESHOLD}
ORDER BY s.doc_id LIMIT 500
"""


# ---------------------------------------------------------------------------
# deterministic global shuffle -> sharded layout
# ---------------------------------------------------------------------------

def shuffle_shards(spark, sf_dir):
    """Deterministic global shuffle for training-data layout: every doc
    gets a shard (first md5 hex char) and a position within the shard
    (rank of md5('shuf:' || doc_id)); emit the head of each shard's
    reading order.  Rerunning the pipeline reproduces the exact order —
    no RNG state — and the (shard, pos) layout is directly the
    write-partitioning of a distributed shuffle job.
    """
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        F.expr(_SHARD).alias("shard"), "doc_id", "lang",
        F.md5(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))
         .alias("k"))
    w = Window.partitionBy("shard").orderBy("k")
    return (keyed
            .withColumn("pos", F.row_number().over(w).cast("long"))
            .filter(F.col("pos") <= 10)
            .select("shard", "pos", "doc_id", "lang")
            .orderBy("shard", "pos"))


QUERIES["shuffle_shards"] = shuffle_shards
ORACLES["shuffle_shards"] = f"""
WITH t AS (
  SELECT {_DUCK_SHARD} AS shard, doc_id, lang,
         md5('shuf:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents)
SELECT shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k) AS BIGINT)
         AS pos,
       doc_id, lang
FROM t QUALIFY pos <= 10 ORDER BY shard, pos
"""


# ---------------------------------------------------------------------------
# composite curation pipeline (the end-to-end funnel)
# ---------------------------------------------------------------------------

def curation_pipeline(spark, sf_dir):
    """The end-to-end curation funnel, per language: total documents, and
    how many pass each gate — quality score, repetition, benchmark
    contamination, greedy near-dup removal — plus the intersection
    (n_kept) and its token budget.  This is the whole training-data
    pipeline as ONE declarative plan: scan-side stats, per-doc screen
    relations left-joined onto the document scan, one aggregation.

    Every threshold is an exact integer inequality (quality >= 0.5 <=>
    2*num >= 250*n on the integer numerator of text_quality_score;
    repetition <= 0.5 <=> n <= 2*n_distinct; contamination as
    2*n_hit >= n_sh <=> ratio >= CONTAM_THRESHOLD=0.5 on non-benchmark
    docs), so no gate sits on a float boundary.

    Scale: per-doc stats run inside the scan; the benchmark-hit counts,
    the shingle-set sizes and the dedup drop set each join the document
    scan directly, so each is sized on its own (joining hits to sizes
    first is estimated as the product of the two and would shuffle);
    one final hash aggregation on lang.
    """
    from .dedup import (JACCARD_THRESHOLD, _doc_shingle_arrays,
                        _doc_shingle_sets, _jaccard_verified)
    from .text import _STOPWORDS

    assert JACCARD_THRESHOLD == 0.5  # funnel doc contract
    d = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    per = d.select(
        "doc_id", "lang", "source",
        F.size(ws).alias("n"),
        F.size(F.array_distinct(ws)).alias("nd"),
        F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS))).alias("stop"),
        F.size(F.filter(ws, lambda w: F.length(w) >= 7)).alias("longw"))
    num = (125 * F.col("stop") + 75 * (F.col("n") - F.col("longw"))
           + F.least(F.col("n"), F.lit(50)) * F.col("n"))
    q_ok = (2 * num >= 250 * F.col("n")).cast("int")
    rep_ok = (F.col("n") <= 2 * F.col("nd")).cast("int")
    hits = (_doc_shingle_sets(spark, sf_dir)
            .join(_bench_shingles(spark, sf_dir), "sh", "left_semi")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hit")))
    sizes = _doc_shingle_arrays(spark, sf_dir).select("doc_id", "n_sh")
    contam = ((F.col("source") != "src0")
              & (2 * F.col("n_hit") >= F.col("n_sh")))
    drops = (_jaccard_verified(spark, sf_dir)
             .filter(F.col("j") >= JACCARD_THRESHOLD)
             .select(F.col("d2").alias("doc_id")).distinct()
             .withColumn("d_hit", F.lit(1)))
    flags = (per.join(hits, "doc_id", "left")
                .join(sizes, "doc_id", "left")
                .join(drops, "doc_id", "left")
                .select("lang", "n", q_ok.alias("q_ok"),
                        rep_ok.alias("rep_ok"),
                        F.when(contam, 0).otherwise(1).alias("clean"),
                        F.isnull("d_hit").cast("int").alias("uniq")))
    kept = (F.col("q_ok") * F.col("rep_ok") * F.col("clean") * F.col("uniq"))
    return (flags
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum("q_ok").cast("long").alias("n_quality"),
                 F.sum("rep_ok").cast("long").alias("n_lowrep"),
                 F.sum("clean").cast("long").alias("n_clean"),
                 F.sum("uniq").cast("long").alias("n_unique"),
                 F.sum(kept).cast("long").alias("n_kept"),
                 F.sum(kept * F.col("n")).cast("long").alias("tok_kept"))
            .orderBy("lang"))


QUERIES["curation_pipeline"] = curation_pipeline


def _curation_oracle() -> str:
    from .dedup import _DUCK_DROP_CTE
    from .text import _STOPWORDS, _sql_in_list

    return _DUCK_DROP_CTE + f""",
per AS (
  SELECT doc_id, lang,
         len(ws) AS n,
         len(list_distinct(ws)) AS nd,
         len(list_filter(ws, w -> w IN {_sql_in_list(_STOPWORDS)})) AS stop,
         len(list_filter(ws, w -> len(w) >= 7)) AS longw
  FROM docs JOIN documents USING (doc_id)),
contaminated AS (
  SELECT c.doc_id
  FROM (SELECT s.doc_id, s.sh FROM shd s JOIN documents d
        ON d.doc_id = s.doc_id AND d.source != 'src0') c
  JOIN (SELECT DISTINCT s.sh FROM shd s JOIN documents d
        ON d.doc_id = s.doc_id AND d.source = 'src0') b ON b.sh = c.sh
  JOIN sizes z ON z.doc_id = c.doc_id
  GROUP BY c.doc_id, z.n_sh
  HAVING 2 * COUNT(*) >= z.n_sh),
flags AS (
  SELECT p.lang, p.n,
         CASE WHEN 2 * (125 * p.stop + 75 * (p.n - p.longw)
                        + LEAST(p.n, 50) * p.n) >= 250 * p.n
              THEN 1 ELSE 0 END AS q_ok,
         CASE WHEN p.n <= 2 * p.nd THEN 1 ELSE 0 END AS rep_ok,
         CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END AS clean,
         CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END AS uniq
  FROM per p
  LEFT JOIN contaminated c ON c.doc_id = p.doc_id
  LEFT JOIN dropped dr ON dr.doc_id = p.doc_id)
SELECT lang, COUNT(*) AS n_total,
       CAST(SUM(q_ok) AS BIGINT) AS n_quality,
       CAST(SUM(rep_ok) AS BIGINT) AS n_lowrep,
       CAST(SUM(clean) AS BIGINT) AS n_clean,
       CAST(SUM(uniq) AS BIGINT) AS n_unique,
       CAST(SUM(q_ok * rep_ok * clean * uniq) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN q_ok * rep_ok * clean * uniq = 1 THEN n ELSE 0 END)
            AS BIGINT) AS tok_kept
FROM flags GROUP BY lang ORDER BY lang
"""


ORACLES["curation_pipeline"] = _curation_oracle()


# ---------------------------------------------------------------------------
# deterministic stratified sampling (data-mixture construction)
# ---------------------------------------------------------------------------

#: per-language sampling rates out of 100 — the mixture recipe a training
#: run would tune (upsample low-resource languages, downsample English)
SAMPLE_RATES = {"en": 20, "fr": 60, "es": 60, "de": 80, "zh": 80}
_DEFAULT_RATE = 50


def stratified_sample(spark, sf_dir):
    """Deterministic per-stratum (language) Bernoulli sampling: keep a doc
    iff md5(text)'s first 4 hex digits, as an integer mod 100, fall under
    the language's rate.

    This is how a 100 TB mixture pass samples: a pure scan-side map with
    NO shuffle, no RNG state, and reproducibility across engines, runs,
    and partitionings (the hash is content-keyed, so re-partitioning or
    speculative re-execution cannot change the sample).  The seedable
    alternative — rand() — is neither reproducible across engines nor
    stable under task retries.
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = (F.conv(F.substring(F.md5("text"), 1, 4), 16, 10)
               .cast("int") % 100)
    rate = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v))
          for k, v in SAMPLE_RATES.items()],
        F.lit(_DEFAULT_RATE))
    return (d.select("doc_id", "lang", bucket.alias("bucket"),
                     rate.alias("rate"))
             .filter(F.col("bucket") < F.col("rate"))
             .orderBy("doc_id"))


QUERIES["stratified_sample"] = stratified_sample
ORACLES["stratified_sample"] = f"""
SELECT doc_id, lang, bucket, rate FROM (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5(text), 1, 4)) AS INTEGER) % 100
           AS bucket,
         CASE lang {' '.join(f"WHEN '{k}' THEN {v}"
                             for k, v in SAMPLE_RATES.items())}
              ELSE {_DEFAULT_RATE} END AS rate
  FROM documents) t
WHERE bucket < rate ORDER BY doc_id
"""


def mixture_report(spark, sf_dir):
    """Per-language mixture accounting for the sampled corpus: kept docs,
    kept whitespace tokens, and the configured rate — the audit table a
    mixture pass publishes next to its output.  One hash agg over the
    sample's scan-side map; token counts are whitespace word counts
    (cross-engine identical on the space-separated corpus).
    """
    s = stratified_sample(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " ")).cast("long")
    return (s.join(d.select("doc_id", toks.alias("n_tok")), "doc_id")
             .groupBy("lang")
             .agg(F.count(F.lit(1)).alias("kept_docs"),
                  F.sum("n_tok").cast("long").alias("kept_tokens"),
                  F.max("rate").alias("rate"))
             .orderBy("lang"))


QUERIES["mixture_report"] = mixture_report
ORACLES["mixture_report"] = f"""
WITH s AS ({ORACLES["stratified_sample"]})
SELECT s.lang, CAST(COUNT(*) AS BIGINT) AS kept_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS kept_tokens,
       MAX(rate) AS rate
FROM s JOIN documents USING (doc_id)
GROUP BY s.lang ORDER BY s.lang
"""


# ---------------------------------------------------------------------------
# context-window chunking (sliding windows with overlap)
# ---------------------------------------------------------------------------

#: tokens per training context window, and the stride between window
#: starts (CHUNK - STRIDE tokens of overlap carry context across chunks)
CHUNK_TOKENS = 128
CHUNK_STRIDE = 96


def doc_chunks(spark, sf_dir):
    """Sliding-window context chunking: each document explodes into
    overlapping CHUNK_TOKENS-token windows every CHUNK_STRIDE tokens —
    the flatMap shape an LLM pretraining tokenizer pass emits.

    Spark-first: split + sequence + explode + slice are all codegen'd
    JVM expressions (no UDF); the explode is a constant-factor row
    expansion BEFORE any shuffle, and each chunk row carries its md5
    fingerprint so downstream exact-dedup runs on chunks, not documents.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    n_chunks = F.ceil(n / F.lit(float(CHUNK_STRIDE))).cast("long")
    t = d.select("doc_id", toks.alias("ts"), n.alias("n"),
                 F.explode(F.sequence(F.lit(0).cast("long"),
                                      n_chunks - 1)).alias("chunk_idx"))
    chunk = F.slice("ts", F.col("chunk_idx").cast("int") * CHUNK_STRIDE + 1,
                    CHUNK_TOKENS)
    return (t.filter(F.col("chunk_idx") * CHUNK_STRIDE < F.col("n"))
             .select("doc_id", "chunk_idx",
                     F.size(chunk).cast("long").alias("n_tok"),
                     F.md5(F.array_join(chunk, " ")).alias("chunk_md5"))
             .orderBy("doc_id", "chunk_idx")
             .limit(5000))


QUERIES["doc_chunks"] = doc_chunks
ORACLES["doc_chunks"] = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ts,
         len(string_split(text, ' ')) AS n
  FROM documents),
ix AS (
  SELECT doc_id, ts, n,
         unnest(range(0, CAST(CEIL(n / {CHUNK_STRIDE}.0) AS BIGINT)))
           AS chunk_idx
  FROM t)
SELECT doc_id, chunk_idx,
       CAST(len(list_slice(ts, chunk_idx*{CHUNK_STRIDE}+1,
                           chunk_idx*{CHUNK_STRIDE}+{CHUNK_TOKENS}))
            AS BIGINT) AS n_tok,
       md5(array_to_string(
             list_slice(ts, chunk_idx*{CHUNK_STRIDE}+1,
                        chunk_idx*{CHUNK_STRIDE}+{CHUNK_TOKENS}), ' '))
         AS chunk_md5
FROM ix WHERE chunk_idx * {CHUNK_STRIDE} < n
ORDER BY doc_id, chunk_idx LIMIT 5000
"""


#: Mixing temperature for the multilingual resampling recipe
#: (p_l ∝ share_l^T with T<1 upweights low-resource languages — the
#: XLM-R / mT5 mixing rule from the public literature).
MIX_TEMPERATURE = 0.7


def temperature_mix(spark, sf_dir):
    """Temperature-based language mixing plan: from each language's
    token share, the T=0.7 resampling distribution and the integer
    per-language token budget for a fixed training-token target — the
    table a multilingual pretraining run publishes before sampling.

    Exactness: shares and pow(share, T) are double arithmetic but
    bit-stable cross-engine (q48's pow precedent); every published
    column is either a raw integer count or floor()-scaled to micro
    units, so the oracle hash is exact.  One hash agg over a scan-side
    token count; the normalization constant is a 1-row broadcast.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " ")).cast("long")
    per_lang = (d.groupBy("lang")
                 .agg(F.sum(toks).alias("tokens"),
                      F.count(F.lit(1)).alias("docs")))
    tot = per_lang.agg(F.sum("tokens").alias("total"))
    j = per_lang.crossJoin(tot)
    # per-row pow() is deterministic; the cross-row normalization uses
    # INTEGER nano-scaled weights so the sum is order-independent (the
    # engine's standard dodge for order-sensitive double folds)
    w_nano = F.floor(F.pow(F.col("tokens") / F.col("total"),
                           F.lit(MIX_TEMPERATURE)) * 1e9).cast("long")
    j = j.withColumn("w_nano", w_nano)
    # the normalization constant is a model parameter — memoized per
    # (session, dir), so repeat invocations build the plan job-free
    from .cache_registry import cached
    wsum = cached("curation.mix_wsum", spark, sf_dir,
                  lambda: int(j.agg(F.sum("w_nano")).first()[0]))
    budget = 1_000_000      # training-token target for the mix table
    return (j.select(
                "lang", "docs", "tokens",
                F.floor(F.col("w_nano").cast("decimal(38,0)")
                        * 1_000_000 / F.lit(wsum)).cast("long")
                 .alias("p_micro"),
                F.floor(F.col("w_nano").cast("decimal(38,0)")
                        * budget / F.lit(wsum)).cast("long")
                 .alias("token_budget"),
                F.floor(F.col("w_nano").cast("decimal(38,0)")
                        * budget * 1_000_000
                        / (F.lit(wsum).cast("decimal(38,0)")
                           * F.col("tokens"))).cast("long")
                 .alias("upsample_micro"))
               .orderBy("lang"))


QUERIES["temperature_mix"] = temperature_mix
ORACLES["temperature_mix"] = f"""
WITH per_lang AS (
  SELECT lang, SUM(len(string_split(text, ' '))) AS tokens,
         COUNT(*) AS docs
  FROM documents GROUP BY lang),
tot AS (SELECT SUM(tokens) AS total FROM per_lang),
w AS (SELECT lang, docs, tokens,
             CAST(floor(pow(tokens / total, {MIX_TEMPERATURE}) * 1e9)
                  AS BIGINT) AS w_nano
      FROM per_lang, tot),
ws AS (SELECT SUM(w_nano) AS wsum FROM w)
SELECT lang, CAST(docs AS BIGINT) AS docs, CAST(tokens AS BIGINT) AS tokens,
       CAST(w_nano * 1000000 // wsum AS BIGINT) AS p_micro,
       CAST(w_nano * 1000000 // wsum AS BIGINT) AS token_budget,
       CAST(CAST(w_nano AS HUGEINT) * 1000000 * 1000000
            // (CAST(wsum AS HUGEINT) * tokens) AS BIGINT) AS upsample_micro
FROM w, ws ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Bloom-filter contamination screen
# ---------------------------------------------------------------------------

#: Bloom geometry: k hashes into 2^16 bits.
BLOOM_K = 3
BLOOM_HEXCHARS = 4          # 4 hex chars = 16-bit positions
_BHEX = "0123456789abcdef"


def _bloom_pos_exprs(sh_col: str, substr_fn: str) -> list[str]:
    """One 16-bit bit-position expression per hash, both dialects.

    All K positions slice ONE md5 digest (hex chars 1-4, 5-8, 9-12) —
    the standard one-hash Bloom construction: a 128-bit digest carries
    K independent 16-bit indexes, so the probe costs one hash instead
    of K salted ones (3x fewer md5 calls per corpus shingle).

    Spark dialect (substring) parses each 4-hex window with native
    conv() — one call instead of 4 instr+substring string ops, the
    BOOT_PROFILE_r14 finding; the DuckDB dialect (substr) keeps the
    portable strpos arithmetic.  Values identical (parity-gated)."""
    h = f"md5({sh_col})"
    out = []
    for i in range(BLOOM_K):
        if substr_fn == "substring":      # Spark: native hex parse
            val = (f"CAST(conv(substring({h}, "
                   f"{i * BLOOM_HEXCHARS + 1}, {BLOOM_HEXCHARS}), "
                   f"16, 10) AS BIGINT)")
        else:
            val = " + ".join(
                f"(instr('{_BHEX}', {substr_fn}({h},"
                f" {i * BLOOM_HEXCHARS + j + 1}, 1)) - 1)"
                f" * {16 ** (BLOOM_HEXCHARS - 1 - j)}"
                for j in range(BLOOM_HEXCHARS))
        out.append(f"({val})")
    return out


def bloom_screen(spark, sf_dir):
    """Contamination screen via a Bloom filter instead of the exact
    benchmark-shingle set: the benchmark's 3-gram shingles set
    ``BLOOM_K`` md5-derived bits in a 2^16-bit filter; a corpus shingle
    is a MAYBE-hit iff all its bits are set.  Per doc the query reports
    maybe-hits next to exact hits, so the Bloom false-positive rate is
    observable (n_maybe >= n_exact always — one-sided, like the CMS).

    Why at 100 TB: the exact screen joins the full benchmark shingle
    SET, which stops fitting a broadcast as benchmarks pile up; the
    Bloom variant broadcasts a fixed 8 KiB bitset no
    matter how many benchmarks pile up — the filter is the thing you
    ship to every executor (and every other team).  Construction is one
    distinct-aggregation over benchmark shingles; the probe is a
    broadcast semi-join per hash, candidate work linear in corpus
    shingle count.  Everything md5-derived and integer-exact, so the
    DuckDB twin re-derives filter and probe bit for bit.
    """
    # shared substrates: the memoized shingle relation (one explode per
    # session — the per-query parallel_table fan-out explode this
    # replaced re-ran the whole documents scan per branch) and the
    # memoized benchmark set / bit relation
    sh = _src_shingles(spark, sf_dir)
    bench = _bench_shingles(spark, sf_dir)
    bits = _bloom_bits(spark, sf_dir)
    # ONE corpus pass: per-shingle bit probes -> maybe candidates via
    # BLOOM_K successive semi-joins against the SAME broadcast bit
    # relation (the exchange is built once and reused) — "all K bits
    # present" expressed as K pipelined codegen probes on the shingle
    # row itself, so the K-way explode, its 8x join input, and the
    # (doc_id, sh) count-of-hits re-aggregation exchange all disappear
    # (guide §2.4; identical survivor set: nbits == BLOOM_K iff every
    # position's bit is in the filter).  (Tried and rejected earlier:
    # collecting the bitset into a 64 KiB literal string and probing
    # with substring — Spark re-materializes the giant literal per row,
    # 25x slower than the broadcast-hash probe.)  The exact membership
    # rides along on the SAME candidates because a Bloom filter has no
    # false negatives (every bench shingle set all its bits), so exact
    # hits ⊆ maybe hits
    corpus = sh.filter(F.col("source") != "src0")
    cand = corpus.select("doc_id", "sh", F.md5("sh").alias("h"))
    for i in range(BLOOM_K):
        p = (f"CAST(conv(substring(h, {i * BLOOM_HEXCHARS + 1}, "
             f"{BLOOM_HEXCHARS}), 16, 10) AS BIGINT)")
        b = bits.alias(f"bb{i}")
        cand = cand.join(b,
                         F.expr(p) == F.col(f"bb{i}.bit"), "semi")
    cand = cand.select("doc_id", "sh")
    return (cand.join(bench.withColumn("inb", F.lit(1)),
                      "sh", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_maybe"),
                 F.coalesce(F.sum("inb"), F.lit(0)).cast("long")
                 .alias("n_exact"))
            .orderBy("doc_id").limit(500))


QUERIES["bloom_screen"] = bloom_screen


def _bloom_oracle() -> str:
    pos = _bloom_pos_exprs("sh", "substr")
    probe_union = " UNION ALL ".join(
        f"SELECT doc_id, sh, {p} AS bit FROM corpus" for p in pos)
    bits_union = " UNION ALL ".join(
        f"SELECT DISTINCT {p} AS bit FROM bench_sh" for p in pos)
    return f"""
WITH docs AS (SELECT doc_id, source, string_split(text, ' ') AS ws
              FROM documents),
sh AS (SELECT doc_id, source,
              unnest(list_distinct(list_transform(range(1, len(ws) - 1),
                i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))) AS sh
       FROM docs),
bench_sh AS (SELECT DISTINCT sh FROM sh WHERE source = 'src0'),
corpus AS (SELECT doc_id, sh FROM sh WHERE source != 'src0'),
bits AS (SELECT DISTINCT bit FROM ({bits_union})),
probes AS ({probe_union}),
maybe AS (
  SELECT doc_id, COUNT(*) AS n_maybe FROM (
    SELECT p.doc_id, p.sh
    FROM probes p JOIN bits b ON p.bit = b.bit
    GROUP BY p.doc_id, p.sh HAVING COUNT(*) = {BLOOM_K})
  GROUP BY doc_id),
exact AS (
  SELECT c.doc_id, COUNT(*) AS n_exact
  FROM corpus c JOIN bench_sh b ON c.sh = b.sh GROUP BY c.doc_id)
SELECT m.doc_id, CAST(m.n_maybe AS BIGINT) AS n_maybe,
       CAST(COALESCE(e.n_exact, 0) AS BIGINT) AS n_exact
FROM maybe m LEFT JOIN exact e ON e.doc_id = m.doc_id
ORDER BY m.doc_id LIMIT 500
"""


ORACLES["bloom_screen"] = _bloom_oracle()


# ---------------------------------------------------------------------------
# length-bucketed batching: padding-waste accounting
# ---------------------------------------------------------------------------

#: power-of-two context-length ladder (tokens)
LENGTH_BUCKETS = (16, 32, 64, 128, 256, 512, 1024)


def length_buckets(spark, sf_dir):
    """Length-bucketed batching report — the training-efficiency
    counterpart of ``pack_sequences``: when sequences are NOT packed but
    padded (SFT / eval batching), docs are binned to the smallest
    power-of-two context that fits and the bill is the padding.  Per
    bucket: doc count, real tokens, padded slots, and the utilization
    in exact permille (sum_tokens * 1000 div capacity) — the number a
    batch scheduler watches to decide when packing pays for itself.

    Docs longer than the top bucket are TRUNCATED to it (what SFT
    batching actually does to oversize rows) and counted in
    n_truncated, so padding stays >= 0 and utilization <= 1000 by
    construction.  The bucket ladder is a CASE ladder over integer word
    counts — no float log2 to disagree on; one codegen map + one hash
    aggregate."""
    d = load_table(spark, sf_dir, "documents")
    top = LENGTH_BUCKETS[-1]
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    bucket = F.lit(top)
    for b in reversed(LENGTH_BUCKETS):
        bucket = F.when(n_tok <= b, F.lit(b)).otherwise(bucket)
    return (d.select(bucket.cast("long").alias("bucket"),
                     F.least(n_tok, F.lit(top).cast("long"))
                      .alias("n_tok"),
                     (n_tok > top).cast("long").alias("truncated"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("sum_tokens"),
                 F.sum("truncated").cast("long").alias("n_truncated"))
            .select("bucket", "n_docs", "sum_tokens", "n_truncated",
                    (F.col("n_docs") * F.col("bucket")
                     - F.col("sum_tokens")).cast("long").alias("padding"),
                    F.expr("sum_tokens * 1000 div (n_docs * bucket)")
                     .cast("long").alias("util_permille"))
            .orderBy("bucket"))


QUERIES["curation_length_buckets"] = length_buckets
_BUCKET_LADDER_SQL = "CASE " + " ".join(
    f"WHEN n_tok <= {b} THEN {b}" for b in LENGTH_BUCKETS
) + f" ELSE {LENGTH_BUCKETS[-1]} END"
ORACLES["curation_length_buckets"] = f"""
WITH toks AS (
  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
binned AS (
  SELECT CAST({_BUCKET_LADDER_SQL} AS BIGINT) AS bucket,
         LEAST(n_tok, {LENGTH_BUCKETS[-1]}) AS n_tok,
         CASE WHEN n_tok > {LENGTH_BUCKETS[-1]} THEN 1 ELSE 0 END
           AS truncated
  FROM toks)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       CAST(SUM(truncated) AS BIGINT) AS n_truncated,
       CAST(COUNT(*) * bucket - SUM(n_tok) AS BIGINT) AS padding,
       CAST(SUM(n_tok) * 1000 // (COUNT(*) * bucket) AS BIGINT)
         AS util_permille
FROM binned GROUP BY bucket ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# dataset card: the per-source corpus report
# ---------------------------------------------------------------------------

def dataset_card(spark, sf_dir):
    """The dataset-card summary a corpus release ships: per source —
    doc count, total whitespace tokens, distinct languages, the
    majority language (count DESC, lang ASC tie-break), and the exact-
    duplicate rate (docs whose md5(text) appears more than once WITHIN
    the source) in permille.  One number sheet joining the signals the
    individual operators compute.

    Plan: two hash aggregates over the scan (md5 groups, then source
    rollup) + a per-source top-1 window over the |sources| x |langs|
    frame — nothing wider than the tiny lang frame is ever sorted."""
    d = load_table(spark, sf_dir, "documents")
    base = (d.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum(F.size(F.split(F.col("text"), " ")))
                  .cast("long").alias("n_tokens"),
                 F.countDistinct("lang").cast("long").alias("n_langs")))
    lang_counts = (d.groupBy("source", "lang")
                   .agg(F.count(F.lit(1)).alias("c")))
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), "lang")
    top_lang = (lang_counts.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") == 1)
                .select("source", F.col("lang").alias("top_lang")))
    dups = (d.groupBy("source", F.md5(F.col("text")).alias("h"))
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("source")
            .agg(F.sum(F.when(F.col("c") > 1, F.col("c"))
                       .otherwise(F.lit(0))).cast("long")
                  .alias("n_dup_docs")))
    return (base.join(top_lang, "source").join(dups, "source")
            .select("source", "n_docs", "n_tokens", "n_langs", "top_lang",
                    "n_dup_docs",
                    F.expr("n_dup_docs * 1000 div n_docs").cast("long")
                     .alias("dup_permille"))
            .orderBy("source"))


QUERIES["curation_dataset_card"] = dataset_card
ORACLES["curation_dataset_card"] = """
WITH base AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
  FROM documents GROUP BY source),
lc AS (
  SELECT source, lang, COUNT(*) AS c,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY COUNT(*) DESC, lang) AS rk
  FROM documents GROUP BY source, lang),
dups AS (
  SELECT source,
         CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
           AS n_dup_docs
  FROM (SELECT source, md5(text) AS h, COUNT(*) AS c
        FROM documents GROUP BY source, md5(text))
  GROUP BY source)
SELECT b.source, b.n_docs, b.n_tokens, b.n_langs,
       l.lang AS top_lang, d.n_dup_docs,
       CAST(d.n_dup_docs * 1000 // b.n_docs AS BIGINT) AS dup_permille
FROM base b
JOIN lc l ON l.source = b.source AND l.rk = 1
JOIN dups d ON d.source = b.source
ORDER BY b.source
"""


# ---------------------------------------------------------------------------
# corpus snapshot diff (data versioning)
# ---------------------------------------------------------------------------

def snapshot_diff(spark, sf_dir):
    """Corpus snapshot diff — the data-versioning report a release
    pipeline prints between crawls: per source, how many docs were
    ADDED, REMOVED, MODIFIED (same id, different content hash), and
    UNCHANGED.  Snapshots are synthesized deterministically from the one
    corpus (OLD drops doc_id%19==0, NEW drops doc_id%17==0 and rewrites
    the text of doc_id%23==0), so the report is arithmetic for the
    oracle while the engine runs the REAL plan: a full outer join on
    doc_id comparing md5(text) — the delta shape every lakehouse diff
    (Delta/Iceberg snapshot compare) executes.

    One hash exchange per side on doc_id; the compare is row-local."""
    d = load_table(spark, sf_dir, "documents")
    old = (d.filter(F.col("doc_id") % 19 != 0)
           .select("doc_id", "source", F.md5("text").alias("h_old")))
    new = (d.filter(F.col("doc_id") % 17 != 0)
           .select("doc_id", "source",
                   F.md5(F.when(F.col("doc_id") % 23 == 0,
                                F.concat(F.lit("v2 "), F.col("text")))
                          .otherwise(F.col("text"))).alias("h_new")))
    j = (old.withColumnRenamed("source", "src_old")
         .join(new.withColumnRenamed("source", "src_new"),
               "doc_id", "full_outer"))
    status = (F.when(F.col("h_old").isNull(), "added")
              .when(F.col("h_new").isNull(), "removed")
              .when(F.col("h_old") != F.col("h_new"), "modified")
              .otherwise("unchanged"))
    return (j.select(F.coalesce("src_old", "src_new").alias("source"),
                     status.alias("status"))
            .groupBy("source")
            .agg(F.sum((F.col("status") == "added").cast("long"))
                  .cast("long").alias("n_added"),
                 F.sum((F.col("status") == "removed").cast("long"))
                  .cast("long").alias("n_removed"),
                 F.sum((F.col("status") == "modified").cast("long"))
                  .cast("long").alias("n_modified"),
                 F.sum((F.col("status") == "unchanged").cast("long"))
                  .cast("long").alias("n_unchanged"))
            .orderBy("source"))


QUERIES["curation_snapshot_diff"] = snapshot_diff
ORACLES["curation_snapshot_diff"] = """
WITH old AS (
  SELECT doc_id, source, md5(text) AS h_old
  FROM documents WHERE doc_id % 19 != 0),
new AS (
  SELECT doc_id, source,
         md5(CASE WHEN doc_id % 23 = 0 THEN 'v2 ' || text
                  ELSE text END) AS h_new
  FROM documents WHERE doc_id % 17 != 0),
j AS (
  SELECT COALESCE(o.source, n.source) AS source,
         CASE WHEN o.h_old IS NULL THEN 'added'
              WHEN n.h_new IS NULL THEN 'removed'
              WHEN o.h_old != n.h_new THEN 'modified'
              ELSE 'unchanged' END AS status
  FROM old o FULL OUTER JOIN new n USING (doc_id))
SELECT source,
       CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_added,
       CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       CAST(SUM(CASE WHEN status = 'modified' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_modified,
       CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_unchanged
FROM j GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# token-budget waterfilling (fair per-source allocation)
# ---------------------------------------------------------------------------

#: global budget as a fraction of the corpus, in permille (deterministic)
WATERFILL_BUDGET_PERMILLE = 600


def budget_waterfill(spark, sf_dir):
    """Token-budget waterfilling — the fair-share allocator a mixture
    builder runs when the training budget is smaller than the corpus:
    every source keeps all its tokens up to a common cap, and the cap is
    the largest value that spends exactly (up to integer floor) the
    budget.  The classic iterative waterfill has a CLOSED FORM over the
    sources sorted by size: source i (ascending) is uncapped iff
    n_i * (N - i + 1) <= B - cum_{i-1}; with k = the last uncapped index
    the cap is (B - cum_k) div (N - k).  Both the cutoff test and the
    cap are integer-exact cross-multiplications — no float division.

    Plan: one aggregate to the |sources| frame, then windows over that
    tiny frame plus a 1-row broadcast of (B, k, cap).  The corpus is
    scanned once."""
    d = load_table(spark, sf_dir, "documents")
    per_src = (d.groupBy("source")
               .agg(F.sum(F.size(F.split(F.col("text"), " ")))
                     .cast("long").alias("n_tok")))
    w = Window.orderBy("n_tok", "source")
    wall = Window.partitionBy()
    t = (per_src
         .withColumn("i", F.row_number().over(w))
         .withColumn("cum", F.sum("n_tok").over(
             w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
         .withColumn("n_src", F.count(F.lit(1)).over(wall))
         .withColumn("budget",
                     F.expr(f"sum(n_tok) over () "
                            f"* {WATERFILL_BUDGET_PERMILLE} div 1000")))
    t = t.withColumn(
        "uncapped",
        F.col("n_tok") * (F.col("n_src") - F.col("i") + 1)
        <= F.col("budget") - (F.col("cum") - F.col("n_tok")))
    cut = (t.groupBy()
           .agg(F.max(F.when(F.col("uncapped"), F.col("i")))
                 .alias("k"),
                F.max(F.when(F.col("uncapped"), F.col("cum")))
                 .alias("cum_k"),
                F.first("n_src").alias("n"),
                F.first("budget").alias("b"))
           .select(F.coalesce("k", F.lit(0)).alias("k"),
                   F.coalesce("cum_k", F.lit(0)).alias("cum_k"),
                   "n", "b"))
    out = (t.crossJoin(cut)
           .withColumn(
               "cap",
               F.when(F.col("k") < F.col("n"),
                      F.expr("(b - cum_k) div (n - k)"))
                .otherwise(F.lit(None).cast("long")))
           .select("source", "n_tok",
                   F.when(F.col("i") <= F.col("k"), F.col("n_tok"))
                    .otherwise(F.col("cap")).cast("long")
                    .alias("allocated"),
                   (F.col("i") > F.col("k")).alias("capped"))
           .orderBy("source"))
    return out


QUERIES["curation_budget_waterfill"] = budget_waterfill
ORACLES["curation_budget_waterfill"] = f"""
WITH per_src AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
           AS n_tok
  FROM documents GROUP BY source),
t AS (
  SELECT source, n_tok,
         ROW_NUMBER() OVER (ORDER BY n_tok, source) AS i,
         SUM(n_tok) OVER (ORDER BY n_tok, source
                          ROWS UNBOUNDED PRECEDING) AS cum,
         COUNT(*) OVER () AS n_src,
         SUM(n_tok) OVER () * {WATERFILL_BUDGET_PERMILLE} // 1000
           AS budget
  FROM per_src),
flags AS (
  SELECT *, n_tok * (n_src - i + 1) <= budget - (cum - n_tok)
           AS uncapped
  FROM t),
cut AS (
  SELECT COALESCE(MAX(CASE WHEN uncapped THEN i END), 0) AS k,
         COALESCE(MAX(CASE WHEN uncapped THEN cum END), 0) AS cum_k,
         ANY_VALUE(n_src) AS n, ANY_VALUE(budget) AS b
  FROM flags)
SELECT f.source, f.n_tok,
       CAST(CASE WHEN f.i <= c.k THEN f.n_tok
                 ELSE (c.b - c.cum_k) // (c.n - c.k) END AS BIGINT)
         AS allocated,
       f.i > c.k AS capped
FROM flags f CROSS JOIN cut c
ORDER BY f.source
"""


# ---------------------------------------------------------------------------
# Bloom filter health: measured false-positive rate (round 12)
# ---------------------------------------------------------------------------

def sketch_bloom_fpr(spark, sf_dir):
    """Filter-level health report for EXACTLY the Bloom filter
    ``bloom_screen`` ships: geometry (m = 2^16 bits, k = 3), load
    (n_inserted distinct benchmark shingles, bits_set, fill in
    permille), and the MEASURED false-positive rate — corpus shingles
    that are definitively NOT in the benchmark set (anti-join) yet
    pass all k bit probes, in ppm.  The observed-fpr-vs-fill row is
    what decides when the filter must be resized before it silently
    degrades the screen to noise (Bloom 1970's trade made observable;
    the dedup battery's measured-accuracy discipline, see
    dedup_minhash_estimate_error).

    Magnitude: 1e6 * fp <= 1e6 * |corpus shingles| ~ 1e18 at 100x —
    BIGINT-safe; everything else is <= 2^16 or a count.

    Scale shape: one distinct-agg per side, the probe is the same
    broadcast join on the <= 2^16-row bit relation bloom_screen uses
    (the filter is the broadcastable thing by design), all finals are
    single-row global aggregates.
    """
    # shared substrates (one shingle explode per session, memoized
    # bench set + bit relation — see _src_shingles/_bench_shingles)
    sh = _src_shingles(spark, sf_dir)
    bench = _bench_shingles(spark, sf_dir)
    bits = _bloom_bits(spark, sf_dir)
    probes = (sh.filter(F.col("source") != "src0")
              .select("sh").distinct()
              .join(bench, "sh", "left_anti"))
    # ONE probe pass serving BOTH probe statistics: the r15 form
    # consumed `probes` twice (a count branch and a 3-semi-join
    # false-positive branch), re-running the corpus distinct + anti
    # join per branch.  Flag-joins instead of semi-joins (the bit
    # relation is DISTINCT, so each broadcast left join matches at most
    # once and preserves row counts) let a single aggregate emit
    # n_probes AND n_false_pos from one pipeline (guide §2.4; this is
    # the r15 driver-measured regression re-adjudicated — r16 item 5).
    fp = probes.select("sh", F.md5("sh").alias("h"))
    hitcols = []
    for i in range(BLOOM_K):
        p = (f"CAST(conv(substring(h, {i * BLOOM_HEXCHARS + 1}, "
             f"{BLOOM_HEXCHARS}), 16, 10) AS BIGINT)")
        b = bits.select(F.col("bit").alias(f"b{i}"),
                        F.lit(1).alias(f"hit{i}"))
        fp = (fp.join(b, F.expr(p) == F.col(f"b{i}"), "left")
                .drop(f"b{i}"))
        hitcols.append(f"hit{i}")
    all_hit = F.when(
        sum(F.coalesce(F.col(c), F.lit(0)) for c in hitcols) == BLOOM_K,
        F.lit(1)).otherwise(F.lit(0))
    probe_stats = fp.agg(F.count(F.lit(1)).alias("n_probes"),
                         F.sum(all_hit).alias("n_false_pos"))
    m_bits = 16 ** BLOOM_HEXCHARS
    stats = (bench.agg(F.count(F.lit(1)).alias("n_inserted"))
             .crossJoin(bits.agg(F.count(F.lit(1)).alias("bits_set")))
             .crossJoin(probe_stats))
    return stats.select(
        F.lit(m_bits).cast("long").alias("m_bits"),
        F.lit(BLOOM_K).cast("long").alias("k_hashes"),
        F.col("n_inserted").cast("long").alias("n_inserted"),
        F.col("bits_set").cast("long").alias("bits_set"),
        F.expr(f"1000 * bits_set div {m_bits}").cast("long")
        .alias("fill_permille"),
        F.col("n_probes").cast("long").alias("n_probes"),
        F.col("n_false_pos").cast("long").alias("n_false_pos"),
        F.expr("CASE WHEN n_probes = 0 THEN NULL "
               "ELSE 1000000 * n_false_pos div n_probes END")
        .cast("long").alias("fpr_ppm"))


QUERIES["sketch_bloom_fpr"] = sketch_bloom_fpr


def _bloom_fpr_oracle() -> str:
    pos = _bloom_pos_exprs("sh", "substr")
    bits_union = " UNION ALL ".join(
        f"SELECT DISTINCT {p} AS bit FROM bench_sh" for p in pos)
    probe_union = " UNION ALL ".join(
        f"SELECT sh, {p} AS bit FROM probes" for p in pos)
    m_bits = 16 ** BLOOM_HEXCHARS
    return f"""
WITH docs AS (SELECT source, string_split(text, ' ') AS ws
              FROM documents),
sh AS (SELECT source,
              unnest(list_distinct(list_transform(range(1, len(ws) - 1),
                i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))) AS sh
       FROM docs),
bench_sh AS (SELECT DISTINCT sh FROM sh WHERE source = 'src0'),
bits AS (SELECT DISTINCT bit FROM ({bits_union})),
probes AS (
  SELECT DISTINCT sh FROM sh WHERE source != 'src0'
  EXCEPT SELECT sh FROM bench_sh),
fp AS (
  SELECT p.sh FROM ({probe_union}) p
  JOIN bits b ON b.bit = p.bit
  GROUP BY p.sh HAVING COUNT(*) = {BLOOM_K})
SELECT CAST({m_bits} AS BIGINT) AS m_bits,
       CAST({BLOOM_K} AS BIGINT) AS k_hashes,
       CAST((SELECT COUNT(*) FROM bench_sh) AS BIGINT) AS n_inserted,
       CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS bits_set,
       CAST(1000 * (SELECT COUNT(*) FROM bits) // {m_bits} AS BIGINT)
         AS fill_permille,
       CAST((SELECT COUNT(*) FROM probes) AS BIGINT) AS n_probes,
       CAST((SELECT COUNT(*) FROM fp) AS BIGINT) AS n_false_pos,
       CAST(CASE WHEN (SELECT COUNT(*) FROM probes) = 0 THEN NULL
            ELSE 1000000 * (SELECT COUNT(*) FROM fp)
                 // (SELECT COUNT(*) FROM probes) END AS BIGINT)
         AS fpr_ppm
"""


ORACLES["sketch_bloom_fpr"] = _bloom_fpr_oracle()
