"""Operator surface of the engine.

- ``relational``  — SURVEY.md §2.8 declared queries (the executable spec of
  the reference's operator inventory), DataFrame-first.
- ``dedup``       — exact / MinHash-LSH / SimHash / n-gram-Jaccard /
  fingerprint deduplication over ``documents``.
- ``similarity``  — embedding ANN: brute-force cosine top-k, LSH buckets, IVF.
- ``text``        — language-ID, quality scoring, token counting.
- ``sampling``    — deterministic stratified sampling + train/val/test splits.
- ``curation``    — sequence packing, contamination screen, shuffle layout.
- ``multimodal``  — binary-column decode/feature plumbing (mapInPandas).
- ``sketches``    — Misra-Gries heavy hitters, HyperLogLog, count-min
  (point + join-size estimation), sampled rank-exact quantiles.
- ``graph``       — oriented-wedge triangle counting, integer
  fixed-point PageRank.
- ``batching``    — batch processor semantics (size/time/split) in batch mode.

Codec modules consumed by ``multimodal``: ``jpeg`` ``gif`` ``qoi``
``netpbm`` ``tiff`` ``g711`` ``adpcm`` (plus ``sources/warc.py`` and
``sources/archive.py`` for the corpus containers).

Each module exposes ``QUERIES`` (name -> callable(spark, sf_dir) ->
DataFrame) and ``ORACLES`` (name -> DuckDB SQL) consumed by
``__spark_entry__``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import cache_registry

#: Queries whose BUILDER runs Spark jobs / driver-side model fits at
#: construction time even when every session memo is hot (verified by
#: tests/test_plan_memo.py's zero-jobs pin).  Their returned DataFrame can
#: embed data-derived values (collected thresholds, driver-computed rank
#: tables), so memoizing the DataFrame OBJECT would skip recomputation of
#: those values — for everything else the builder is a pure logical-plan
#: constructor and the memo below only skips re-running ~hundreds of py4j
#: plan-construction round-trips per invocation (measured r15: 27.5 s of
#: the 271-query sweep was Python-side plan re-construction; execution is
#: unchanged — every collect() still computes from the parquet inputs).
PLAN_MEMO_EXCLUDED = frozenset({
    # both COMPUTE their result driver-side at construction (collected
    # edge list -> local fixed point / union-find), so their DataFrame
    # IS the result — memoizing it would cache the computation.  Every
    # other builder that used to collect at construction now reads a
    # memoized model scalar from the cache registry (bm25/tfidf corpus
    # stats, bigram vocab, mix normalizer, q76 query energy, the
    # rank-select bucket cuts, the band-truth count), which makes it a
    # pure plan constructor.
    "dedup_semantic_keep", "graph_pagerank",
})


def _plan_memoized(
    name: str, fn: Callable[[SparkSession, str], DataFrame]
) -> Callable[[SparkSession, str], DataFrame]:
    """Memoize the built DataFrame's ANALYZED PLAN (lazy logical plan,
    NOT data) per (query, application, sf_dir) — the ``load_table``
    plan-cache discipline lifted to whole queries.  The plan is an entry
    of ``cache_registry``, released together with the substrates of its
    (application, dir).  Never applied to :data:`PLAN_MEMO_EXCLUDED`
    builders (see above).

    Every call — hit or miss — returns a FRESH ``select("*")`` wrapper
    over the memoized plan, never the memoized DataFrame object itself.
    Re-collecting the SAME DataFrame object would reuse its physical
    plan's shuffle files (Spark skips already-materialized stages), i.e.
    it would silently cache computation across invocations; a fresh
    wrapper gets a fresh QueryExecution with fresh shuffle ids, so every
    action re-executes the whole plan from the parquet inputs
    (pinned by tests/test_plan_memo.py's stage-count test)."""
    if name in PLAN_MEMO_EXCLUDED:
        return fn

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        return cache_registry._plan(
            name, spark, sf_dir, lambda: fn(spark, sf_dir)).select("*")

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    wrapped.__wrapped__ = fn
    return wrapped


def clear_plan_memo() -> None:
    """Drop every memoized plan; substrates stay
    (``cache_registry.clear_caches`` releases both)."""
    cache_registry._clear_plans()


def collect_registry() -> tuple[
    dict[str, Callable[[SparkSession, str], DataFrame]], dict[str, str]
]:
    """Gather every operator module's queries + oracles into one registry."""
    from . import (curation, dedup, graph, multimodal, relational,
                   sampling, similarity, sketches, text)

    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for mod in (relational, dedup, similarity, text, sampling, curation,
                multimodal, sketches, graph):
        queries.update(mod.QUERIES)
        oracles.update(mod.ORACLES)
    queries = {n: _plan_memoized(n, fn) for n, fn in queries.items()}
    return queries, oracles
