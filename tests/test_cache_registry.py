"""Bounded cache registry: LRU eviction unpersists DataFrames (no
unbounded executor-storage growth across sf_dirs) and Collector.shutdown
clears everything.  Releasing an entry that holds storage or files
releases its whole (application, dir) group, memoized plans included,
and deletes its file store."""

from __future__ import annotations

import os
import shutil

from tests.conftest import SF_GATE, SF_SMALL


def test_cache_registry_bounded_eviction(spark, tmp_path, monkeypatch):
    """Loop 3 dirs with MAX_ENTRIES=1: evicted entries are unpersisted
    and the persistent-RDD census does not grow past the bound."""
    from otel_arrow_collector_spark.operators import (cache_registry,
                                                      similarity)
    monkeypatch.setattr(cache_registry, "MAX_ENTRIES", 1)
    cache_registry.clear_caches()
    n0 = spark.sparkContext._jsc.getPersistentRDDs().size()
    dirs = []
    for i in range(3):
        d = tmp_path / f"sf{i}"
        d.mkdir()
        shutil.copy(f"{SF_SMALL}/embeddings.parquet",
                    d / "embeddings.parquet")
        dirs.append(str(d))
    dfs = [similarity.bucketed_embeddings(spark, d) for d in dirs]
    dfs[-1].count()
    assert cache_registry.cache_len() == 1
    # the two evicted DataFrames are unpersisted, the live one is not
    assert not dfs[0].storageLevel.useMemory
    assert not dfs[1].storageLevel.useMemory
    assert dfs[2].storageLevel.useMemory
    n1 = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert n1 <= n0 + 1, f"persistent RDDs grew {n0} -> {n1}"


def test_collector_shutdown_clears_caches(spark, tmp_path):
    """Collector.shutdown releases every memoized persisted DataFrame
    (the Shutdown half of the component lifecycle)."""
    from otel_arrow_collector_spark.operators import (cache_registry,
                                                      similarity)
    from otel_arrow_collector_spark.plans.collector import Collector
    df = similarity.bucketed_embeddings(spark, SF_SMALL)
    assert cache_registry.cache_len() >= 1
    c = Collector.__new__(Collector)     # lifecycle-only: no config needed
    c.plan = None
    c.shutdown()
    assert cache_registry.cache_len() == 0
    assert not df.storageLevel.useMemory


def _group_dirs():
    from otel_arrow_collector_spark.operators import cache_registry
    return {k[2] for k in cache_registry._ENTRIES}


def test_registry_call_after_clear_caches_rebuilds(spark):
    """A memoized plan never outlives the substrates it reads: after
    clear_caches() the next registry call rebuilds them instead of
    reading a released checkpoint (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    from otel_arrow_collector_spark.operators import (cache_registry,
                                                      collect_registry)
    q = collect_registry()[0]["graph_triangle_count"]
    first = q(spark, SF_SMALL).collect()
    cache_registry.clear_caches()
    assert q(spark, SF_SMALL).collect() == first


def test_eviction_releases_the_whole_group(spark, tmp_path, monkeypatch):
    """Past MAX_ENTRIES, building a second dir's substrates releases the
    first dir's group — its substrates AND its memoized plan — so the
    first dir's next registry call rebuilds and returns the same rows."""
    from otel_arrow_collector_spark.operators import (cache_registry,
                                                      collect_registry)
    monkeypatch.setattr(cache_registry, "MAX_ENTRIES", 2)
    cache_registry.clear_caches()
    q = collect_registry()[0]["graph_triangle_count"]
    dirs = []
    for name in ("a", "b"):
        d = tmp_path / name
        d.mkdir()
        shutil.copy(f"{SF_SMALL}/lineitem.parquet", d / "lineitem.parquet")
        dirs.append(str(d))
    first = q(spark, dirs[0]).collect()
    assert _group_dirs() == {os.path.abspath(dirs[0])}
    q(spark, dirs[1]).collect()
    assert _group_dirs() == {os.path.abspath(dirs[1])}
    assert q(spark, dirs[0]).collect() == first


def test_file_stores_are_per_dir_and_deleted_on_release(spark, tmp_path):
    """Two dirs with the same basename get separate IVF stores, each
    matching a run on its source dir; clear_caches() deletes both."""
    from otel_arrow_collector_spark.operators import (cache_registry,
                                                      collect_registry)
    q = collect_registry()[0]["ann_ivf_probe"]
    src = {str(tmp_path / "a" / "sf"): SF_SMALL,
           str(tmp_path / "b" / "sf"): SF_GATE}
    for d, s in src.items():
        os.makedirs(d)
        shutil.copy(f"{s}/embeddings.parquet", d)
    want = {d: q(spark, s).collect() for d, s in src.items()}
    assert len({tuple(rows) for rows in want.values()}) == 2
    for _ in range(2):          # pass 2 rereads a's store after b's build
        assert {d: q(spark, d).collect() for d in src} == want
    app = spark.sparkContext.applicationId
    stores = [cache_registry._ENTRIES[
        ("sim.cell_store", app, os.path.abspath(d))][1] for d in src]
    assert len(set(stores)) == 2 and all(map(os.path.isdir, stores))
    cache_registry.clear_caches()
    assert not any(map(os.path.exists, stores))


def test_materialized_is_one_pass(spark):
    """``materialized`` over a one-shuffle aggregate runs two jobs: the
    shuffle's map stage and one job that fills the local checkpoint and
    the columnar cache together.  The result is a cached scan of the
    checkpoint, with the cache's real size statistics."""
    from pyspark.sql import functions as F

    from otel_arrow_collector_spark import plan_tree, query_run
    from otel_arrow_collector_spark.operators import cache_registry
    assert spark.sparkContext.getCheckpointDir() is None
    df = (spark.range(5000).groupBy((F.col("id") % 7).alias("k"))
          .agg(F.count("*").alias("n")))
    tag = "materialized-one-pass-pin"
    with query_run.job_group(spark, tag):
        m = cache_registry.materialized(df)
    try:
        assert query_run.read_group(spark, tag).jobs == 2
        assert m.storageLevel.useMemory
        rdd = m._jdf.queryExecution().analyzed().rdd()
        assert rdd.isCheckpointed()
        stats = m._jdf.queryExecution().optimizedPlan().stats()
        assert int(stats.sizeInBytes()) < 1 << 20     # not a bare RDD scan
        assert plan_tree.read(m).find("InMemoryTableScan")
        assert sorted(tuple(r) for r in m.collect()) \
            == [(k, 5000 // 7 + (k < 5000 % 7)) for k in range(7)]
    finally:
        m.unpersist(False)
