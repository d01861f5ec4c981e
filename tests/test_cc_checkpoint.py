"""Verdict r14 ask #2: the CC loop's 100 TB reliability stance is CODE —
$SPARK_GRAFT_CHECKPOINT_DIR (or an sc-level checkpoint dir) switches the
per-round lineage truncation from ``localCheckpoint(eager=True)`` to
RELIABLE ``.checkpoint(eager=True)``, which survives executor loss.
Both modes must produce identical labels; local mode must stay the
default (no checkpoint FS traffic when the knob is unset)."""

from __future__ import annotations

import pytest

from otel_arrow_collector_spark.operators import cache_registry, dedup


def _labels(df):
    return {(r.node, r.cluster_id) for r in df.collect()}


def _restore_no_checkpoint_dir(spark):
    """Reset the Scala SparkContext's checkpointDir to None (pyspark
    only exposes the setter with a concrete path)."""
    jsc = spark.sparkContext._jsc.sc()
    getattr(jsc, "checkpointDir_$eq")(
        spark._jvm.scala.Option.empty())


@pytest.mark.slow
def test_cc_reliable_checkpoint_mode_identical_labels(
        spark, tmp_path, monkeypatch):
    # a path graph forces several pointer-jumping rounds; plus one
    # disjoint component so the labelling is non-trivial
    n = 24
    rows = [(i, i + 1) for i in range(n)] + [(100, 101), (101, 102)]
    e = spark.createDataFrame(rows, "d1 long, d2 long")

    base = _labels(dedup.connected_components(e, force_distributed=True))
    assert {c for _, c in base} == {0, 100}

    ckpt = tmp_path / "reliable_ckpt"
    monkeypatch.setenv(cache_registry.CHECKPOINT_DIR_ENV, str(ckpt))
    try:
        rel = _labels(dedup.connected_components(e, force_distributed=True))
        # identical labels AND the loop really went through the
        # reliable path: checkpoint files were written under the knob dir
        assert rel == base
        assert any(p.is_file() for p in ckpt.rglob("*"))
    finally:
        _restore_no_checkpoint_dir(spark)

    # knob unset + dir restored -> local mode again, no new FS traffic
    monkeypatch.delenv(cache_registry.CHECKPOINT_DIR_ENV)
    before = sum(1 for p in ckpt.rglob("*") if p.is_file())
    again = _labels(dedup.connected_components(e, force_distributed=True))
    assert again == base
    assert sum(1 for p in ckpt.rglob("*") if p.is_file()) == before


@pytest.mark.slow
def test_cc_honors_preexisting_sc_checkpoint_dir(spark, tmp_path):
    """An explicit sc.setCheckpointDir (no env var) is honored the same
    way — the reliable path is not tied to the env spelling."""
    ckpt = tmp_path / "sc_ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    try:
        e = spark.createDataFrame(
            [(i, i + 1) for i in range(12)], "d1 long, d2 long")
        got = _labels(dedup.connected_components(e, force_distributed=True))
        assert {c for _, c in got} == {0}
        assert any(p.is_file() for p in ckpt.rglob("*"))
    finally:
        _restore_no_checkpoint_dir(spark)


def test_loop_checkpoint_local_default(spark):
    """With no knob and no sc dir, the CC loop's plan_checkpoint stays
    a localCheckpoint (the single-box default — zero FS dependency)."""
    assert spark.sparkContext.getCheckpointDir() is None
    df = cache_registry.plan_checkpoint(spark.range(5))
    assert df.count() == 5
    assert spark.sparkContext.getCheckpointDir() is None
