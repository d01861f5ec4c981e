"""The query-run record (``otel_arrow_collector_spark.query_run``): its
counts agree with a hand count through Spark's status tracker, its
one-write JSON read of a group equals a field-by-field read, memoized
substrates show as zero builder jobs, the caller's job group survives a
run, and ``bench.py`` still prints its old keys through it."""

from __future__ import annotations

import json

import pytest
from py4j.protocol import Py4JError
from pyspark.sql import functions as F

from otel_arrow_collector_spark import query_run
from otel_arrow_collector_spark.operators import (cache_registry,
                                                  collect_registry)
from tests.conftest import SF_SMALL

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


def _one_shuffle(spark, _sf_dir=None):
    return (spark.range(5000).groupBy((F.col("id") % 7).alias("k"))
            .agg(F.count("*").alias("n")))


def test_record_matches_a_hand_count(spark):
    r = query_run.run(spark, "one-shuffle", _one_shuffle, SF_SMALL)
    sc = spark.sparkContext
    tag = "query-run-hand-count"
    sc.setJobGroup(tag, tag)
    try:
        _one_shuffle(spark).collect()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jt = sc._jsc.sc().statusTracker()
    jobs = list(jt.getJobIdsForGroup(tag))
    # a skipped stage is listed by its job but never submitted
    ran = {sid for j in jobs for sid in jt.getJobInfo(j).get().stageIds()
           if jt.getStageInfo(sid).get().submissionTime() > 0}
    tasks = sum(jt.getStageInfo(s).get().numCompletedTasks() for s in ran)
    assert (r.jobs, r.stages, r.tasks) == (len(jobs), len(ran), tasks)
    assert (r.builder_jobs, r.jobs, r.stages, r.rows) == (0, 2, 2, 7)
    assert r.tasks == sum(s.tasks for s in r.stage_table)
    assert r.shuffle_read_bytes == r.shuffle_write_bytes > 0
    assert r.wall_s == r.builder_s + r.plan_s + r.exec_s > 0


def _read_group_per_field(jsc, tag: str) -> query_run.Group:
    """The group read one py4j call per job and stage field: the
    reference the JSON read must equal."""
    store = jsc.statusStore()
    jobs = sorted(jsc.statusTracker().getJobIdsForGroup(tag))
    stages, seen = [], set()
    for jid in jobs:
        job = store.job(jid)
        for sid in sorted(int(s) for s in
                          job.stageIds().mkString(",").split(",") if s):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JError:
                continue                    # skipped and trimmed
            if sd.status().toString() == "SKIPPED":
                continue
            sub, end = sd.submissionTime(), sd.completionTime()
            stages.append(query_run.Stage(
                jid, sid, (end.get().getTime() - sub.get().getTime()) / 1e3,
                sd.numTasks(), sd.executorRunTime() / 1e3,
                sd.shuffleReadBytes(), sd.shuffleWriteBytes(), sd.name()))
    return query_run.Group(len(jobs), tuple(stages))


def test_json_group_read_equals_a_field_by_field_read(spark):
    """Two collects of one shuffled DataFrame in one group: 3 jobs (the
    map job, then one result job per collect), and each result job
    lists the map stage again as a skipped stage, which is not
    counted."""
    df = _one_shuffle(spark)
    with query_run.job_group(spark, "query-run-json-read") as tag:
        df.collect()
        df.collect()
    got = query_run.read_group(spark, tag)
    want = _read_group_per_field(spark.sparkContext._jsc.sc(), tag)
    assert got == want
    assert got.jobs == 3
    assert [s.tasks for s in got.stages] == [4, 1, 1]


def test_memoized_query_builds_nothing_on_its_second_run(spark):
    name = "dedup_minhash_lsh"
    fn = collect_registry()[0][name]
    cache_registry.clear_caches()
    cold = query_run.run(spark, name, fn, SF_SMALL)
    warm = query_run.run(spark, name, fn, SF_SMALL)
    assert cold.builder_jobs > 0 and warm.builder_jobs == 0
    assert warm.jobs > 0 and warm.rows == cold.rows


def test_caller_job_group_is_restored(spark):
    sc = spark.sparkContext

    def props():
        return tuple(sc.getLocalProperty(k) for k in _GROUP_PROPS)

    def broken_builder(spark, _sf_dir):
        raise RuntimeError("builder failed")

    def failing_query(spark, _sf_dir):
        return spark.range(1).select(F.raise_error(F.lit("query failed")))

    query_run.run(spark, "no-caller-group", _one_shuffle, SF_SMALL)
    assert props() == (None, None, None)
    sc.setJobGroup("caller", "the caller's jobs")
    try:
        want = props()
        query_run.run(spark, "one-shuffle", _one_shuffle, SF_SMALL)
        assert props() == want
        with pytest.raises(RuntimeError, match="builder failed"):
            query_run.run(spark, "broken", broken_builder, SF_SMALL)
        assert props() == want
        with pytest.raises(Exception, match="query failed"):
            query_run.run(spark, "failing", failing_query, SF_SMALL)
        assert props() == want
    finally:
        sc._jsc.clearJobGroup()


#: the keys of bench.py's JSON line before it measured through query_run
BENCH_KEYS = {"metric", "value", "unit", "head", "queries", "sf",
              "runs_per_query", "timing", "n_queries", "total_sec",
              "slowest10", "pb_decode_spans_per_sec_1thread",
              "pb_decode_spans_per_sec_1thread_median",
              "arrow_ingest_spans_per_sec_1thread_median"}


def test_bench_line_keeps_its_keys(spark, monkeypatch, capsys):
    import bench
    registry = {"a_one_shuffle": _one_shuffle,
                "b_range": lambda spark, _sf_dir: spark.range(3)}
    monkeypatch.setattr(query_run, "open_sweep",
                        lambda app: (spark, registry, SF_SMALL))
    bench.main()
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert BENCH_KEYS <= set(line)
    assert set(line) - BENCH_KEYS == {"total_sec_cold", "jobs_warm",
                                      "stages_warm"}
    assert set(line["queries"]) == set(registry) and line["sf"] == 0.001
    assert line["value"] == line["total_sec"] == line["head"]["total_sec"]
    assert line["total_sec"] == pytest.approx(
        sum(line["queries"].values()), abs=0.002)
    assert line["total_sec_cold"] > 0
    # one-shuffle: 2 jobs and 2 stages; range(3).collect(): 1 and 1
    assert (line["jobs_warm"], line["stages_warm"]) == (3, 3)
