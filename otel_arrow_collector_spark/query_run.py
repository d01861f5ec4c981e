"""One measured query run.

:func:`run` calls one registry builder in job groups of its own and
returns a :class:`Run` record:

- wall time, split into builder (``fn(spark, sf_dir)``), Catalyst
  planning (``executedPlan()``) and execution (``collect()``);
- the jobs launched while building (substrate builds) and in total;
- the stages that ran, their tasks, executor run time and shuffle
  read/write bytes, per stage and in total;
- the result row count.

Every query sweep (``bench.py``, ``tools/query_profile.py``,
``tools/stress.py``) and every test that counts jobs measures through
this module.  It is the only code that sets job groups or reads Spark's
status store (``tests/test_no_job_group_calls.py``).
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JError

#: the local properties ``setJobGroup`` sets; a group restores all three
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")
_RUN_IDS = itertools.count()
#: seconds :func:`read_group` waits for the status store to show every
#: job and stage of a group
POLL_S = 10.0


@dataclass(frozen=True)
class Stage:
    """One stage that ran (skipped stages are left out)."""
    job: int
    stage: int
    sec: float
    tasks: int
    executor_run_s: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    name: str


@dataclass(frozen=True)
class Group:
    """The jobs a job group launched and the stages they ran."""
    jobs: int
    stages: tuple[Stage, ...]


@dataclass(frozen=True)
class Run:
    """One registry call, built, planned and collected."""
    query: str
    rows: int
    builder_s: float
    plan_s: float
    exec_s: float
    builder_jobs: int
    jobs: int
    stages: int
    tasks: int
    executor_run_s: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    stage_table: tuple[Stage, ...]

    @property
    def wall_s(self) -> float:
        return self.builder_s + self.plan_s + self.exec_s


def open_sweep(app: str, sf_dir: str | None = None):
    """The session, registry and data directory of a query sweep:
    ``sf_dir`` defaults to ``$SPARK_GRAFT_SF_DIR`` (sf0.1), and the JVM,
    codegen and parquet footer caches are warmed by one run of the first
    registry query, outside any measured run."""
    from .operators import collect_registry
    from .session import get_spark
    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR",
                                      "/root/testdata/sf0.1")
    # -Xlog:disable: under memory pressure the JVM's unified logging
    # writes [warning][gc,alloc] lines to STDOUT (not stderr), and a
    # sweep's stdout is its JSON record — a GC-warning burst
    # interleaving with the final print corrupts the record.
    spark = get_spark(app, extra_conf={
        "spark.driver.extraJavaOptions": "-Xlog:disable"})
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = collect_registry()
    spark.range(1).count()
    next(iter(queries.values()))(spark, sf_dir).collect()
    return spark, queries, sf_dir


@contextmanager
def job_group(spark, tag: str, desc: str = ""):
    """Run the body's Spark jobs in job group ``tag``.  The caller's
    group and description are restored on exit, also when the body
    raises."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    sc.setJobGroup(tag, desc)
    try:
        yield tag
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)       # None removes the property


def read_group(spark, tag: str) -> Group:
    """The jobs of job group ``tag`` and the stages they ran, from
    Spark's status store.

    The store is fed by the asynchronous listener bus, so the bus is
    drained first.  Under heavy load an entry can still be missing right
    after the drain, so the read is retried for up to :data:`POLL_S`;
    after that, what is visible is returned.  A skipped stage never ran,
    so it is not counted."""
    jsc = spark.sparkContext._jsc.sc()
    deadline = time.monotonic() + POLL_S
    while True:
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Py4JError:
            pass
        group, complete = _read_group(spark._jvm, jsc, tag)
        if complete or time.monotonic() > deadline:
            return group
        time.sleep(0.2)


@functools.lru_cache(maxsize=1)
def _json_writer(jvm):
    """(write, classes): ``write(java_iterable)`` is the iterable as one
    JSON array, written in the JVM by a Jackson mapper that knows Scala
    case classes (dates as epoch milliseconds); ``classes`` are the
    status store's job and stage record types."""
    scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                    "DefaultScalaModule$")
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper() \
        .registerModule(getattr(scala, "MODULE$"))
    as_scala = jvm.scala.jdk.javaapi.CollectionConverters.asScala

    def write(it) -> str:
        return mapper.writeValueAsString(as_scala(it))
    classes = {name: jvm.java.lang.Class.forName(
        f"org.apache.spark.status.{name}")
        for name in ("JobDataWrapper", "StageDataWrapper")}
    return write, classes


def _records(jvm, jsc, wrapper: str, index: str | None, lo: int,
             hi: int) -> list[dict]:
    """The records of one status-store type whose ``index`` (the natural
    key when None) lies in [lo, hi], read as JSON in one JVM-side write
    instead of a py4j round trip per field."""
    write, classes = _json_writer(jvm)
    view = jsc.statusStore().store().view(classes[wrapper])
    if index is not None:
        view = view.index(index)
    return [w["info"] for w in json.loads(write(view.first(lo).last(hi)))]


def _read_group(jvm, jsc, tag: str) -> tuple[Group, bool]:
    """One read of the group's jobs and stages: the job ids, then the
    job records and the stage records each in one JVM-side JSON write."""
    jobs = sorted(jsc.statusTracker().getJobIdsForGroup(tag))
    if not jobs:
        return Group(0, ()), True
    job_info = {j["jobId"]: j for j in
                _records(jvm, jsc, "JobDataWrapper", None, jobs[0], jobs[-1])}
    sids = sorted({sid for jid in jobs if jid in job_info
                   for sid in job_info[jid]["stageIds"]})
    attempts: dict[int, dict] = {}      # stage id -> its last attempt
    for sd in (_records(jvm, jsc, "StageDataWrapper", "stageId",
                        sids[0], sids[-1]) if sids else ()):
        last = attempts.get(sd["stageId"])
        if last is None or sd["attemptId"] > last["attemptId"]:
            attempts[sd["stageId"]] = sd
    stages: list[Stage] = []
    seen: set[int] = set()
    complete = True
    for jid in jobs:
        job = job_info.get(jid)
        if job is None:
            complete = False
            continue
        running = job["status"] == "RUNNING"
        complete &= not running
        for sid in sorted(job["stageIds"]):
            if sid in seen:
                continue
            sd = attempts.get(sid)
            if sd is None:
                if running:
                    complete = False
                else:
                    # the job has ended, so the stage was skipped: when
                    # Spark trims the store past spark.ui.retainedStages
                    # it drops skipped stages first
                    seen.add(sid)
                continue
            if sd["status"] in ("PENDING", "ACTIVE"):
                complete = False
                continue
            seen.add(sid)
            if sd["status"] == "SKIPPED":
                continue
            sub, end = sd["submissionTime"], sd["completionTime"]
            sec = (end - sub) / 1e3 if sub is not None and end is not None \
                else 0.0
            stages.append(Stage(
                jid, sid, sec, sd["numTasks"], sd["executorRunTime"] / 1e3,
                sd["shuffleReadBytes"], sd["shuffleWriteBytes"], sd["name"]))
    return Group(len(jobs), tuple(stages)), complete


def run(spark, name: str, fn, sf_dir: str, planned=None) -> Run:
    """Build, plan and collect ``fn(spark, sf_dir)`` once and measure it.

    The builder runs in one job group and planning plus execution in
    another, so jobs launched while building are told apart.
    ``planned(df)``, if given, is called between planning and execution,
    outside the timed phases (a plan dump reads the initial plan there;
    ``df`` afterwards holds the executed one)."""
    n = next(_RUN_IDS)
    build_tag, run_tag = f"query_run-{n}-build", f"query_run-{n}"
    with job_group(spark, build_tag, name):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        builder_s = time.perf_counter() - t0
    with job_group(spark, run_tag, name):
        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        plan_s = time.perf_counter() - t0
        if planned is not None:
            planned(df)
        t0 = time.perf_counter()
        rows = len(df.collect())
        exec_s = time.perf_counter() - t0
    built, ran = read_group(spark, build_tag), read_group(spark, run_tag)
    table = built.stages + ran.stages
    return Run(
        query=name, rows=rows,
        builder_s=builder_s, plan_s=plan_s, exec_s=exec_s,
        builder_jobs=built.jobs, jobs=built.jobs + ran.jobs,
        stages=len(table), tasks=sum(s.tasks for s in table),
        executor_run_s=sum(s.executor_run_s for s in table),
        shuffle_read_bytes=sum(s.shuffle_read_bytes for s in table),
        shuffle_write_bytes=sum(s.shuffle_write_bytes for s in table),
        stage_table=table)
