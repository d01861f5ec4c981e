"""The one registry of everything memoized per (application, sf_dir):
persisted DataFrames, trained models, file stores and query plans.

The dedup/similarity operators memoize intermediate results (substrates)
that several downstream operators reuse (LSH candidate pairs, shingle
sets, k-means centroids, the IVF cell store), and ``collect_registry``
memoizes each query's built plan.  All of them live in ONE LRU dict
under ONE lock, keyed ``(kind, app, abspath(sf_dir), *extra)``; a query
plan is an entry of kind :data:`_PLAN` with the query name as ``extra``.

Invariant: nothing memoized outlives what it reads.

- A *group* is every entry of one (application, dir).  When an entry
  that holds Spark storage or files (a DataFrame, a file store) is
  released — LRU eviction or :func:`clear_caches` — every entry of its
  group goes with it, plans included: a plan or a substrate built over a
  released checkpoint would otherwise fail with
  CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on its next action.
- LRU eviction keeps substrates at most :data:`MAX_ENTRIES` and plans at
  most :data:`MAX_PLANS`, and never releases the group of the entry
  being inserted.  Releasing a DataFrame unpersists it and frees its
  checkpoint blocks.
- A file store's build writes into its own fresh :class:`_StoreDir`
  and the entry holds that directory; releasing the entry deletes it.
- :func:`clear_caches` releases everything; it is the one lifecycle call
  (``plans.collector.Collector.shutdown`` — the Shutdown half of the
  component lifecycle, otelcol/collector.go shutdown sequence).

Plans are memoized through :func:`_plan`, not :func:`cached`, so
``cached``'s hits and builds count substrates only.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
from collections import OrderedDict

#: bound on live substrates (the full bench touches ~45 distinct keys
#: per sf_dir — relations AND model scalars — and a session iterating
#: two dirs doubles that; evicting mid-sweep forces rebuilds of
#: still-hot stores, r15's zero-jobs pin caught exactly that at 48).
MAX_ENTRIES = 128
#: bound on live query plans (271 queries per dir).
MAX_PLANS = 1024

#: same knob as the CC loop (operators/dedup.py): a checkpoint dir makes
#: every plan-truncating materialization a RELIABLE .checkpoint().
CHECKPOINT_DIR_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"

#: kind of query-plan entries
_PLAN = "plan"


def plan_checkpoint(df):
    """Materialize ``df`` with TRUNCATED lineage (constant-size plan).

    Why not persist()+count(): a cache marker keeps the full logical
    plan underneath it, and Catalyst re-analyzes/re-optimizes that whole
    tree on EVERY downstream action before the InMemoryRelation
    substitution applies.  Measured on the two-epoch dedup chain
    (guide-§1 probe, r15): the memoized relation's plan printed 110k
    lines and each dependent collect() paid ~4.2 s of single-threaded
    driver planning vs 0.1 s against a truncated copy.  Checkpointing
    rewrites the plan to a scan of the materialized partitions, so
    dependents pay plan cost proportional to THEIR OWN operators only.

    Reliable ``.checkpoint(eager=True)`` when $SPARK_GRAFT_CHECKPOINT_DIR
    is set (or the context already has a checkpoint dir) — the 100 TB
    executor-loss stance shared with the CC loop; else
    ``localCheckpoint(eager=True)`` (single-box default, block-manager
    storage)."""
    if _reliable(df):
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _reliable(df) -> bool:
    """Whether checkpoints of ``df`` are reliable: a checkpoint dir is
    set on the context, or $SPARK_GRAFT_CHECKPOINT_DIR names one (then
    set here)."""
    sc = df.sparkSession.sparkContext
    want = os.environ.get(CHECKPOINT_DIR_ENV)
    if want and sc.getCheckpointDir() is None:
        sc.setCheckpointDir(want)
    return sc.getCheckpointDir() is not None


def _free_checkpoint(df) -> None:
    """Eagerly release the storage blocks behind a checkpointed
    DataFrame: the RDD wrapped by its plan's LogicalRDD node.
    ``localCheckpoint`` stores its partitions through the block manager
    and only the ContextCleaner's GC hook ever drops them, so memos and
    iterative loops would pile up materialized relations.  A freed
    local checkpoint cannot be recomputed: the DataFrame must never be
    evaluated again unless a persisted copy on top of it survives.
    Best-effort: a plan that is not a LogicalRDD, an internal-API shape
    change or a stopped session degrades to the ContextCleaner behavior,
    never to a failure."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def materialized(df):
    """``plan_checkpoint`` for memoized relations, re-persisted on top.

    The checkpoint truncates the plan; the persist()+count() ON TOP of
    the truncated scan restores accurate size statistics (a bare
    LogicalRDD reports defaultSizeInBytes = huge, which silently
    downgraded every join against a memoized relation — cross joins to
    CartesianProduct, equi-joins to sort-merge — caught by the plan
    pins).  Net plan: InMemoryTableScan -> InMemoryRelation -> Scan
    ExistingRDD, constant-sized, with real cache stats.

    One pass: the local checkpoint is taken lazily and persisted, and
    one ``toRdd().count()`` job fills the checkpoint blocks and the
    columnar cache together (an eager checkpoint job followed by a
    ``count()`` that rescans it costs three more jobs on a one-shuffle
    aggregate).  A reliable checkpoint is still written eagerly first.

    Storage discipline: once the columnar cache on top is built, the
    checkpoint RDD's own blocks are released — otherwise every memo
    holds the data TWICE (localCheckpoint row blocks + InMemoryRelation
    buffers) and eviction leaked the checkpoint copy forever
    (test_cache_registry_bounded_eviction counts the persistent-RDD
    census).  The MEMORY_AND_DISK cache copy spills rather than drops,
    so the truncated lineage is never recomputed short of process death
    (local mode) — and under $SPARK_GRAFT_CHECKPOINT_DIR a recompute
    reads the reliable checkpoint files anyway.  The input's own cache
    marker (if any) is released too."""
    if _reliable(df):
        ck = plan_checkpoint(df).persist()
        ck.count()
    else:
        ck = df.localCheckpoint(eager=False).persist()
        ck._jdf.queryExecution().toRdd().count()
    _free_checkpoint(ck)
    try:
        df.unpersist(False)
    except Exception:
        pass
    return ck


class _StoreDir(str):
    """A fresh directory for one file-store build (``tag`` names it).
    The entry holding it owns it: releasing the entry deletes it."""

    def __new__(cls, tag: str):
        return super().__new__(
            cls, tempfile.mkdtemp(prefix=f"spark_graft_{tag}_"))


_LOCK = threading.RLock()
_ENTRIES: OrderedDict = OrderedDict()


def _release(key, val) -> bool:
    """Free what entry ``key`` holds; True when that was Spark storage or
    files.  A plan entry is only dropped: its DataFrame may wrap a
    substrate's own, and unpersisting it would uncache that substrate."""
    if key[0] == _PLAN:
        return False
    if isinstance(val, (tuple, list)):  # multi-part artifacts: free
        return any([_release(key, v) for v in val])  # every part
    if isinstance(val, _StoreDir):
        shutil.rmtree(val, ignore_errors=True)
        return True
    unpersist = getattr(val, "unpersist", None)
    if not callable(unpersist):
        return False
    try:
        unpersist(False)                # async release; no blocking eviction
    except Exception:
        pass                            # session already stopped
    _free_checkpoint(val)
    return True


def _drop(key) -> list:
    """Remove ``key`` (lock held); when it held storage or files, the
    rest of its group goes too.  Returns the removed keys."""
    group = [key]
    if _release(key, _ENTRIES.pop(key)):
        group += [k for k in _ENTRIES if k[1:3] == key[1:3]]
        for k in group[1:]:
            _release(k, _ENTRIES.pop(k))
    return group


def _evict(inserted) -> None:
    """LRU-evict entries of ``inserted``'s class (plan or substrate) past
    that class's cap, never from ``inserted``'s own group."""
    plan = inserted[0] == _PLAN

    def same(k) -> bool:
        return (k[0] == _PLAN) == plan
    over = sum(map(same, _ENTRIES)) - (MAX_PLANS if plan else MAX_ENTRIES)
    for key in list(_ENTRIES):          # least recently used first
        if over <= 0:
            break
        if key in _ENTRIES and same(key) and key[1:3] != inserted[1:3]:
            over -= sum(map(same, _drop(key)))


def _memo(key, build):
    """The entry for ``key``, built with ``build()`` on miss."""
    with _LOCK:
        if key in _ENTRIES:
            _ENTRIES.move_to_end(key)
            return _ENTRIES[key]
    val = build()                       # build outside the lock (slow path)
    with _LOCK:
        if key in _ENTRIES:             # racing builder won; keep theirs
            _release(key, val)
            return _ENTRIES[key]
        _ENTRIES[key] = val
        _evict(key)
    return val


def _key(kind: str, spark, sf_dir: str, extra: tuple) -> tuple:
    return (kind, spark.sparkContext.applicationId,
            os.path.abspath(sf_dir), *extra)


def cached(kind: str, spark, sf_dir: str, build, extra: tuple = ()):
    """Return the memoized substrate for (kind, app, dir, *extra),
    building it with ``build()`` on miss.  LRU touch on hit; past
    MAX_ENTRIES the least recently used substrate's group is released."""
    return _memo(_key(kind, spark, sf_dir, extra), build)


def _plan(name: str, spark, sf_dir: str, build):
    """The memoized plan of query ``name`` over ``sf_dir`` (a plan entry
    of the dir's group), built with ``build()`` on miss."""
    return _memo(_key(_PLAN, spark, sf_dir, (name,)), build)


def _clear_plans() -> None:
    """Drop every plan entry; substrates stay."""
    with _LOCK:
        for k in [k for k in _ENTRIES if k[0] == _PLAN]:
            del _ENTRIES[k]


def clear_caches() -> None:
    """Release every memoized entry: substrates, file stores and plans."""
    with _LOCK:
        while _ENTRIES:
            _release(*_ENTRIES.popitem())


def cache_len() -> int:
    with _LOCK:
        return len(_ENTRIES)
