"""One conformance harness for the Structured Streaming twins.

A twin is the incremental form of a declared batch query.  Its contract
is prefix consistency (the Structured Streaming paper, SIGMOD 2018): the
output after any prefix of the input equals the batch answer over that
prefix.  A :class:`Twin` spec names the feed, the stream builder (or a
store-backed runner), how the sink's emission log reduces to one answer,
and the reference that answer must equal.  Every spec is checked by the
same properties (``tests/test_stream_twins.py``):

- **split**: under each seeded split of the feed into files (one file
  per trigger) the final answer equals the reference.  Split 0 keeps
  the feed's own order; split 1 shuffles it.  The reference is the
  batch query over all rows for mergeable twins, and a plain-Python
  fold over the same arrival order for order-dependent ones;
- **restart**: split 2 (a seed-3 shuffle in seven files) drained in two
  legs on one checkpoint, three files, a stop, then four, gives split
  2's reference, the answer an uninterrupted run must give;
- **redelivery**: for idempotent twins, the feed with a quarter of its
  rows drawn again and shuffled in, followed by every split-0 file
  again, gives the answer of delivering each row once;
- **check**: a twin's own assertions over the split-0 drain.

Feeds are parquet files written with pyarrow, with increasing mtimes
(the file source's arrival order).  Feeds, references and drains are
memoised per session, so a test that reuses a drain pays nothing.
Every drain asserts that its query terminated and stops it in
``finally``.
"""

from __future__ import annotations

import atexit
import datetime
import hashlib
import itertools
import os
import random
import shutil
import tempfile
from collections import Counter
from dataclasses import dataclass, field
from typing import Callable, NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (BooleanType, DoubleType, IntegerType,
                               LongType, StringType, StructField,
                               StructType, TimestampType)

from otel_arrow_collector_spark.operators import dedup, sketches
from otel_arrow_collector_spark.sources.tables import load_table
from otel_arrow_collector_spark.streaming import (bloom_novelty, bootstrap,
                                                  cdc, changepoint, cms,
                                                  ewma, funnel,
                                                  heavy_hitters, hhi, hll,
                                                  incr_cc, incr_dedup,
                                                  incr_prefix,
                                                  interval_union, joins,
                                                  keyed_merge, mv_merge,
                                                  quantiles, ratelimit,
                                                  reservoir, seasonal,
                                                  sessions, slo, streaks,
                                                  tailsampling, temporality,
                                                  theta, windows)
from otel_arrow_collector_spark.streaming.dedup import dedup_stream
from tests.conftest import SF_SMALL

#: seconds a drain may take before it counts as hung
TIMEOUT_S = 180
#: (seed, files) per split; seed 0 keeps the feed's own order; split 2
#: is the one the restart property drains in two legs
SPLITS = ((0, 2), (7, 3), (3, 7))
#: (seed, files) of the re-delivery feed
REDELIVERY = (23, 4)
#: the first file's mtime; file i gets MTIME0 + i
MTIME0 = 1_700_000_000
DAY_US = 86_400_000_000
HOUR_US = 3_600_000_000
#: an event time past every feed's: its file closes every window
FLUSH_US = 4_102_444_800_000_000        # 2100-01-01


class Drain(NamedTuple):
    """One query run: the sink's answer and what produced it."""
    final: dict
    batches: list           # the rows of each foreachBatch call
    ckpt: str
    files: list             # the feed files, in arrival order


@dataclass(frozen=True)
class Twin:
    """One streaming twin and the reference it must reproduce.

    ``rows(spark)`` is the feed (tuples in ``schema`` order, in arrival
    order for split 0).  ``build(stream)`` returns the streaming
    DataFrame; a store-backed twin supplies ``run(spark, stream, emit,
    ckpt)`` instead, which starts the query and calls ``emit(df, id)``
    per micro-batch.  The emission log reduces to ``{key(r): value(r)}``
    with the last emission per key winning (``many``: the set of a
    key's rows in its last batch), or through ``final(batches, ckpt)``.
    A ``key`` of ``None`` drops the row (a flush sentinel's output).
    ``reference(spark, rows)`` gets the whole feed for ``mergeable``
    twins and the list of arrival batches otherwise.  ``once`` asserts
    that no key is emitted twice (by default, in append mode)."""
    name: str
    schema: StructType
    rows: Callable[[SparkSession], list]
    reference: Callable[[SparkSession, list], dict]
    build: Callable[[DataFrame], DataFrame] | None = None
    run: Callable | None = None
    key: Callable = None
    value: Callable = None
    mode: str = "update"
    mergeable: bool = True
    idempotent: bool = False
    once: bool | None = None
    many: bool = False
    final: Callable | None = None
    #: rows of one extra last file that advance the watermark past
    #: every window
    flush: tuple = ()
    check: Callable[[SparkSession, Drain], None] | None = None
    #: the builders and runners this spec drives
    covers: tuple = ()
    #: case names (``split0``, ``split1``, ``restart``, ``redelivery``,
    #: ``check``) measured over 5 s
    slow: frozenset = field(default_factory=frozenset)


# -- feeds and drains --------------------------------------------------------

_seq = itertools.count()
_memo: dict = {}


def _once(key, make):
    if key not in _memo:
        _memo[key] = make()
    return _memo[key]


def _base() -> str:
    """The session's scratch directory, removed at exit."""
    def make():
        d = tempfile.mkdtemp(prefix="stream_twins_")
        atexit.register(shutil.rmtree, d, True)
        return d
    return _once("base", make)


def fresh_dir(tag: str) -> str:
    d = os.path.join(_base(), f"{tag}-{next(_seq)}")
    os.makedirs(d)
    return d


def write_files(d: str, schema: StructType, parts: list,
                first: int = 0) -> list[str]:
    """One parquet file per part in ``d``, part i with mtime
    ``MTIME0 + first + i``; returns the paths in arrival order."""
    os.makedirs(d, exist_ok=True)
    asch = to_arrow_schema(schema)
    paths = []
    for i, part in enumerate(parts, first):
        cols = list(zip(*part)) if part else [()] * len(asch)
        path = os.path.join(d, f"part-{i:03d}.parquet")
        pq.write_table(pa.table([pa.array(list(c), type=f.type)
                                 for c, f in zip(cols, asch)],
                                schema=asch), path)
        os.utime(path, (MTIME0 + i, MTIME0 + i))
        paths.append(path)
    return paths


def frame(spark: SparkSession, schema: StructType, rows: list) -> DataFrame:
    """A batch DataFrame over ``rows``, read back from parquet like the
    stream reads them."""
    d = fresh_dir("frame")
    write_files(d, schema, [rows])
    return spark.read.schema(schema).parquet(d)


def source(spark: SparkSession, path: str, schema) -> DataFrame:
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(path))


def finish(q, timeout: int = TIMEOUT_S) -> None:
    """Wait for an ``availableNow`` query; a failed query raises here."""
    try:
        assert q.awaitTermination(timeout), \
            f"stream {q.id} did not terminate in {timeout}s"
    finally:
        q.stop()


def start(twin: Twin, stream: DataFrame, emit, ckpt: str):
    if twin.run is not None:
        return twin.run(stream.sparkSession, stream, emit, ckpt)
    return (twin.build(stream).writeStream.foreachBatch(emit)
            .outputMode(twin.mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start())


def result(twin: Twin, batches: list, ckpt: str) -> dict:
    """The sink's answer after ``batches``."""
    if twin.final is not None:
        return twin.final(batches, ckpt)
    once = twin.mode == "append" if twin.once is None else twin.once
    out: dict = {}
    for rows in batches:
        seen: dict = {}
        for r in rows:
            k = twin.key(r)
            if k is None:
                continue
            assert not (once and (k in out or k in seen)), \
                f"{twin.name}: {k!r} emitted twice"
            if twin.many:
                seen.setdefault(k, []).append(twin.value(r))
            else:
                seen[k] = twin.value(r)
        out.update({k: tuple(sorted(v)) for k, v in seen.items()}
                   if twin.many else seen)
    return out


def run_legs(spark: SparkSession, twin: Twin, legs: list) -> list[Drain]:
    """Drain ``legs`` (each a list of file parts) one after another on
    one checkpoint; leg i's answer covers the emissions of legs 0..i."""
    d, ckpt = fresh_dir(twin.name), fresh_dir(twin.name + "-ckpt")
    batches: list = []
    files: list = []
    out = []
    for parts in legs:
        files += write_files(d, twin.schema, parts, len(files))

        def emit(df, _bid):
            batches.append(df.collect())

        finish(start(twin, source(spark, d, twin.schema), emit, ckpt))
        out.append(Drain(result(twin, batches, ckpt), list(batches),
                         ckpt, list(files)))
    return out


def drain(spark: SparkSession, twin: Twin, parts: list) -> Drain:
    """One run over ``parts``, one file each."""
    return run_legs(spark, twin, [parts])[0]


def feed(spark: SparkSession, twin: Twin) -> list:
    return _once(("feed", twin.rows), lambda: list(twin.rows(spark)))


def _cut(rows: list, n: int) -> list:
    per = -(-len(rows) // n)
    return [rows[j * per:(j + 1) * per] for j in range(n)]


def parts(spark: SparkSession, twin: Twin, i: int) -> list:
    """Split ``i`` of the feed: its arrival batches, without the flush."""
    seed, n = SPLITS[i]
    rows = list(feed(spark, twin))
    if seed:
        random.Random(seed).shuffle(rows)
    return _cut(rows, n)


def redelivered(spark: SparkSession, twin: Twin) -> list:
    """The feed with a quarter of its rows drawn again and shuffled in,
    cut into files: duplicates share files with their originals."""
    seed, n = REDELIVERY
    rows = list(feed(spark, twin))
    rng = random.Random(seed)
    rows += rng.sample(rows, len(rows) // 4)
    rng.shuffle(rows)
    return _cut(rows, n)


def _flushed(twin: Twin, ps: list) -> list:
    return ps + [list(twin.flush)] if twin.flush else ps


def split(spark: SparkSession, twin: Twin, i: int) -> Drain:
    return _once(("split", twin.name, i), lambda: drain(
        spark, twin, _flushed(twin, parts(spark, twin, i))))


def expected(spark: SparkSession, twin: Twin, i: int) -> dict:
    if twin.mergeable:
        return _once(("ref", twin.name),
                     lambda: twin.reference(spark, feed(spark, twin)))
    return _once(("ref", twin.name, i),
                 lambda: twin.reference(spark, parts(spark, twin, i)))


# -- the properties ----------------------------------------------------------

def check_split(spark: SparkSession, twin: Twin, i: int) -> None:
    got, want = split(spark, twin, i).final, expected(spark, twin, i)
    assert got == want, (
        f"{twin.name}: split {i} {SPLITS[i]} differs from the "
        f"reference")


def check_restart(spark: SparkSession, twin: Twin) -> None:
    ps = parts(spark, twin, 2)
    k = len(ps) // 2
    legs = _once(("restart", twin.name), lambda: run_legs(
        spark, twin, [ps[:k], _flushed(twin, ps[k:])]))
    assert legs[-1].final == expected(spark, twin, 2), \
        f"{twin.name}: the restarted run differs from the reference"


def check_redelivery(spark: SparkSession, twin: Twin) -> None:
    mixed = redelivered(spark, twin)
    twice = _once(("redelivery", twin.name), lambda: drain(
        spark, twin, _flushed(twin, mixed + parts(spark, twin, 0))))
    want = (expected(spark, twin, 0) if twin.mergeable
            else twin.reference(spark, mixed))
    assert twice.final == want, \
        f"{twin.name}: re-delivered rows changed the answer"


def check_hook(spark: SparkSession, twin: Twin) -> None:
    twin.check(spark, split(spark, twin, 0))


PROPERTIES = {"split0": lambda s, t: check_split(s, t, 0),
              "split1": lambda s, t: check_split(s, t, 1),
              "restart": check_restart,
              "redelivery": check_redelivery,
              "check": check_hook}


def cases(twin: Twin) -> list[str]:
    return [p for p in PROPERTIES
            if (p != "redelivery" or twin.idempotent)
            and (p != "check" or twin.check is not None)]


# -- spec helpers ------------------------------------------------------------

def _schema(ddl: str) -> StructType:
    types = {"long": LongType(), "int": IntegerType(),
             "double": DoubleType(), "string": StringType(),
             "boolean": BooleanType(), "timestamp": TimestampType()}
    return StructType([StructField(n, types[t]) for n, t in
                       (c.split() for c in ddl.split(","))])


def _cols(*names):
    if len(names) == 1:
        return lambda r: r[names[0]]
    return lambda r: tuple(r[n] for n in names)


def _tuples(df: DataFrame) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _flat(batches: list) -> list:
    return [r for b in batches for r in b]


def _registry(spark: SparkSession, name: str) -> DataFrame:
    from otel_arrow_collector_spark.operators import collect_registry
    return collect_registry()[0][name](spark, SF_SMALL)


def _keyed(df: DataFrame, key, value) -> dict:
    return {key(r): value(r) for r in df.collect()}


def _stores(ckpt: str, make):
    """A store-backed runner's store, one per checkpoint, so a restart
    on the checkpoint resumes the same store."""
    return _once(("store", ckpt), make)


# -- mergeable twins: equal to the batch query -------------------------------

def _hhi_rows(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    su = load_table(spark, SF_SMALL, "supplier")
    return _tuples(li.join(F.broadcast(su),
                           F.col("s_suppkey") == F.col("l_suppkey"))
                   .select(F.col("s_nationkey").cast("long"),
                           F.col("l_suppkey").cast("long"),
                           F.round(F.col("l_extendedprice") * 100)
                           .cast("long")))


_HHI_VALUE = _cols("n_suppliers", "total_cents", "hhi_bp")

HHI = Twin(
    "hhi", _schema("nation long, suppkey long, cents long"), _hhi_rows,
    lambda spark, _: _keyed(_registry(spark, "q114_herfindahl"),
                            _cols("nation"), _HHI_VALUE),
    build=hhi.hhi_stream, key=_cols("nation"), value=_HHI_VALUE,
    covers=(hhi.hhi_stream, keyed_merge.keyed_merge_stream),
    slow=frozenset({"restart"}))

#: the quantile twin's histogram domain and bins
LO, HI, BINS = 0, 9_999, 64


def _quantile_rows(_spark):
    """Three groups of different shapes: uniform, skewed low,
    two-modal."""
    return [r for i in range(600)
            for r in ((0, (i * 17) % 10_000), (1, (i * i) % 700),
                      (2, 500 if i % 3 else 9_500))]


def _quantiles_check(spark, d):
    assert len(d.final) == 9            # 3 groups x 3 quantiles


QUANTILES = Twin(
    "quantiles", _schema("grp long, v long"), _quantile_rows,
    lambda spark, rows: _keyed(
        quantiles.bin_quantiles_batch(
            frame(spark, QUANTILES.schema, rows), LO, HI, BINS),
        _cols("grp", "q"), _cols("value_ub", "n")),
    build=lambda s: quantiles.bin_quantiles_stream(s, LO, HI, BINS),
    key=_cols("grp", "q"), value=_cols("value_ub", "n"),
    check=_quantiles_check, covers=(quantiles.bin_quantiles_stream,))


def _changepoint_rows(_spark):
    """A level shift at day 40 (5 -> 12 events a day), a flat series
    (the CUSUM tie-break decides), and a short spiky one."""
    rng = random.Random(96)
    return ([("shift", d) for d in range(60)
             for _ in range(5 if d < 40 else 12)]
            + [("flat", d) for d in range(30) for _ in range(4)]
            + [("spiky", d) for d in range(20)
               for _ in range(rng.randrange(1, 9))])


def changepoint_reference(_spark, rows) -> dict:
    """q96's plan in plain Python: the CUSUM argmax per series."""
    series: dict = {}
    for et, d in rows:
        by_day = series.setdefault(et, {})
        by_day[d] = by_day.get(d, 0) + 1
    return {et: changepoint._argmax_cusum(by_day)
            for et, by_day in series.items()}


def _changepoint_check(spark, d):
    # the level shift is found at its last pre-shift day
    assert d.final["shift"][0] == 39 and d.final["shift"][2] == 60


CHANGEPOINT_VALUE = _cols("change_day", "max_abs_cusum", "n_days")
CHANGEPOINT = Twin(
    "changepoint", _schema("event_type string, day long"),
    _changepoint_rows, changepoint_reference,
    build=changepoint.changepoint_stream, key=_cols("event_type"),
    value=CHANGEPOINT_VALUE, check=_changepoint_check,
    covers=(changepoint.changepoint_stream,), slow=frozenset({"restart"}))


def _seasonal_rows(_spark):
    """Two events per (day, hour) cell over 14 days x 4 hours, one real
    spike (day 9 hour 3 at 9x) and one early fake (day 0 hour 1, hot
    against an empty history, under 2x of the full one)."""
    return [("svc", d, h) for d in range(14) for h in (1, 3, 5, 7)
            for _ in range({(9, 3): 18, (0, 1): 4}.get((d, h), 2))]


def seasonal_reference(_spark, rows) -> dict:
    """q97's plan in plain Python, for every cell-day: the full-history
    cell baseline, spike iff c * n_cells > 2 * s."""
    cells: dict = {}
    for et, d, h in rows:
        cell = cells.setdefault((et, h), {})
        cell[d] = cell.get(d, 0) + 1
    return {(et, d, h): (c, sum(by_day.values()), len(by_day),
                         c * len(by_day) > 2 * sum(by_day.values()))
            for (et, h), by_day in cells.items() for d, c in by_day.items()}


def seasonal_spikes(final: dict) -> list:
    """The spike rows of a seasonal answer, in q97's column order."""
    return sorted((et, d, h, c, s, n)
                  for (et, d, h), (c, s, n, spike) in final.items() if spike)


def _seasonal_check(spark, d):
    # the real spike survives; the early fake is retracted
    assert ("svc", 9, 3, 18, 18 + 2 * 13, 14) in seasonal_spikes(d.final)
    assert not d.final[("svc", 0, 1)][3]


SEASONAL = Twin(
    "seasonal", _schema("event_type string, day long, hod long"),
    _seasonal_rows, seasonal_reference,
    build=seasonal.seasonal_spike_stream, key=_cols("event_type", "day",
                                                    "hod"),
    value=_cols("c", "hod_total", "n_cells", "is_spike"),
    check=_seasonal_check, covers=(seasonal.seasonal_spike_stream,))


def _streak_rows(spark):
    return _tuples(load_table(spark, SF_SMALL, "events").select(
        "user_id", F.expr("ts_ns div 1000 div 86400000000").cast("long")))


def _streak_reference(spark, rows):
    from otel_arrow_collector_spark.operators.relational import streak_runs
    days = frame(spark, STREAKS.schema, rows).distinct()
    return _keyed(streak_runs(days).groupBy("user_id")
                  .agg(F.max("len").alias("longest_streak"),
                       F.sum("len").alias("n_active_days")),
                  _cols("user_id"), _cols("longest_streak",
                                          "n_active_days"))


STREAKS = Twin(
    "streaks", _schema("user_id long, day long"), _streak_rows,
    _streak_reference, build=streaks.user_streaks_stream,
    key=_cols("user_id"), value=_cols("longest_streak", "n_active_days"),
    idempotent=True, covers=(streaks.user_streaks_stream,))


def _hash48(u: str) -> int:
    return int(hashlib.md5(u.encode()).hexdigest()[:12], 16)


def _theta_rows(_spark):
    """Set sizes bracketing THETA_K (sub-K, 2K, 8K), every member
    repeated 1-3 times and shuffled."""
    from otel_arrow_collector_spark.operators.sketches import THETA_K
    rng = random.Random(48)
    rows = [(et, f"{et}-user-{i}")
            for et, n in (("rare", THETA_K - 7), ("mid", 2 * THETA_K),
                          ("big", 8 * THETA_K))
            for i in range(n) for _ in range(rng.randrange(1, 4))]
    rng.shuffle(rows)
    return rows


def _theta_reference(_spark, rows):
    """The batch operator's kept and threshold rules in plain Python
    over the 48-bit md5 hash (the SQL hash is pinned against hashlib in
    test_hll_cms.py)."""
    from otel_arrow_collector_spark.operators.sketches import (THETA_K,
                                                               THETA_RANGE)
    sets: dict = {}
    for et, uid in rows:
        sets.setdefault(et, set()).add(uid)
    out = {}
    for et, users in sets.items():
        kept = sorted(_hash48(u) for u in users)[:THETA_K]
        if len(kept) >= THETA_K:
            th = kept[THETA_K - 1]
            out[et] = (len(kept), th, (THETA_K - 1) * THETA_RANGE // th)
        else:
            out[et] = (len(kept), THETA_RANGE, len(kept))
    return out


def _theta_check(spark, d):
    from otel_arrow_collector_spark.operators.sketches import (THETA_K,
                                                               THETA_RANGE)
    # the regimes really bracket K
    assert d.final["rare"][0] < THETA_K
    assert d.final["rare"][1] == THETA_RANGE
    assert d.final["big"][0] == THETA_K and d.final["big"][1] < THETA_RANGE


THETA = Twin(
    "theta", _schema("event_type string, user_id string"), _theta_rows,
    _theta_reference, build=theta.theta_stream, key=_cols("event_type"),
    value=_cols("n_kept", "th", "est"), idempotent=True,
    check=_theta_check, covers=(theta.theta_stream,))


def _weighted_reference(_spark, rows):
    """sample_weighted's k smallest (priority, doc_id) per stratum, from
    the Python priority twin."""
    from otel_arrow_collector_spark.operators.sampling import WEIGHTED_K
    out: dict = {}
    for lang, doc_id, n_chars in rows:
        out.setdefault(lang, []).append(
            (reservoir.py_priority(doc_id, n_chars), doc_id))
    return {lang: tuple(sorted((d, p) for p, d in sorted(v)[:WEIGHTED_K]))
            for lang, v in out.items()}


WEIGHTED_SAMPLE = Twin(
    "weighted_sample", _schema("lang string, doc_id long, n_chars long"),
    lambda _: [(["en", "es"][i % 2], i, 50 + (i * 131) % 400)
               for i in range(400)],
    _weighted_reference,
    build=reservoir.weighted_sample_stream, key=_cols("lang"),
    value=_cols("doc_id", "priority"), many=True, idempotent=True,
    covers=(reservoir.weighted_sample_stream,))


def _bootstrap_reference(spark, rows):
    """sample_bootstrap's arithmetic over the feed: the same SQL weight
    expressions, minus the parquet load."""
    from otel_arrow_collector_spark.operators.sampling import (
        BOOTSTRAP_B, _hexint_sql, _poisson1_thresholds)
    h = _hexint_sql("md5(concat('boot:', CAST(b AS STRING), ':',"
                    " CAST(o_orderkey AS STRING)))", 7, "substring")
    w = " + ".join(f"(CASE WHEN hv >= {t} THEN 1 ELSE 0 END)"
                   for t in _poisson1_thresholds())
    df = (frame(spark, BOOTSTRAP.schema, rows)
          .select("cents", F.explode(F.expr(
              f"sequence(0, {BOOTSTRAP_B - 1})")).alias("b"),
                  "o_orderkey")
          .select("cents", "b", F.expr(h).cast("long").alias("hv"))
          .select("cents", "b", F.expr(w).alias("w"))
          .groupBy("b")
          .agg(F.sum("w").cast("long").alias("n_eff"),
               F.sum(F.col("w") * F.col("cents")).alias("tot"))
          .select("b", "n_eff", F.expr("tot div n_eff").cast("long")
                  .alias("mean_cents")))
    return _keyed(df, _cols("b"), _cols("n_eff", "mean_cents"))


BOOTSTRAP = Twin(
    "bootstrap", _schema("o_orderkey long, cents long"),
    lambda _: (lambda rng: [(k, rng.randrange(100, 900_000))
                            for k in range(1, 1201)])(random.Random(7)),
    _bootstrap_reference, build=bootstrap.bootstrap_stream,
    key=_cols("b"), value=_cols("n_eff", "mean_cents"),
    covers=(bootstrap.bootstrap_stream,))


def _cdc_rows(_spark):
    """Plain upsert chains, a key whose latest change is a tombstone
    (must vanish), a key tombstoned then re-upserted (must live), and a
    stale version arriving after a newer one (must lose)."""
    rows, eid = [], 0
    rng = random.Random(95)
    for u in range(12):
        for v in range(1 + u % 4):
            eid += 1
            et = ("error" if (u == 3 and v == u % 4) else
                  rng.choice(["click", "view", "signup", "purchase"]))
            rows.append((u, et, round(rng.uniform(1, 99), 2),
                         1_000_000 + v * 1_000_000, eid))
    return rows + [(20, "error", 1.0, 1_000_000, 9001),
                   (20, "view", 2.0, 2_000_000, 9002),
                   (21, "view", 3.0, 9_000_000, 9003),
                   (21, "click", 4.0, 1_000_000, 9004)]


def _cdc_reference(_spark, rows):
    """q95 in plain Python: version count and last-writer-wins by
    (us, event_id); a tombstone winner drops the key."""
    best: dict = {}
    for u, et, v, us, eid in rows:
        n, b = best.get(u, (0, None))
        cand = (us, eid, et, v)
        best[u] = (n + 1, cand if b is None or cand[:2] > b[:2] else b)
    return {u: (n, b[2], b[3]) for u, (n, b) in best.items()
            if b[2] != "error"}


def _cdc_check(spark, d):
    assert 3 not in d.final and 20 in d.final     # tombstone semantics
    assert d.final[21] == (2, "view", 3.0)        # stale arrival lost


CDC = Twin(
    "cdc", _schema("user_id long, event_type string, value double, "
                   "us long, event_id long"),
    _cdc_rows, _cdc_reference, build=cdc.cdc_apply_stream,
    final=lambda batches, _: {
        u: (r.n_versions, r.last_type, r.last_value)
        for u, r in cdc.latest_view(_flat(batches)).items()},
    check=_cdc_check, covers=(cdc.cdc_apply_stream,))


def _hll_check(spark, d):
    # true distinct = 500; the raw estimator is within ~6.5%
    assert 250 <= hll.hll_estimate_from_registers(d.final) <= 1000


def _register_reference(op, key, value):
    return lambda spark, rows: _keyed(
        op(frame(spark, _schema("seq long, uid long"), rows), "uid"),
        key, value)


HLL = Twin(
    "hll", _schema("seq long, uid long"),
    lambda _: [(i, (i * 7919) % 500) for i in range(900)],
    _register_reference(sketches.hll_registers, _cols("bucket"),
                        _cols("max_rho")),
    build=lambda s: hll.hll_stream(s, "uid"), key=_cols("bucket"),
    value=_cols("max_rho"), idempotent=True, check=_hll_check,
    covers=(hll.hll_stream,))

CMS = Twin(
    "cms", _schema("seq long, uid long"),
    lambda _: [(i, (i * 104729) % 300) for i in range(600)],
    _register_reference(sketches.cms_counters, _cols("row_id", "col"),
                        _cols("cnt")),
    build=lambda s: cms.cms_stream(s, "uid"), key=_cols("row_id", "col"),
    value=_cols("cnt"), covers=(cms.cms_stream,))

#: the events feed: (event_id, ts, user_id, event_type, value)
EVENTS = _schema("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double")


def event_rows(spark):
    """sf0.001 events, event time as epoch microseconds."""
    return _tuples(load_table(spark, SF_SMALL, "events").select(
        "event_id", F.expr("ts_ns div 1000").cast("long"), "user_id",
        "event_type", "value"))


def _funnel_reference(_spark, rows):
    """q71's conditional aggregation: the first time per stage."""
    out: dict = {}
    for _eid, us, uid, et, _v in rows:
        firsts = out.setdefault(uid, dict.fromkeys(funnel.STAGES))
        if et in firsts:
            s = us // 1_000_000                 # the twin's ts -> long
            firsts[et] = s if firsts[et] is None else min(firsts[et], s)
    return {u: tuple(f[s] for s in funnel.STAGES) for u, f in out.items()}


def _funnel_check(spark, d):
    """The stage flags agree between the streamed firsts and the
    reference's."""
    cols = "user_id long, t_signup long, t_view long, t_purchase long"

    def flags(final):
        return _keyed(funnel.funnel_flags(spark.createDataFrame(
            [(u, *v) for u, v in final.items()], cols)),
            _cols("user_id"),
            _cols("did_signup", "did_view_after", "did_full_funnel"))
    got = flags(d.final)
    assert got == flags(expected(spark, FUNNEL, 0))
    assert any(v[0] for v in got.values())


FUNNEL = Twin(
    "funnel", EVENTS, event_rows, _funnel_reference,
    build=funnel.funnel_stream, key=_cols("user_id"),
    value=_cols("t_signup", "t_view", "t_purchase"), idempotent=True,
    check=_funnel_check, covers=(funnel.funnel_stream,))


def _islands_reference(spark, rows):
    """The batch sweep (operators.relational.interval_islands)
    aggregated per key."""
    from otel_arrow_collector_spark.operators.relational import (
        interval_islands)
    e = (frame(spark, INTERVAL_UNION.schema, rows)
         .select("event_type", "user_id", "s",
                 (F.col("s") + F.lit(interval_union.LEASE_US)).alias("t"),
                 F.monotonically_increasing_id().alias("event_id")))
    return _keyed(interval_islands(e).groupBy("event_type", "user_id")
                  .agg(F.count(F.lit(1)).alias("n_islands"),
                       F.sum(F.col("en") - F.col("st")).alias("covered_us")),
                  _cols("event_type", "user_id"),
                  _cols("n_islands", "covered_us"))


INTERVAL_UNION = Twin(
    "interval_union", _schema("event_type string, user_id long, s long"),
    lambda spark: _tuples(load_table(spark, SF_SMALL, "events").select(
        "event_type", "user_id",
        F.expr("ts_ns div 1000").cast("long"))),
    _islands_reference, build=interval_union.interval_union_stream,
    key=_cols("event_type", "user_id"),
    value=_cols("n_islands", "covered_us"), idempotent=True,
    covers=(interval_union.interval_union_stream,))

DOCS = _schema("doc_id long, text string")

INCR_DEDUP = Twin(
    "incr_dedup", DOCS,
    lambda spark: _tuples(dedup.load_table(spark, SF_SMALL, "documents")
                          .select("doc_id", "text")),
    lambda spark, _: {(r.d1, r.d2): True for r in
                      dedup._lsh_candidate_pairs(spark,
                                                 SF_SMALL).collect()},
    build=incr_dedup.incr_dedup_stream, key=_cols("d1", "d2"),
    value=lambda r: True, idempotent=True,
    covers=(incr_dedup.incr_dedup_stream,),
    slow=frozenset({"restart", "redelivery"}))


# -- watermarked append-mode twins: a flush file closes every window ---------

def _ewma_rows(_spark):
    """60 days, 2 priorities, bursty revenue with silent days (gaps in
    the daily frame)."""
    rng = random.Random(101)
    return [(pr, day * ewma.DAY_US + rng.randrange(ewma.DAY_US),
             rng.randrange(100, 500_000))
            for day in range(60) for pr in ("1-URGENT", "3-MEDIUM")
            if (day * 7 + len(pr)) % 11
            for _ in range(rng.randrange(1, 5))]


def _ewma_reference(_spark, rows):
    """q101's kernel in Python integers: daily sums, then
    sum(daily[d-lag] * 3^lag * 4^(W-lag)) // 4^W over observed days,
    published for days with traffic."""
    from otel_arrow_collector_spark.operators.relational import EWMA_W
    daily: dict = {}
    for pr, us, cents in rows:
        daily[(pr, us // ewma.DAY_US)] = \
            daily.get((pr, us // ewma.DAY_US), 0) + cents
    return {(pr, d): (cents, sum(
        x * 3 ** (d - g) * 4 ** (EWMA_W - (d - g))
        for (p, g), x in daily.items()
        if p == pr and 0 <= d - g <= EWMA_W) // 4 ** EWMA_W)
        for (pr, d), cents in daily.items()}


def _ewma_key(r):
    day = (r.day - datetime.date(1970, 1, 1)).days
    return (r.pr, day) if day < 300 else None


def _ewma_check(spark, d):
    # silent days produce no rows (q101's inner join to daily)
    assert set(d.final) < {(pr, dd) for pr in ("1-URGENT", "3-MEDIUM")
                           for dd in range(60)}


EWMA = Twin(
    "ewma", _schema("pr string, day_us long, cents long"), _ewma_rows,
    _ewma_reference,
    # the watermark is longer than the feed, so shuffled arrival is
    # never late; the flush at day 350 closes every real day
    build=lambda s: ewma.ewma_stream(s, watermark_us=100 * ewma.DAY_US),
    mode="append", key=_ewma_key,
    value=_cols("revenue_cents", "ewma_scaled"),
    flush=(("1-URGENT", 350 * ewma.DAY_US, 0),), check=_ewma_check,
    covers=(ewma.ewma_stream,))


def _slo_rows(_spark):
    """24 hours, 2% background errors, a burn episode at hours 4-7, a
    one-hour blip at hour 16 (its 6h window must not page), and silent
    hours 18-19."""
    rng = random.Random(92)
    rows = []
    for h in range(24):
        if h in (18, 19):
            continue
        rate = 0.6 if 4 <= h <= 7 else (0.9 if h == 16 else 0.02)
        for _ in range(40 + (h * 7) % 13):
            us = h * HOUR_US + rng.randrange(HOUR_US)
            rows.append((us, "error" if rng.random() < rate else "ok"))
    return rows


def _slo_reference(_spark, rows):
    """q92's plan in Python: the hourly frame, trailing 6-hour sums over
    existing hours, integer cross-multiplication."""
    hourly: dict = {}
    for us, et in rows:
        t, e = hourly.get(us // HOUR_US, (0, 0))
        hourly[us // HOUR_US] = (t + 1, e + (et == "error"))
    out = {}
    for h, (total, errors) in hourly.items():
        t6 = sum(hourly[g][0] for g in hourly if h - 5 <= g <= h)
        e6 = sum(hourly[g][1] for g in hourly if h - 5 <= g <= h)
        out[h] = (total, errors, errors * 100000 // (21 * total),
                  e6 * 100000 // (21 * t6),
                  errors * 100 > 21 * total and e6 * 100 > 21 * t6)
    return out


def _slo_check(spark, d):
    # sustained burn pages; the one-hour blip is hot on 1h only
    assert d.final[6][4] is True
    assert d.final[16][2] > 1000 and d.final[16][4] is False
    assert 18 not in d.final and 19 not in d.final


SLO = Twin(
    "slo", _schema("us long, event_type string"), _slo_rows,
    _slo_reference,
    build=lambda s: slo.slo_burn_stream(s, watermark_us=100 * HOUR_US),
    mode="append", key=lambda r: r.hour if r.hour < 300 else None,
    value=_cols("total", "errors", "burn_permille_1h", "burn_permille_6h",
                "is_burning"),
    flush=((350 * HOUR_US, "ok"),), check=_slo_check,
    covers=(slo.slo_burn_stream,))


def _session_rows(_spark):
    """Multi-session users (40-minute gaps), a gap of exactly 30:00
    (must merge, q80's closed boundary) and one of 30:00.000001 (must
    cut)."""
    rows = []
    for u in range(25):
        t = 1_000_000 + u * 13_000
        for s in range(1 + u % 3):
            for _ in range(2 + (u + s) % 4):
                rows.append((u, t))
                t += 60_000_000
            t += sessions.SESSION_GAP_US + 600_000_000
    gap = sessions.SESSION_GAP_US
    return rows + [(100, 0), (100, gap), (101, 0), (101, gap + 1)]


def _session_reference(_spark, rows):
    """q80's gaps-and-islands aggregate in Python: a new session iff
    the gap strictly exceeds 30 minutes."""
    by_user: dict = {}
    for u, us in rows:
        by_user.setdefault(u, []).append(us)
    out = {}
    for u, ts in by_user.items():
        ts.sort()
        start = prev = ts[0]
        n = 0
        for t in ts + [None]:
            if t is None or t - prev > sessions.SESSION_GAP_US:
                out[(u, start)] = (n, (prev - start) // 10 ** 6)
                start, n = t, 0
            prev, n = t, n + 1
    return out


def _session_check(spark, d):
    gap = sessions.SESSION_GAP_US
    assert d.final[(100, 0)] == (2, 1800)           # exact 30:00 merges
    assert d.final[(101, 0)] == d.final[(101, gap + 1)] == (1, 0)


SESSIONS = Twin(
    "sessions", _schema("user_id long, us long"), _session_rows,
    _session_reference,
    build=lambda s: sessions.sessionize_stream(s, watermark_us=5 * DAY_US),
    mode="append",
    key=lambda r: (r.user_id, r.start_us) if r.user_id != 999 else None,
    value=_cols("n_events", "dur_sec"), flush=((999, 20 * DAY_US),),
    check=_session_check, covers=(sessions.sessionize_stream,))

#: Spark watermark over the events feed: longer than its 30 days, so
#: shuffled arrival is never late
EVENTS_WATERMARK = "60 days"
_EVENTS_FLUSH = ((-1, FLUSH_US, -1, "flush", 0.0),)
_BEFORE_FLUSH = datetime.datetime(2099, 1, 1)


def _window_reference(build, key, value):
    return lambda spark, rows: _keyed(
        build(frame(spark, EVENTS, rows)), key, value)


WINDOWED_COUNTS = Twin(
    "windowed_counts", EVENTS, event_rows,
    _window_reference(windows.windowed_counts, _cols("w_start"),
                      _cols("n", "s")),
    build=lambda s: windows.windowed_counts(s, watermark=EVENTS_WATERMARK),
    mode="append",
    key=lambda r: r.w_start if r.w_start < _BEFORE_FLUSH else None,
    value=_cols("n", "s"), flush=_EVENTS_FLUSH,
    covers=(windows.windowed_counts,))


def _sessionized_check(spark, d):
    """At least 90% of q32's per-user session counts are the twin's."""
    got = Counter(u for u, _ in d.final)
    want = {(r.user_id, r.n_sessions)
            for r in _registry(spark, "q32_sessionization").collect()}
    assert len(set(got.items()) & want) >= 0.9 * len(want)


SESSIONIZED = Twin(
    "sessionized", EVENTS, event_rows,
    _window_reference(windows.sessionized, _cols("user_id", "s_start"),
                      _cols("s_end", "n_events")),
    build=lambda s: windows.sessionized(s, watermark=EVENTS_WATERMARK),
    mode="append",
    key=lambda r: (r.user_id, r.s_start) if r.user_id >= 0 else None,
    value=_cols("s_end", "n_events"), flush=_EVENTS_FLUSH,
    check=_sessionized_check, covers=(windows.sessionized,))


def _hopping_check(spark, d):
    """Each window's count equals q47's count for the half-hour slot
    it starts on."""
    import calendar
    q47 = _keyed(_registry(spark, "q47_hopping_window"),
                 _cols("event_type", "window_slot"), _cols("n"))
    for (et, start), (_end, n) in d.final.items():
        assert q47[(et, calendar.timegm(start.timetuple()) // 1800)] == n


HOPPING = Twin(
    "hopping", EVENTS, event_rows,
    _window_reference(lambda df: windows.hopping_counts(
        df, "1 hour", "30 minutes"), _cols("event_type", "w_start"),
        _cols("w_end", "n")),
    build=lambda s: windows.hopping_counts(
        s, "1 hour", "30 minutes", watermark=EVENTS_WATERMARK),
    mode="append",
    key=lambda r: ((r.event_type, r.w_start) if r.event_type != "flush"
                   else None),
    value=_cols("w_end", "n"), flush=_EVENTS_FLUSH, check=_hopping_check,
    covers=(windows.hopping_counts,))

DEDUP = Twin(
    "dedup", EVENTS, event_rows,
    lambda _spark, rows: {r[0]: r[2] for r in rows},
    build=lambda s: dedup_stream(s, ["event_id"], watermark=EVENTS_WATERMARK),
    mode="append", key=_cols("event_id"), value=_cols("user_id"),
    idempotent=True, covers=(dedup_stream,))


def _interval_join_reference(spark, rows):
    """q18's correlation: purchases in (signup, signup + 1 hour] of the
    same user."""
    e = frame(spark, EVENTS, rows)
    s = e.filter("event_type = 'signup'").alias("s")
    p = e.filter("event_type = 'purchase'").alias("p")
    return _keyed(
        s.join(p, (F.col("s.user_id") == F.col("p.user_id"))
               & (F.col("p.ts") > F.col("s.ts"))
               & (F.col("p.ts") <= F.col("s.ts")
                  + F.expr("INTERVAL 1 HOUR")))
        .select(F.col("s.event_id").alias("l"),
                F.col("p.event_id").alias("r"), "s.user_id"),
        _cols("l", "r"), _cols("user_id"))


def _interval_join_check(spark, d):
    assert d.final


INTERVAL_JOIN = Twin(
    "interval_join", EVENTS, event_rows, _interval_join_reference,
    build=lambda s: joins.interval_join_stream(
        s.filter("event_type = 'signup'"),
        s.filter("event_type = 'purchase'"), key="user_id",
        interval="1 hour", watermark=EVENTS_WATERMARK),
    mode="append", key=_cols("l_event_id", "r_event_id"),
    value=_cols("user_id"), check=_interval_join_check,
    covers=(joins.interval_join_stream,), slow=frozenset({"restart"}))


def enrich_dim(spark):
    """A user dimension missing every fifth user."""
    return (load_table(spark, SF_SMALL, "events")
            .select("user_id").distinct()
            .withColumn("segment", (F.col("user_id") % 3).cast("string"))
            .filter(F.col("user_id") % 5 != 0))


def _enrich_check(spark, d):
    # unknown keys survive, null-padded (the left join)
    assert None in d.final.values()


ENRICH = Twin(
    "enrich", EVENTS, event_rows,
    lambda _spark, rows: {eid: (str(u % 3) if u % 5 else None)
                          for eid, _ts, u, _et, _v in rows},
    build=lambda s: joins.enrich_stream(s, enrich_dim(s.sparkSession),
                                        "user_id"),
    mode="append", key=_cols("event_id"), value=_cols("segment"),
    check=_enrich_check, covers=(joins.enrich_stream,))


def _tail_rows(_spark):
    """Traces hitting every policy branch: errors, a span past the
    latency threshold, and plain traces for the 2/16 hash policy."""
    rows = []
    for u in range(40):
        base = (u % 3) * DAY_US + 1_000_000 + u * 7_000
        for i in range(3 + u % 4):
            rows.append((u, "error" if u % 7 == 0 and i == 1 else "view",
                         base + i * 900_000))
        if u % 11 == 3:
            rows.append((u, "view",
                         base + tailsampling.LATENCY_THRESHOLD_US + 5))
    return rows


def _tail_reference(_spark, batches):
    """q90's decision table per trace, folded over the arrival batches
    (the decision wait outlasts the feed, so every trace decides once,
    after the flush)."""
    traces: dict = {}
    for u, et, us in _flat(batches):
        n, err, lo, hi = traces.get((u, us // DAY_US), (0, 0, us, us))
        traces[(u, us // DAY_US)] = (n + 1, max(err, et == "error"),
                                     min(lo, us), max(hi, us))
    return {(u, day): (tailsampling.decide_policy(u, day, err, hi - lo), n)
            for (u, day), (n, err, lo, hi) in traces.items()}


def _tail_check(spark, d):
    assert {p for p, _ in d.final.values()} == \
        {"error", "latency", "probabilistic", "drop"}


TAIL_SAMPLING = Twin(
    "tail_sampling", _schema("user_id long, event_type string, us long"),
    _tail_rows, _tail_reference,
    build=lambda s: tailsampling.tail_sample_stream(s, 5 * DAY_US),
    key=lambda r: (r.user_id, r.day) if r.user_id != 999 else None,
    value=_cols("policy", "n_events"), mergeable=False, once=True,
    flush=((999, "view", 20 * DAY_US),), check=_tail_check,
    covers=(tailsampling.tail_sample_stream,),
    slow=frozenset({"split1", "restart"}))


# -- order-dependent twins: equal to a Python fold over arrival order --------

def _ratelimit_rows(_spark):
    """3 users, 40 events each, 337 ms apart: a 1-second window holds
    three, so batches cut windows and the quota must carry over."""
    return sorted(((u, i, i * 337_000 + u * 11_000)
                   for u in range(3) for i in range(40)),
                  key=lambda r: r[2])


RATE_QUOTA, RATE_WINDOW_US = 2, 1_000_000


def _ratelimit_reference(_spark, batches):
    """The limiter in Python: per batch and user, events in (us,
    event_id) order are allowed while their window's count is under
    the quota; windows older than the newest but one are retired."""
    seen: dict = {}
    out = {}
    for batch in batches:
        for u in sorted({r[0] for r in batch}):
            windows_ = seen.setdefault(u, {})
            for _, eid, us in sorted((r for r in batch if r[0] == u),
                                     key=lambda r: (r[2], r[1])):
                w = us // RATE_WINDOW_US
                out[(u, eid)] = int(windows_.get(w, 0) < RATE_QUOTA)
                windows_[w] = windows_.get(w, 0) + 1
            newest = max(windows_)
            seen[u] = {w: c for w, c in windows_.items() if w >= newest - 1}
    return out


def _ratelimit_check(spark, d):
    """Time-ordered arrival gives q91's ROW_NUMBER verdicts, and both
    verdicts occur."""
    from pyspark.sql import Window
    df = frame(spark, RATELIMIT.schema, feed(spark, RATELIMIT))
    w = (Window.partitionBy(
        "user_id", (F.col("us") / RATE_WINDOW_US).cast("long"))
        .orderBy("us", "event_id"))
    assert d.final == _keyed(df.withColumn("rk", F.row_number().over(w)),
                             _cols("user_id", "event_id"),
                             lambda r: int(r.rk <= RATE_QUOTA))
    assert set(d.final.values()) == {0, 1}


RATELIMIT = Twin(
    "ratelimit", _schema("user_id long, event_id long, us long"),
    _ratelimit_rows, _ratelimit_reference,
    build=lambda s: ratelimit.rate_limit_stream(s, RATE_QUOTA,
                                                RATE_WINDOW_US),
    key=_cols("user_id", "event_id"), value=_cols("allowed"),
    mergeable=False, once=True, check=_ratelimit_check,
    covers=(ratelimit.rate_limit_stream,), slow=frozenset({"restart"}))

MG_CAPACITY = 8


def _mg_reference(spark, batches):
    """Misra-Gries in Python: each shard's counters folded over its keys
    in arrival order (batch by batch, file order within a batch)."""
    from otel_arrow_collector_spark.operators.sketches import (MG_SHARDS,
                                                               mg_update)
    keys = sorted({k for _, k in _flat(batches)})
    shard = _keyed(spark.createDataFrame([(k,) for k in keys], "key string")
                   .select("key", F.pmod(F.xxhash64("key"), MG_SHARDS)
                           .alias("shard")), _cols("key"), _cols("shard"))
    state: dict = {}
    out = {}
    for batch in batches:
        for s in sorted({shard[k] for _, k in batch}):
            counters, n = state.get(s, ({}, 0))
            ks = [k for _, k in batch if shard[k] == s]
            mg_update(counters, ks, MG_CAPACITY)
            state[s] = (counters, n + len(ks))
            if counters:            # an empty summary emits no row
                out[s] = tuple(sorted((k, c, n + len(ks))
                                      for k, c in counters.items()))
    return out


def _mg_check(spark, d):
    # every true heavy key is a candidate; state is capped per shard
    for i in range(4):
        assert any(f"hh{i}" == k for s in d.final.values() for k, *_ in s)
    assert all(len(s) <= MG_CAPACITY for s in d.final.values())


HEAVY_HITTERS = Twin(
    "heavy_hitters", _schema("seq long, k string"),
    lambda _: [(i, f"hh{i % 4}" if i % 3 else f"one{i}")
               for i in range(600)],
    _mg_reference,
    build=lambda s: heavy_hitters.misra_gries_stream(s, "k", MG_CAPACITY),
    key=_cols("shard"), value=_cols("key", "lower_bound", "n_seen"),
    many=True, mergeable=False, check=_mg_check,
    covers=(heavy_hitters.misra_gries_stream,), slow=frozenset({"restart"}))


def _trigram_rows(spark):
    """(lang, trigram) rows through the batch derivation TRIGRAM_EXPR."""
    from otel_arrow_collector_spark.operators.text import TRIGRAM_EXPR
    return _tuples(load_table(spark, SF_SMALL, "documents")
                   .select("lang", F.expr("filter(split(text, ' '), "
                                          "x -> x <> '')").alias("a"))
                   .select("lang", F.explode(F.expr(TRIGRAM_EXPR))))


def _bloom_reference(_spark, batches):
    """The filter in Python: per batch and language, the sorted distinct
    trigrams each probe K bits and count as novel unless all are set."""
    bits: dict = {}
    out = {}
    for batch in batches:
        for lang in sorted({r[0] for r in batch}):
            lbits, n = bits.get(lang, (set(), 0))
            for tg in sorted({t for g, t in batch if g == lang}):
                pos = bloom_novelty.bloom_positions(tg)
                if not all(p in lbits for p in pos):
                    n += 1
                    lbits.update(pos)
            bits[lang] = (lbits, n)
            out[lang] = (n, len(lbits))
    return out


def _bloom_check(spark, d):
    """One-sided error: a false positive only suppresses novelty, by
    under 2% here; the fill stays far from the filter's capacity."""
    exact: dict = {}
    for lang, tg in feed(spark, BLOOM):
        exact.setdefault(lang, set()).add(tg)
    assert set(d.final) == set(exact)
    for lang, (est, fill) in d.final.items():
        n = len(exact[lang])
        assert est <= n and n - est <= max(2, n // 50)
        assert fill <= bloom_novelty.BLOOM_NOV_K * est
        assert fill < bloom_novelty.BLOOM_NOV_BITS // 4


BLOOM = Twin(
    "bloom", _schema("lang string, tg string"), _trigram_rows,
    _bloom_reference, build=bloom_novelty.bloom_novelty_stream,
    key=_cols("lang"), value=_cols("n_novel_est", "fill_bits"),
    mergeable=False, idempotent=True, check=_bloom_check,
    covers=(bloom_novelty.bloom_novelty_stream,), slow=frozenset({"restart"}))


def _asof_reference(_spark, batches):
    """The as-of join in Python: per batch and user, rows in (us, kind,
    event_id) order; a purchase matches the last signup seen so far, in
    this batch or an earlier one."""
    last: dict = {}
    out = {}
    for batch in batches:
        for eid, us, u, et, _v in sorted(
                (r for r in batch if r[3] in ("signup", "purchase")),
                key=lambda r: (r[1], r[3] != "signup", r[0])):
            if et == "signup":
                last[u] = (eid, us)
            elif u in last:
                out[eid] = (u, last[u][0], us - last[u][1])
    return out


ASOF = Twin(
    "asof", EVENTS, event_rows, _asof_reference,
    build=joins.asof_join_stream, mode="append", key=_cols("purchase_id"),
    value=_cols("user_id", "signup_id", "gap_us"), mergeable=False,
    covers=(joins.asof_join_stream,), slow=frozenset({"restart"}))


def _delta_rows(_spark):
    """Two int series and one double series of delta points, in time
    order."""
    return [r for k in range(9) for r in (
        ("requests", "|a", 1000 + k * 10, 1000, 2 + k, None, 1),
        ("requests", "|b", 1000 + k * 10, 1000, 100, None, 1),
        ("latency", "|a", 1000 + k * 10, 1000, None, 0.5 * k, 1))]


def _by_series(batch):
    series: dict = {}
    for r in batch:
        series.setdefault((r[0], r[1]), []).append(r)
    return {k: sorted(v, key=lambda r: r[2]) for k, v in series.items()}


def _cumulative_reference(_spark, batches):
    """Delta -> cumulative in Python: running sums per series across
    batches, points of a batch in time order; the start time is the
    first point's."""
    state: dict = {}
    out = {}
    for batch in batches:
        for k, pts in _by_series(batch).items():
            ci, cd, start = state.get(k, (0, 0.0, None))
            for _m, _fp, t, st, vi, vd, _agg in pts:
                start = st if start is None else start
                if vi is not None:
                    ci += vi
                    out[(*k, t)] = (start, ci, None)
                else:
                    cd += vd
                    out[(*k, t)] = (start, None, cd)
            state[k] = (ci, cd, start)
    return out


def _cumulative_check(spark, d):
    """Time-ordered arrival: every point equals the batch converter's,
    and the final totals are the series sums."""
    from otel_arrow_collector_spark.model.telemetry import METRIC_POINT_SCHEMA
    from otel_arrow_collector_spark.operators.metrics import (
        delta_to_cumulative)
    named = {"metric_name", "aggregation_temporality",
             "start_time_unix_nano", "time_unix_nano", "value_int",
             "value_double", "attributes", "resource_attributes",
             "description", "unit", "metric_type", "is_monotonic",
             "scope_name", "scope_version"}
    pad = frame(spark, temporality.POINT_SCHEMA,
                feed(spark, CUMULATIVE)).select(
        "metric_name", "aggregation_temporality", "start_time_unix_nano",
        "time_unix_nano", "value_int", "value_double",
        F.expr("map('fp', named_struct('s', series_fp, 'i', CAST(NULL AS "
               "BIGINT), 'd', CAST(NULL AS DOUBLE), 'b', CAST(NULL AS "
               "BOOLEAN), 'json', CAST(NULL AS STRING)))")
        .alias("attributes"),
        F.expr("map()").cast(METRIC_POINT_SCHEMA["resource_attributes"]
                             .dataType).alias("resource_attributes"),
        F.lit("").alias("description"), F.lit("").alias("unit"),
        F.lit(2).alias("metric_type"), F.lit(True).alias("is_monotonic"),
        F.lit("").alias("scope_name"), F.lit("").alias("scope_version"),
        *[F.lit(None).cast(f.dataType).alias(f.name)
          for f in METRIC_POINT_SCHEMA.fields if f.name not in named],
    ).to(METRIC_POINT_SCHEMA)
    batch = temporality.with_series_fp(delta_to_cumulative(pad))
    assert ({(m, t, vi, vd) for (m, _fp, t), (_s, vi, vd) in d.final.items()}
            == {(r.metric_name, r.time_unix_nano, r.value_int,
                 r.value_double) for r in batch.collect()})
    last = {k[:2]: v for k, v in sorted(d.final.items())}
    assert last[("requests", "|a")][1] == sum(2 + k for k in range(9))
    assert last[("requests", "|b")][1] == 900
    assert last[("latency", "|a")][2] == sum(0.5 * k for k in range(9))


CUMULATIVE = Twin(
    "cumulative", temporality.POINT_SCHEMA, _delta_rows,
    _cumulative_reference,
    build=temporality.delta_to_cumulative_stream, mode="append",
    key=_cols("metric_name", "series_fp", "time_unix_nano"),
    value=_cols("start_time_unix_nano", "value_int", "value_double"),
    mergeable=False, check=_cumulative_check,
    covers=(temporality.delta_to_cumulative_stream,))


def _counter_rows(_spark):
    """A rising counter with a reset at tick 4 and a steady one."""
    vals = [0, 10, 30, 60, 5, 25, 65, 125, 205]
    return [r for k in range(9) for r in (
        ("req_total", "|a", 10 ** 9 * (k + 1), 0, None, float(vals[k]), 2),
        ("req_total", "|b", 10 ** 9 * (k + 1), 0, None, 7.0 * k, 2))]


def _rate_reference(_spark, batches):
    """PromQL rate in Python against the previous point of the series;
    a drop is a reset, and a point not after the previous one gets no
    rate and does not move it."""
    state: dict = {}
    out = {}
    for batch in batches:
        for k, pts in _by_series(batch).items():
            last_t, last_v = state.get(k, (None, None))
            for _m, _fp, t, _st, vi, vd, _agg in pts:
                v = vd if vd is not None else float(vi)
                out[(*k, t)] = None
                if last_t is None or t > last_t:
                    if last_t is not None:
                        out[(*k, t)] = ((v if v < last_v else v - last_v)
                                        / ((t - last_t) / 1e9))
                    last_t, last_v = t, v
            state[k] = (last_t, last_v)
    return out


def _rate_check(spark, d):
    """Time-ordered arrival gives q40's lag-window rate, the reset tick
    reads the post-reset value, and the output schema is RATE_SCHEMA."""
    from pyspark.sql import Window
    df = frame(spark, temporality.POINT_SCHEMA, feed(spark, COUNTER_RATE))
    w = Window.partitionBy("metric_name", "series_fp").orderBy(
        "time_unix_nano")
    lv, lts = F.lag("value_double").over(w), F.lag("time_unix_nano").over(w)
    v, t = F.col("value_double"), F.col("time_unix_nano")
    rate = F.when(lts.isNotNull() & (t > lts),
                  F.when(v < lv, v).otherwise(v - lv) / ((t - lts) / 1e9))
    assert d.final == _keyed(
        df.select("metric_name", "series_fp", "time_unix_nano",
                  rate.alias("r")),
        _cols("metric_name", "series_fp", "time_unix_nano"), _cols("r"))
    assert d.final[("req_total", "|a", 5 * 10 ** 9)] == 5.0
    stream = source(spark, fresh_dir("schema"), temporality.POINT_SCHEMA)
    assert (temporality.counter_rate_stream(stream).schema
            == temporality.RATE_SCHEMA)


COUNTER_RATE = Twin(
    "counter_rate", temporality.POINT_SCHEMA, _counter_rows,
    _rate_reference, build=temporality.counter_rate_stream,
    mode="append", key=_cols("metric_name", "series_fp", "time_unix_nano"),
    value=_cols("rate_per_s"), mergeable=False, check=_rate_check,
    covers=(temporality.counter_rate_stream,))

_ATTR_FP = ("map('fp', named_struct('s', series_fp, 'i', CAST(NULL AS "
            "BIGINT), 'd', CAST(NULL AS DOUBLE), 'b', CAST(NULL AS "
            "BOOLEAN), 'json', CAST(NULL AS STRING))) AS attributes")
_NO_RESOURCE = ("CAST(map() AS MAP<STRING, STRUCT<s:STRING,i:BIGINT,"
                "d:DOUBLE,b:BOOLEAN,json:STRING>>) AS resource_attributes")


def _hist_rows(_spark):
    """Per-event one-hot points of two series crossing every bound."""
    def one_hot(v):
        return [int(v < 50), int(50 <= v < 100), int(100 <= v < 200),
                int(v >= 200)]
    return [r for k in range(9) for r in (
        ("latency_hist", "|a", 1000 + k, 1, 30.0 * k, [50.0, 100.0, 200.0],
         one_hot(30.0 * k)),
        ("latency_hist", "|b", 1000 + k, 1, 60.0 * k, [50.0, 100.0, 200.0],
         one_hot(60.0 * k)))]


def _hist_value(r):
    return (r.time_unix_nano, r["count"], r["sum"], list(r.explicit_bounds),
            list(r.bucket_counts))


def _hist_reference(spark, rows):
    """The batch operator behind q41/q42 (merge_histograms)."""
    from otel_arrow_collector_spark.operators.metrics import merge_histograms
    pts = frame(spark, temporality.HIST_POINT_SCHEMA, rows).selectExpr(
        "metric_name", "3 AS metric_type",
        "CAST(0 AS BIGINT) AS start_time_unix_nano", "time_unix_nano",
        _ATTR_FP, _NO_RESOURCE, "count", "sum",
        "CAST(NULL AS DOUBLE) AS min", "CAST(NULL AS DOUBLE) AS max",
        "explicit_bounds", "bucket_counts")
    return _keyed(merge_histograms(pts),
                  lambda r: (r.metric_name, r.attributes["fp"].s),
                  _hist_value)


def _hist_check(spark, d):
    """The generic HOF quantile over the merged snapshots equals q42's
    hand-rolled CASE."""
    from otel_arrow_collector_spark.operators.metrics import (
        histogram_quantile_col)
    from otel_arrow_collector_spark.operators.relational import _hq
    snaps = spark.createDataFrame(
        [(c, b, buckets) for _t, c, _s, b, buckets in d.final.values()],
        "count long, explicit_bounds array<double>, "
        "bucket_counts array<long>")
    cs = [f"CAST(element_at(bucket_counts, {i + 1}) AS DOUBLE)"
          for i in range(4)]
    for r in snaps.select(
            histogram_quantile_col(0.5, "bucket_counts", "explicit_bounds")
            .alias("hof"),
            F.expr(_hq("(0.5 * count)", cs)).alias("case_txt")).collect():
        assert abs(r.hof - r.case_txt) <= 1e-9 * max(1.0, abs(r.case_txt))


HISTOGRAM_MERGE = Twin(
    "histogram_merge", temporality.HIST_POINT_SCHEMA, _hist_rows,
    _hist_reference, build=temporality.histogram_merge_stream,
    mode="append", once=False, key=_cols("metric_name", "series_fp"),
    value=_hist_value,
    check=_hist_check, covers=(temporality.histogram_merge_stream,))


def _exphist_rows(_spark):
    """Series |a coarsens over time (scales 2, 1, 0): the later, coarser
    points downscale the state, on both sides of zero."""
    return [
        # series, ts, scale, zero, count, sum, pos off/buckets, neg
        ("m", "|a", 1, 2, 1, 4, 1.0, 4, [1, 2, 3], -2, [1, 1]),
        ("m", "|a", 2, 1, 1, 3, 2.0, 1, [5, 6], -1, [2]),
        ("m", "|a", 3, 0, 2, 5, 3.0, -1, [7, 8, 9], None, None),
        ("m", "|b", 1, 3, 0, 2, 4.0, 0, [1, 1], None, None)]


_EXPHIST_COLS = ("time_unix_nano", "scale", "zero_count", "count", "sum",
                 "positive_offset", "positive_bucket_counts",
                 "negative_offset", "negative_bucket_counts")


def _exphist_value(r):
    return tuple(list(r[c] or []) if c.endswith("counts") else r[c]
                 for c in _EXPHIST_COLS)


def _exphist_reference(spark, rows):
    """The batch operator behind q36 (merge_exp_histograms)."""
    from otel_arrow_collector_spark.operators.metrics import (
        merge_exp_histograms)
    pts = frame(spark, temporality.EXPHIST_POINT_SCHEMA, rows).selectExpr(
        "metric_name", "CAST(4 AS INT) AS metric_type",
        "CAST(0 AS BIGINT) AS start_time_unix_nano", "time_unix_nano",
        _ATTR_FP, _NO_RESOURCE, "scale", "zero_count", "count", "sum",
        "CAST(NULL AS DOUBLE) AS min", "CAST(NULL AS DOUBLE) AS max",
        "positive_offset", "positive_bucket_counts", "negative_offset",
        "negative_bucket_counts")
    return _keyed(merge_exp_histograms(pts),
                  lambda r: (r.metric_name, r.attributes["fp"].s),
                  _exphist_value)


def _exphist_check(spark, d):
    # |a ends at the coarsest scale seen; the negative side merged and
    # downscaled too (scale 2 off -2 [1,1] and scale 1 off -1 [2] are
    # index -1 at scale 0)
    a = dict(zip(_EXPHIST_COLS, d.final[("m", "|a")]))
    assert a["scale"] == 0 and a["negative_bucket_counts"] == [4]


EXP_HISTOGRAM_MERGE = Twin(
    "exp_histogram_merge", temporality.EXPHIST_POINT_SCHEMA,
    _exphist_rows, _exphist_reference,
    build=temporality.exp_histogram_merge_stream, mode="append",
    once=False, key=_cols("metric_name", "series_fp"),
    value=_exphist_value,
    check=_exphist_check, covers=(temporality.exp_histogram_merge_stream,))


# -- store-backed twins: their own runner ------------------------------------

def py_components(edges) -> dict:
    """Union-find labels: node -> the smallest node of its component."""
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for e in edges for n in e}


def _cc_rows(_spark):
    """40 random edges plus 12 of them again, shuffled."""
    rng = random.Random(23)
    edges = [(rng.randint(0, 30), rng.randint(0, 30)) for _ in range(40)]
    feed_ = edges + rng.sample(edges, k=12)
    rng.shuffle(feed_)
    return feed_


def _cc_run(spark, stream, emit, ckpt):
    store = _stores(ckpt, lambda: incr_cc.IncrementalCCStore(spark))
    return incr_cc.run_cc_stream(spark, stream, store, emit,
                                 checkpoint=ckpt)


def _cc_check(spark, d):
    """The store holds the replayed labels, which are the one-shot batch
    closure's, and the run was incremental."""
    store = _stores(d.ckpt, None)
    assert {r.node: r.cluster_id for r in store.labels().collect()} \
        == d.final
    assert d.final == _keyed(dedup.connected_components(
        frame(spark, INCR_CC.schema, feed(spark, INCR_CC))),
        _cols("node"), _cols("cluster_id"))
    assert len(d.batches) >= 2


INCR_CC = Twin(
    "incr_cc", _schema("d1 long, d2 long"), _cc_rows,
    lambda _spark, rows: py_components(rows), run=_cc_run,
    key=_cols("node"), value=_cols("cluster_id"), idempotent=True,
    check=_cc_check, covers=(incr_cc.run_cc_stream,),
    slow=frozenset({"restart", "redelivery"}))


def _shard_docs(spark, shard: bool) -> DataFrame:
    docs = dedup.load_table(spark, SF_SMALL, "documents")
    pred = F.expr(dedup._SPARK_SHARD)
    return docs.filter(pred if shard else ~pred).select("doc_id", "text")


def _prefix_run(spark, stream, emit, ckpt):
    store = _stores(ckpt, lambda: incr_prefix.FrozenPrefixStore(
        spark, _shard_docs(spark, False)))
    return incr_prefix.run_prefix_dedup_stream(spark, stream, store, emit,
                                               checkpoint=ckpt)


def _prefix_reference(spark, _rows):
    """The exact all-pairs join over the whole corpus, restricted to
    pairs touching the shard (its cap must not bind at this scale)."""
    m, rem = dedup.INCR_SHARD_MOD, dedup.INCR_SHARD_REM
    rows = dedup.dedup_allpairs_prefix(spark, SF_SMALL).collect()
    assert len(rows) < 500
    return {(r.d1, r.d2): (r.n_common, r.jaccard) for r in rows
            if r.d1 % m == rem or r.d2 % m == rem}


INCR_PREFIX = Twin(
    "incr_prefix", DOCS,
    lambda spark: _tuples(_shard_docs(spark, True)),
    _prefix_reference, run=_prefix_run, key=_cols("d1", "d2"),
    value=lambda r: (r.n_common, round(r.j, 4)), idempotent=True,
    covers=(incr_prefix.run_prefix_dedup_stream,),
    slow=frozenset({"split1", "restart", "redelivery"}))

MV_COLS = ("l_orderkey", "l_returnflag", "l_linestatus", "l_extendedprice",
           "l_quantity")
MV_SCHEMA = _schema("l_orderkey long, l_returnflag string, "
                    "l_linestatus string, l_extendedprice double, "
                    "l_quantity double")


def _mv_run(spark, stream, _emit, ckpt):
    """maintain_mv runs without a trigger limit: drain what is there,
    then stop."""
    q = mv_merge.maintain_mv(stream, ckpt + "-store", ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def mv_view(df: DataFrame) -> dict:
    return _keyed(df, _cols("l_returnflag", "l_linestatus"),
                  _cols("cnt", "sum_cents", "min_qty", "max_qty"))


def _mv_check(spark, d):
    """Every committed version equals the recompute over the files
    delivered up to it; a replayed batch id is a no-op even with other
    content; an empty delta commits an equal version."""
    m = mv_merge.MVMaintainer(spark, shutil.copytree(
        d.ckpt + "-store", fresh_dir("mv-store"), dirs_exist_ok=True))
    ids = m.committed_ids()
    assert len(ids) == len(d.files)
    for i, bid in enumerate(ids):
        delivered = spark.read.schema(MV_SCHEMA).parquet(*d.files[:i + 1])
        assert mv_view(m.view_at(bid)) == mv_view(
            mv_merge.delta_partials(delivered)), f"version {bid}"
    m.merge_batch(frame(spark, MV_SCHEMA, [(1, "X", "X", 1.0, 1.0)]),
                  ids[-1])
    assert mv_view(m.current()) == d.final and m.committed_ids() == ids
    m.merge_batch(frame(spark, MV_SCHEMA, []), ids[-1] + 1)
    assert mv_view(m.current()) == d.final
    assert m.committed_ids() == ids + [ids[-1] + 1]


MV = Twin(
    "mv", MV_SCHEMA,
    lambda spark: _tuples(load_table(spark, SF_SMALL, "lineitem")
                          .select(*MV_COLS)),
    lambda spark, rows: mv_view(mv_merge.delta_partials(
        frame(spark, MV_SCHEMA, rows))),
    run=_mv_run,
    final=lambda _batches, ckpt: mv_view(mv_merge.MVMaintainer(
        SparkSession.getActiveSession(), ckpt + "-store").current()),
    check=_mv_check, covers=(mv_merge.maintain_mv,))


TWINS: dict[str, Twin] = {t.name: t for t in (
    HHI, QUANTILES, CHANGEPOINT, SEASONAL, STREAKS, THETA, WEIGHTED_SAMPLE,
    BOOTSTRAP, CDC, HLL, CMS, FUNNEL, INTERVAL_UNION, INCR_DEDUP, EWMA, SLO,
    SESSIONS, WINDOWED_COUNTS, SESSIONIZED, HOPPING, DEDUP, INTERVAL_JOIN,
    ENRICH, TAIL_SAMPLING, RATELIMIT, HEAVY_HITTERS, BLOOM, ASOF,
    CUMULATIVE, COUNTER_RATE, HISTOGRAM_MERGE, EXP_HISTOGRAM_MERGE, INCR_CC,
    INCR_PREFIX, MV)}


def assert_twin(spark: SparkSession, name: str, *props: str) -> None:
    """Run some of one spec's cases (for a test kept under its own
    name; the memoised drains make it free next to the harness)."""
    for p in props:
        PROPERTIES[p](spark, TWINS[name])


