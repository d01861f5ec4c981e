"""Heavy-hitter detection: Misra-Gries summaries + exact recount.

The standard two-phase distributed heavy-hitter plan a telemetry or
corpus pipeline runs when the key space is too large to count exactly
(hot endpoints, hot tenants, dominant n-grams):

1. **Sketch phase** — per shard, a Misra-Gries summary with bounded
   capacity ``c`` (Misra & Gries 1982; the deterministic counter-based
   frequent-items sketch).  MG guarantees every key with true count
   > n/(c+1) survives in the summary, and each stored counter is a lower
   bound within n/(c+1) of the true count.  State is c counters per
   shard — independent of the key cardinality, the property that matters
   at 100 TB.
2. **Recount phase** — the (tiny) candidate set is broadcast back over
   the data for exact counts, and the phi-threshold filter runs on those
   exact counts.  Because phase 1 provably retains every true heavy
   hitter (phi > 1/(c+1)), the final answer is EXACT and deterministic
   even though the intermediate summary is arrival-order dependent —
   which is what makes the operator oracle-checkable against a plain
   GROUP BY in DuckDB.

A streaming twin (`streaming/heavy_hitters.py`) keeps the same MG state
across micro-batches via ``applyInPandasWithState``.

Reference analogue: the reference keeps per-key counters for its
telemetry matrix (obsreport) but has no bounded-state sketch; this is an
engine-added scale operator (driver north star).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField, StructType)

from ..sources.tables import load_table

QUERIES: dict = {}
ORACLES: dict = {}

#: Misra-Gries summary capacity per shard.
MG_CAPACITY = 64
#: Number of hash shards for the sketch phase.
MG_SHARDS = 8

SUMMARY_SCHEMA = StructType([
    StructField("shard", LongType()),
    StructField("key", StringType()),
    StructField("lower_bound", LongType()),
])


def mg_update(counters: dict, keys, capacity: int) -> dict:
    """Misra-Gries update loop over an iterable of keys (shared by the
    batch and streaming operators)."""
    for k in keys:
        if k in counters:
            counters[k] += 1
        elif len(counters) < capacity:
            counters[k] = 1
        else:                       # decrement-all step
            drop = [c for c, v in counters.items() if v == 1]
            for c in counters:
                counters[c] -= 1
            for c in drop:
                del counters[c]
    return counters


def misra_gries_partial(df: DataFrame, key_col: str,
                        capacity: int = MG_CAPACITY,
                        shards: int = MG_SHARDS) -> DataFrame:
    """Phase 1: per-shard MG summaries.  Keys hash-partition into shards
    (all occurrences of a key land in ONE shard), so a key with global
    count > n/(capacity+1) certainly survives its shard's summary."""
    keyed = df.select(F.col(key_col).cast("string").alias("key")) \
              .withColumn("shard", F.pmod(F.xxhash64("key"), shards))

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Arrow batching may split one shard across several pandas
        # chunks, yielding SEVERAL capacity-bounded summaries per shard.
        # The candidate-superset guarantee survives: a key with global
        # density > 1/(capacity+1) has, by pigeonhole, at least one
        # chunk where its local density exceeds 1/(capacity+1), and MG
        # retains it there — so the union of chunk summaries still
        # contains every true heavy hitter (mergeable-summaries
        # argument; the recount phase then restores exactness).
        for pdf in pdfs:
            for shard, grp in pdf.groupby("shard"):
                counters = mg_update({}, grp["key"], capacity)
                yield pd.DataFrame({
                    "shard": int(shard),
                    "key": list(counters.keys()),
                    "lower_bound": list(counters.values())})

    # one pandas group per shard: repartition so each shard is contiguous
    return (keyed.repartition(shards, "shard")
                 .mapInPandas(run, SUMMARY_SCHEMA))


def heavy_hitters(df: DataFrame, key_col: str, phi_denom: int,
                  capacity: int = MG_CAPACITY,
                  n_total: int | None = None) -> DataFrame:
    """Exact heavy hitters via sketch + recount: keys whose count exceeds
    n/phi_denom.  Requires phi_denom <= capacity (else a true heavy
    hitter could be evicted).  Returns (key, cnt) with exact counts.
    ``n_total`` lets a caller supply the (memoized) stream size instead
    of paying a count() job per plan build."""
    if phi_denom > capacity:
        raise ValueError(
            f"phi_denom {phi_denom} needs capacity >= it, got {capacity}")
    cands = (misra_gries_partial(df, key_col, capacity)
             .select("key").distinct())
    keyed = df.select(F.col(key_col).cast("string").alias("key"))
    exact = (keyed.join(cands, "key", "left_semi")
                  .groupBy("key")
                  .agg(F.count(F.lit(1)).alias("cnt")))
    n = keyed.count() if n_total is None else n_total
    return (exact.filter(F.col("cnt") > n / phi_denom)
                 .orderBy(F.col("cnt").desc(), "key"))


def heavy_hitter_events(spark, sf_dir):
    """Declared query: event types busier than n/8 of the stream — the
    hot-signal detector.  The MG candidate phase is provably a superset
    of the true answer, the recount is exact, so a plain GROUP BY +
    HAVING is a complete oracle."""
    from .cache_registry import cached
    events = load_table(spark, sf_dir, "events")
    # the stream size is a memoized scalar (model-parameter precedent)
    n = cached("sketches.hh_n_events", spark, sf_dir,
               lambda: events.count())
    return heavy_hitters(events, "event_type", phi_denom=8, n_total=n)


QUERIES["heavy_hitter_events"] = heavy_hitter_events
ORACLES["heavy_hitter_events"] = """
WITH n AS (SELECT COUNT(*) AS n FROM events)
SELECT event_type AS key, CAST(COUNT(*) AS BIGINT) AS cnt
FROM events, n
GROUP BY event_type, n.n
HAVING COUNT(*) > n.n / 8.0
ORDER BY cnt DESC, key
"""


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (deterministic, md5-keyed)
# ---------------------------------------------------------------------------
#
# The mergeable distinct-count sketch every 100 TB pipeline runs instead of
# COUNT(DISTINCT) when the key space is huge and the answer only needs ~2 %
# accuracy (Flajolet et al. 2007, "HyperLogLog: the analysis of a
# near-optimal cardinality estimation algorithm").  The 256-register state
# is a per-partition accumulator merged with MAX — a map-side-combinable
# aggregation whose shuffle is 256 rows regardless of input size.
#
# Everything below is INTEGER-exact so the DuckDB oracle can re-derive the
# sketch bit for bit: the hash is md5 (identical in both engines), the
# register index is the first two hex chars, the rank (rho) is counted from
# the hex string directly, and the raw estimate uses a scaled integer
# harmonic mean (alpha_256 as the fraction 718273/10^6, numerators held in
# decimal(38,0)/HUGEINT).  The classic small-range linear-counting branch
# needs a natural log, so instead of baking a float into the gate the query
# REPORTS the zero-register count V alongside the raw estimate: estimate
# consumers apply m*ln(m/V) when V > 0, exactly as Flajolet Fig. 3 says.
#
# Reference analogue: none — the reference counts its telemetry exactly
# (obsreport); this is an engine-added scale operator (driver north star).

#: 2^8 registers -> standard error 1.04/sqrt(256) ~ 6.5 %.
HLL_P = 8
HLL_M = 1 << HLL_P
#: rho cap so 2^(cap - rho) sums stay far inside int64.
HLL_RHO_CAP = 41
#: alpha_256 = 0.7213/(1 + 1.079/256) as an exact fraction.
HLL_ALPHA_NUM = 718273
HLL_ALPHA_DEN = 1_000_000

_HEX = "0123456789abcdef"


def _hll_bucket_rho(df: DataFrame, key_col, keep: tuple = ()) -> DataFrame:
    """(bucket, rho) per input row, derived purely from md5 hex text so
    the SQL oracle can reproduce it character for character.  ``keep``
    names extra columns carried through unchanged (side tags for
    multi-sketch single-pass builds)."""
    h = F.md5(F.col(key_col).cast("string"))
    df = df.select(h.alias("h"), *[F.col(c) for c in keep])
    df = df.withColumn("bucket",
                       F.expr(f"(instr('{_HEX}', substring(h, 1, 1)) - 1) * 16"
                              f" + (instr('{_HEX}', substring(h, 2, 1)) - 1)"))
    df = df.withColumn("tail", F.substring("h", 3, 30))
    df = df.withColumn("nz", F.length(F.regexp_extract("tail", "^0*", 0)))
    df = df.withColumn(
        "v", F.expr(f"CASE WHEN nz >= 30 THEN 0 ELSE "
                    f"instr('{_HEX}', substring(tail, nz + 1, 1)) - 1 END"))
    df = df.withColumn(
        "rho", F.expr(f"CASE WHEN nz >= 30 THEN {HLL_RHO_CAP} ELSE "
                      f"least(4 * nz + (CASE WHEN v >= 8 THEN 0 "
                      f"WHEN v >= 4 THEN 1 WHEN v >= 2 THEN 2 ELSE 3 END) + 1,"
                      f" {HLL_RHO_CAP}) END"))
    return df.select(F.col("bucket").cast("long").alias("bucket"),
                     F.col("rho").cast("long").alias("rho"),
                     *[F.col(c) for c in keep])


def _hll_register_agg(df: DataFrame, key_col: str) -> DataFrame:
    """MAX(rho) per touched register, unordered: the aggregate the
    streaming twin runs in update mode."""
    return (_hll_bucket_rho(df, key_col)
            .groupBy("bucket").agg(F.max("rho").alias("max_rho")))


def hll_registers(df: DataFrame, key_col: str) -> DataFrame:
    """The sketch state itself: MAX(rho) per touched register.  This is
    the thing a pipeline persists and merges across shards/days; merging
    two sketches is a UNION ALL + the same MAX."""
    return _hll_register_agg(df, key_col).orderBy("bucket")


def sketch_hll_registers(spark, sf_dir):
    """Declared query: the 256-register HLL state over events.user_id.
    (Stays a direct one-pass map-side-combinable aggregate — its only
    exchange is <= 256 register rows, already the 100 TB shape.)"""
    events = load_table(spark, sf_dir, "events")
    return hll_registers(events, "user_id")


def sketch_hll_estimate(spark, sf_dir):
    """Declared query: scaled-integer HLL raw estimate vs the exact
    distinct count of events.user_id, plus the zero-register count V the
    small-range (linear counting) branch would consume.  err_permille is
    the integer |est - exact| * 1000 // exact.

    Single-pass form (r15): the distinct-user relation (off the
    memoized (type, user) substrate) feeds BOTH the register build (MAX
    over distinct users == MAX over events) and the exact audit (a row
    count instead of a second full-events countDistinct pass)."""
    users = (_dist_type_user(spark, sf_dir)
             .select("user_id").distinct())
    regs = hll_registers(users, "user_id")
    full = (spark.range(HLL_M)
            .select(F.col("id").alias("bucket"))
            .join(regs, "bucket", "left")
            .select(F.coalesce("max_rho", F.lit(0)).alias("m_rho")))
    agg = full.agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                     f"CAST({HLL_RHO_CAP} - m_rho AS INT))")).alias("s"),
        F.sum(F.when(F.col("m_rho") == 0, 1).otherwise(0))
         .alias("zero_registers"))
    num = (F.lit(HLL_ALPHA_NUM).cast("decimal(38,0)")
           * F.lit(HLL_M * HLL_M) * F.lit(1 << HLL_RHO_CAP))
    den = (F.lit(HLL_ALPHA_DEN).cast("decimal(38,0)") * F.col("s"))
    est = agg.select(
        F.floor(num / den).cast("long").alias("est_raw"),
        F.col("zero_registers").cast("long").alias("zero_registers"))
    exact = users.agg(
        F.count(F.lit(1)).cast("long").alias("exact_distinct"))
    return (est.crossJoin(exact)
            .select("est_raw", "zero_registers", "exact_distinct",
                    F.expr("abs(est_raw - exact_distinct) * 1000"
                           " div exact_distinct")
                    .cast("long").alias("err_permille")))


def _hll_rows_sql(source: str = "events") -> str:
    """The (bucket, rho) row derivation as DuckDB SQL, parameterized by
    the source relation/subquery so multi-relation sketches (union /
    intersection estimates) reuse the identical hash recipe."""
    return f"""
  SELECT (instr('{_HEX}', substr(h, 1, 1)) - 1) * 16
         + (instr('{_HEX}', substr(h, 2, 1)) - 1) AS bucket,
         CASE WHEN nz >= 30 THEN {HLL_RHO_CAP} ELSE
           least(4 * nz + (CASE WHEN v >= 8 THEN 0 WHEN v >= 4 THEN 1
                           WHEN v >= 2 THEN 2 ELSE 3 END) + 1,
                 {HLL_RHO_CAP}) END AS rho
  FROM (
    SELECT h, nz,
           CASE WHEN nz >= 30 THEN 0
                ELSE instr('{_HEX}', substr(tail, nz + 1, 1)) - 1 END AS v
    FROM (
      SELECT h, substr(h, 3, 30) AS tail,
             length(regexp_extract(substr(h, 3, 30), '^0*', 0)) AS nz
      FROM (SELECT md5(CAST(user_id AS VARCHAR)) AS h FROM {source})))
"""


_HLL_ROWS_SQL = _hll_rows_sql("events")

QUERIES["sketch_hll_registers"] = sketch_hll_registers
ORACLES["sketch_hll_registers"] = f"""
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(MAX(rho) AS BIGINT) AS max_rho
FROM ({_HLL_ROWS_SQL})
GROUP BY bucket ORDER BY bucket
"""

QUERIES["sketch_hll_estimate"] = sketch_hll_estimate
ORACLES["sketch_hll_estimate"] = f"""
WITH regs AS (
  SELECT bucket, MAX(rho) AS max_rho
  FROM ({_HLL_ROWS_SQL}) GROUP BY bucket
),
allregs AS (
  SELECT g.i AS bucket, COALESCE(r.max_rho, 0) AS m_rho
  FROM generate_series(0, {HLL_M - 1}) AS g(i)
  LEFT JOIN regs r ON r.bucket = g.i
),
agg AS (
  SELECT SUM(CAST(1 AS BIGINT) << ({HLL_RHO_CAP} - m_rho)) AS s,
         SUM(CASE WHEN m_rho = 0 THEN 1 ELSE 0 END) AS zero_registers
  FROM allregs
),
exact AS (
  SELECT COUNT(DISTINCT user_id) AS exact_distinct FROM events
)
SELECT
  CAST((CAST({HLL_ALPHA_NUM} AS HUGEINT) * {HLL_M * HLL_M}
        * CAST({1 << HLL_RHO_CAP} AS HUGEINT))
       // (CAST({HLL_ALPHA_DEN} AS HUGEINT) * s) AS BIGINT) AS est_raw,
  CAST(zero_registers AS BIGINT) AS zero_registers,
  CAST(exact_distinct AS BIGINT) AS exact_distinct,
  CAST(abs((CAST({HLL_ALPHA_NUM} AS HUGEINT) * {HLL_M * HLL_M}
            * CAST({1 << HLL_RHO_CAP} AS HUGEINT))
           // (CAST({HLL_ALPHA_DEN} AS HUGEINT) * s) - exact_distinct)
       * 1000 // exact_distinct AS BIGINT) AS err_permille
FROM agg, exact
"""


def _hll_estimate_df(regs: DataFrame, out: str) -> DataFrame:
    """1-row raw-estimate DataFrame from an HLL register state — the
    same scaled-integer harmonic mean as sketch_hll_estimate, reused
    for merged (union) sketches."""
    spark = regs.sparkSession
    full = (spark.range(HLL_M).select(F.col("id").alias("bucket"))
            .join(regs, "bucket", "left")
            .select(F.coalesce("max_rho", F.lit(0)).alias("m_rho")))
    agg = full.agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                     f"CAST({HLL_RHO_CAP} - m_rho AS INT))")).alias("s"))
    num = (F.lit(HLL_ALPHA_NUM).cast("decimal(38,0)")
           * F.lit(HLL_M * HLL_M) * F.lit(1 << HLL_RHO_CAP))
    den = (F.lit(HLL_ALPHA_DEN).cast("decimal(38,0)") * F.col("s"))
    return agg.select(F.floor(num / den).cast("long").alias(out))


def sketch_hll_union(spark, sf_dir):
    """Declared query: set-union and set-intersection cardinality of
    two relations from their HLL register states alone — the property
    that makes the sketch a cross-corpus tool: registers merge by
    register-wise MAX (union-of-sets == max-of-sketches, exactly), and
    the intersection falls out by inclusion-exclusion
    est_a + est_b - est_union (clamped at 0; one-sided error is NOT
    preserved, which is why the exact audit rides along).

    Relations: events split by event_id parity (the cms_join_size
    fixture), distinct user_id as the counted set.  A side's sketch is
    256 integers — at 100 TB the union estimate costs two register
    merges, never a re-scan of either relation.  Exact audit: one
    grouped both-parities pass for the intersection, COUNT(DISTINCT)
    for the union (A∪B = all users here, since every user has some
    event of one parity).

    Single-pass form (r15): ONE scan of events builds the per-user
    parity membership (the distinct-user relation), the md5/rho
    derivation runs once per USER (the hash depends only on user_id, so
    a side's register MAX over events equals the MAX over its member
    users), and all three register states fall out of one 256-group
    aggregation with side-tagged MAXes — register-wise identical to the
    two-sketch build, so every estimate integer is bit-equal.  The
    exact audit reads the same per-user relation.  Was: four scans of
    events, two full-relation md5 passes, six independent aggregation
    pipelines cross-joined."""
    events = load_table(spark, sf_dir, "events")
    both = (events.groupBy("user_id")
            .agg(F.max(((F.col("event_id") % 2) == 0).cast("int"))
                 .alias("in_a"),
                 F.max(((F.col("event_id") % 2) == 1).cast("int"))
                 .alias("in_b")))
    regs = (_hll_bucket_rho(both, "user_id", keep=("in_a", "in_b"))
            .groupBy("bucket")
            .agg(F.max(F.when(F.col("in_a") == 1, F.col("rho")))
                 .alias("ra"),
                 F.max(F.when(F.col("in_b") == 1, F.col("rho")))
                 .alias("rb")))
    full = (spark.range(HLL_M).select(F.col("id").alias("bucket"))
            .join(regs, "bucket", "left")
            .select(F.coalesce("ra", F.lit(0)).alias("ma"),
                    F.coalesce("rb", F.lit(0)).alias("mb"),
                    F.coalesce(F.greatest("ra", "rb"), F.lit(0))
                    .alias("mu")))
    shl = (f"shiftleft(CAST(1 AS BIGINT), "
           f"CAST({HLL_RHO_CAP} - {{m}} AS INT))")
    agg = full.agg(
        F.sum(F.expr(shl.format(m="ma"))).alias("sa"),
        F.sum(F.expr(shl.format(m="mb"))).alias("sb"),
        F.sum(F.expr(shl.format(m="mu"))).alias("su"))
    num = (F.lit(HLL_ALPHA_NUM).cast("decimal(38,0)")
           * F.lit(HLL_M * HLL_M) * F.lit(1 << HLL_RHO_CAP))
    den = F.lit(HLL_ALPHA_DEN).cast("decimal(38,0)")
    est = agg.select(
        F.floor(num / (den * F.col("sa"))).cast("long").alias("est_a"),
        F.floor(num / (den * F.col("sb"))).cast("long").alias("est_b"),
        F.floor(num / (den * F.col("su"))).cast("long")
        .alias("est_union"))
    exact = both.agg(
        F.count(F.lit(1)).cast("long").alias("exact_union"),
        F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("int"))
        .cast("long").alias("exact_intersection"))
    return (est.crossJoin(exact)
            .select("est_a", "est_b", "est_union",
                    F.greatest(F.lit(0), F.col("est_a") + F.col("est_b")
                               - F.col("est_union")).cast("long")
                    .alias("est_intersection"),
                    "exact_union", "exact_intersection",
                    F.expr("abs(est_union - exact_union) * 1000"
                           " div exact_union").cast("long")
                    .alias("err_permille_union")))


QUERIES["sketch_hll_union"] = sketch_hll_union

_HLL_EST_SQL = (f"CAST((CAST({HLL_ALPHA_NUM} AS HUGEINT) * {HLL_M * HLL_M}"
                f" * CAST({1 << HLL_RHO_CAP} AS HUGEINT))"
                f" // (CAST({HLL_ALPHA_DEN} AS HUGEINT) * {{s}})"
                f" AS BIGINT)")

ORACLES["sketch_hll_union"] = f"""
WITH regs_a AS (
  SELECT bucket, MAX(rho) AS max_rho
  FROM ({_hll_rows_sql("(SELECT user_id FROM events"
                       " WHERE event_id % 2 = 0)")}) GROUP BY bucket),
regs_b AS (
  SELECT bucket, MAX(rho) AS max_rho
  FROM ({_hll_rows_sql("(SELECT user_id FROM events"
                       " WHERE event_id % 2 = 1)")}) GROUP BY bucket),
regs_u AS (
  SELECT bucket, MAX(max_rho) AS max_rho FROM (
    SELECT * FROM regs_a UNION ALL SELECT * FROM regs_b)
  GROUP BY bucket),
s_a AS (
  SELECT SUM(CAST(1 AS BIGINT) << ({HLL_RHO_CAP}
             - COALESCE(r.max_rho, 0))) AS s
  FROM generate_series(0, {HLL_M - 1}) AS g(i)
  LEFT JOIN regs_a r ON r.bucket = g.i),
s_b AS (
  SELECT SUM(CAST(1 AS BIGINT) << ({HLL_RHO_CAP}
             - COALESCE(r.max_rho, 0))) AS s
  FROM generate_series(0, {HLL_M - 1}) AS g(i)
  LEFT JOIN regs_b r ON r.bucket = g.i),
s_u AS (
  SELECT SUM(CAST(1 AS BIGINT) << ({HLL_RHO_CAP}
             - COALESCE(r.max_rho, 0))) AS s
  FROM generate_series(0, {HLL_M - 1}) AS g(i)
  LEFT JOIN regs_u r ON r.bucket = g.i),
est AS (
  SELECT {_HLL_EST_SQL.format(s="a.s")} AS est_a,
         {_HLL_EST_SQL.format(s="b.s")} AS est_b,
         {_HLL_EST_SQL.format(s="u.s")} AS est_union
  FROM s_a a, s_b b, s_u u),
exact_u AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_union
  FROM events),
exact_i AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection FROM (
    SELECT user_id FROM events GROUP BY user_id
    HAVING MAX(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) = 1
       AND MAX(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) = 1))
SELECT est_a, est_b, est_union,
       CAST(greatest(0, est_a + est_b - est_union) AS BIGINT)
         AS est_intersection,
       exact_union, exact_intersection,
       CAST(abs(est_union - exact_union) * 1000 // exact_union
            AS BIGINT) AS err_permille_union
FROM est, exact_u, exact_i
"""


# ---------------------------------------------------------------------------
# Count-min sketch (deterministic, md5-keyed)
# ---------------------------------------------------------------------------
#
# The other workhorse frequency sketch (Cormode & Muthukrishnan 2005): a
# d x w counter matrix where each key increments one cell per row, and a
# point query reads the MIN over its d cells — always an OVERestimate,
# within eps*n with probability 1-delta for w = e/eps, d = ln(1/delta).
# Like the HLL above it is built as a single map-side-combinable
# aggregation (explode to d cells, GROUP BY cell), so the shuffle is at
# most d*w rows regardless of input size, and the whole construction is
# integer-exact and md5-derived so DuckDB re-derives it bit for bit.

CMS_DEPTH = 4
CMS_WIDTH = 256          # 2 hex chars of md5("<row>:<key>")


def _cms_col_expr(row: int, key_sql: str) -> str:
    """SQL text (valid in both Spark SQL and DuckDB once substr/substring
    is chosen) for the column index of ``key`` in sketch row ``row``."""
    h = f"md5(CAST({row} AS STRING) || ':' || {key_sql})"
    return (f"(instr('{_HEX}', substring({h}, 1, 1)) - 1) * 16"
            f" + (instr('{_HEX}', substring({h}, 2, 1)) - 1)")


def cms_counters(df: DataFrame, key_col: str) -> DataFrame:
    """The sketch state: non-empty (row_id, col, cnt) cells."""
    keyed = df.select(F.col(key_col).cast("string").alias("key"))
    cells = keyed.select(F.explode(F.array(*[
        F.struct(F.lit(i).alias("row_id"),
                 F.expr(_cms_col_expr(i, "key")).alias("col"))
        for i in range(CMS_DEPTH)])).alias("cell"))
    return (cells.select("cell.row_id", "cell.col")
            .groupBy("row_id", "col")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("row_id").cast("long").alias("row_id"),
                    F.col("col").cast("long").alias("col"),
                    F.col("cnt").cast("long").alias("cnt")))


def sketch_cms_counters(spark, sf_dir):
    """Declared query: the CMS state over events.user_id."""
    return (cms_counters(load_table(spark, sf_dir, "events"), "user_id")
            .orderBy("row_id", "col"))


def sketch_cms_point(spark, sf_dir):
    """Declared query: CMS point estimates vs exact counts for the 20
    busiest users.  overcount = est - exact >= 0 always (one-sided CMS
    error); with thousands of users hashed into 256 columns the
    collisions are real, so a wrong hash, width, or min shows up as a
    value mismatch, not just a zero column."""
    events = load_table(spark, sf_dir, "events")
    counters = cms_counters(events, "user_id")
    exact = (events.select(F.col("user_id").cast("string").alias("key"))
             .groupBy("key").agg(F.count(F.lit(1)).alias("exact_cnt"))
             .orderBy(F.col("exact_cnt").desc(), "key").limit(20))
    probes = exact.select("key", "exact_cnt", F.explode(F.array(*[
        F.struct(F.lit(i).alias("row_id"),
                 F.expr(_cms_col_expr(i, "key")).alias("col"))
        for i in range(CMS_DEPTH)])).alias("cell")) \
        .select("key", "exact_cnt", "cell.row_id", "cell.col")
    est = (probes.join(F.broadcast(counters), ["row_id", "col"])
           .groupBy("key", "exact_cnt")
           .agg(F.min("cnt").alias("est_cnt")))
    return (est.select("key",
                       F.col("est_cnt").cast("long").alias("est_cnt"),
                       F.col("exact_cnt").cast("long").alias("exact_cnt"),
                       (F.col("est_cnt") - F.col("exact_cnt"))
                       .cast("long").alias("overcount"))
            .orderBy(F.col("exact_cnt").desc(), "key"))


def _cms_cells_sql() -> str:
    """DuckDB: one SELECT per sketch row, unioned (substr spelling)."""
    parts = []
    for i in range(CMS_DEPTH):
        h = f"md5(CAST({i} AS VARCHAR) || ':' || key)"
        col = (f"(instr('{_HEX}', substr({h}, 1, 1)) - 1) * 16"
               f" + (instr('{_HEX}', substr({h}, 2, 1)) - 1)")
        parts.append(f"SELECT key, {i} AS row_id, {col} AS col FROM keyed")
    return " UNION ALL ".join(parts)


ORACLES["sketch_cms_counters"] = f"""
WITH keyed AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
cells AS ({_cms_cells_sql()})
SELECT CAST(row_id AS BIGINT) AS row_id, CAST(col AS BIGINT) AS col,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM cells GROUP BY row_id, col ORDER BY row_id, col
"""
QUERIES["sketch_cms_counters"] = sketch_cms_counters

ORACLES["sketch_cms_point"] = f"""
WITH keyed AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
cells AS ({_cms_cells_sql()}),
counters AS (
  SELECT row_id, col, COUNT(*) AS cnt FROM cells GROUP BY row_id, col
),
exact AS (
  SELECT key, COUNT(*) AS exact_cnt FROM keyed
  GROUP BY key ORDER BY exact_cnt DESC, key LIMIT 20
),
probes AS ({" UNION ALL ".join(
    f"SELECT key, exact_cnt, {i} AS row_id, " + (
        lambda h: f"(instr('{_HEX}', substr({h}, 1, 1)) - 1) * 16"
                  f" + (instr('{_HEX}', substr({h}, 2, 1)) - 1)")(
        f"md5(CAST({i} AS VARCHAR) || ':' || key)") + " AS col FROM exact"
    for i in range(CMS_DEPTH))}),
est AS (
  SELECT p.key, p.exact_cnt, MIN(c.cnt) AS est_cnt
  FROM probes p JOIN counters c ON p.row_id = c.row_id AND p.col = c.col
  GROUP BY p.key, p.exact_cnt
)
SELECT key, CAST(est_cnt AS BIGINT) AS est_cnt,
       CAST(exact_cnt AS BIGINT) AS exact_cnt,
       CAST(est_cnt - exact_cnt AS BIGINT) AS overcount
FROM est ORDER BY exact_cnt DESC, key
"""
QUERIES["sketch_cms_point"] = sketch_cms_point


def sketch_hll_by_group(spark, sf_dir):
    """Declared query: per-event-type HLL distinct-user estimates — the
    sketch as a GROUP-LEVEL mergeable aggregate (the way a 100 TB
    pipeline stores per-tenant/per-day distinct counts: 256 small ints
    per group, mergeable with MAX, no re-scan to combine periods).
    Same integer estimator as sketch_hll_estimate, per group, with the
    exact distinct count and integer err_permille alongside.

    Reads the memoized distinct (event_type, user_id) substrate (r15):
    a group's register MAX over events equals the MAX over its DISTINCT
    member users (the hash depends only on user_id), so both the md5
    pass and the exact audit run over |types| x |users| rows at most,
    and the per-group exact count is a plain row count of the same
    relation — one scan family instead of two full-events passes."""
    dist = _dist_type_user(spark, sf_dir)
    keyed = dist.select(
        F.col("event_type").alias("grp"),
        F.md5(F.col("user_id").cast("string")).alias("h"))
    keyed = keyed.withColumn(
        "bucket",
        F.expr(f"(instr('{_HEX}', substring(h, 1, 1)) - 1) * 16"
               f" + (instr('{_HEX}', substring(h, 2, 1)) - 1)"))
    keyed = keyed.withColumn("tail", F.substring("h", 3, 30))
    keyed = keyed.withColumn(
        "nz", F.length(F.regexp_extract("tail", "^0*", 0)))
    keyed = keyed.withColumn(
        "v", F.expr(f"CASE WHEN nz >= 30 THEN 0 ELSE "
                    f"instr('{_HEX}', substring(tail, nz + 1, 1)) - 1 END"))
    keyed = keyed.withColumn(
        "rho", F.expr(f"CASE WHEN nz >= 30 THEN {HLL_RHO_CAP} ELSE "
                      f"least(4 * nz + (CASE WHEN v >= 8 THEN 0 "
                      f"WHEN v >= 4 THEN 1 WHEN v >= 2 THEN 2 ELSE 3 END)"
                      f" + 1, {HLL_RHO_CAP}) END"))
    regs = (keyed.groupBy("grp", "bucket")
            .agg(F.max("rho").alias("max_rho")))
    grps = regs.select("grp").distinct()
    dense = (grps.crossJoin(
                spark.range(HLL_M)
                .select(F.col("id").alias("bucket")))
             .join(regs, ["grp", "bucket"], "left")
             .select("grp", F.coalesce("max_rho", F.lit(0)).alias("m_rho")))
    agg = dense.groupBy("grp").agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                     f"CAST({HLL_RHO_CAP} - m_rho AS INT))")).alias("s"))
    num = (F.lit(HLL_ALPHA_NUM).cast("decimal(38,0)")
           * F.lit(HLL_M * HLL_M) * F.lit(1 << HLL_RHO_CAP))
    den = (F.lit(HLL_ALPHA_DEN).cast("decimal(38,0)") * F.col("s"))
    est = agg.select("grp", F.floor(num / den).cast("long").alias("est"))
    exact = (dist.groupBy(F.col("event_type").alias("grp"))
             .agg(F.count(F.lit(1)).cast("long").alias("exact")))
    return (est.join(exact, "grp")
            .select(F.col("grp").alias("event_type"), "est", "exact",
                    F.expr("abs(est - exact) * 1000 div exact")
                    .cast("long").alias("err_permille"))
            .orderBy("event_type"))


_HLL_GROUP_ROWS_SQL = f"""
  SELECT grp,
         (instr('{_HEX}', substr(h, 1, 1)) - 1) * 16
         + (instr('{_HEX}', substr(h, 2, 1)) - 1) AS bucket,
         CASE WHEN nz >= 30 THEN {HLL_RHO_CAP} ELSE
           least(4 * nz + (CASE WHEN v >= 8 THEN 0 WHEN v >= 4 THEN 1
                           WHEN v >= 2 THEN 2 ELSE 3 END) + 1,
                 {HLL_RHO_CAP}) END AS rho
  FROM (
    SELECT grp, h, nz,
           CASE WHEN nz >= 30 THEN 0
                ELSE instr('{_HEX}', substr(tail, nz + 1, 1)) - 1 END AS v
    FROM (
      SELECT grp, h, substr(h, 3, 30) AS tail,
             length(regexp_extract(substr(h, 3, 30), '^0*', 0)) AS nz
      FROM (SELECT event_type AS grp,
                   md5(CAST(user_id AS VARCHAR)) AS h FROM events)))
"""

QUERIES["sketch_hll_by_group"] = sketch_hll_by_group
ORACLES["sketch_hll_by_group"] = f"""
WITH regs AS (
  SELECT grp, bucket, MAX(rho) AS max_rho
  FROM ({_HLL_GROUP_ROWS_SQL}) GROUP BY grp, bucket
),
dense AS (
  SELECT g.grp, b.i AS bucket, COALESCE(r.max_rho, 0) AS m_rho
  FROM (SELECT DISTINCT grp FROM regs) g
  CROSS JOIN generate_series(0, {HLL_M - 1}) AS b(i)
  LEFT JOIN regs r ON r.grp = g.grp AND r.bucket = b.i
),
agg AS (
  SELECT grp, SUM(CAST(1 AS BIGINT) << ({HLL_RHO_CAP} - m_rho)) AS s
  FROM dense GROUP BY grp
),
est AS (
  SELECT grp,
         CAST((CAST({HLL_ALPHA_NUM} AS HUGEINT) * {HLL_M * HLL_M}
               * CAST({1 << HLL_RHO_CAP} AS HUGEINT))
              // (CAST({HLL_ALPHA_DEN} AS HUGEINT) * s) AS BIGINT) AS est
  FROM agg
),
exact AS (
  SELECT event_type AS grp, COUNT(DISTINCT user_id) AS exact
  FROM events GROUP BY event_type
)
SELECT e.grp AS event_type, est, CAST(exact AS BIGINT) AS exact,
       CAST(abs(est - exact) * 1000 // exact AS BIGINT) AS err_permille
FROM est e JOIN exact x ON x.grp = e.grp ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Sampled quantiles (deterministic hash sample + exact rank selection)
# ---------------------------------------------------------------------------
#
# The scale path for quantiles when a full sort is off the table: take a
# deterministic ~6.25 % hash sample (md5 leading hex digit 0), compute
# EXACT rank-selected quantiles of the sample, and report them next to
# the exact full-data quantiles so the sampling error is observable.
# Rank selection is spelled out manually (row_number under a total
# order, pick ceil(q * n)) because the engines' built-in quantile
# functions disagree on interpolation — the manual form is definitional
# and bit-identical in both.  At 100 TB the sample is the only sorted
# thing, and even that needs no global sort here: a window rank over a
# few percent of the data vs a full-data sort is the difference that
# matters; tighter still, production replaces the window with
# per-partition selection + merge (the KLL route) once samples stop
# fitting a task.

#: keep rows whose md5 leading hex digit is 0 (1/16 = 6.25 %)
QSAMPLE_HEXDIGIT = "0"
QUANTILES = (50, 90, 99)

#: Feature gate selecting the distributed rank-selection plan (BETA =
#: on by default: the result is bit-identical to the global window, so
#: flipping it off is only for the equivalence pin / plan comparison).
RANK_SELECT_GATE = "engine.rank_select_scale"

#: value-domain cut fan-out for the scale path; the per-bucket count
#: table (the only driver-side materialization) is bounded by this,
#: never by the data
RANK_SELECT_BUCKETS = 1024


def _rank_select_enabled() -> bool:
    from ..plans.featuregate import GateError, Stage, global_registry
    reg = global_registry()
    try:
        return reg.is_enabled(RANK_SELECT_GATE)
    except GateError:
        reg.register(RANK_SELECT_GATE, Stage.BETA,
                     description="exact rank selection via boundary-cut "
                                 "buckets + per-bucket windows instead of "
                                 "one single-partition global window")
        return reg.is_enabled(RANK_SELECT_GATE)


def _bucket_expr(lo: int, hi: int, n_buckets: int):
    """Monotone equal-width cut of the long column ``v`` into
    1..n_buckets.  Equal-width (vs a quantile sketch) keeps the per-row
    cost O(1) codegen; balance suffers only under extreme value-domain
    skew, and balance never affects correctness — any monotone cut
    yields the same global ranks."""
    return F.width_bucket(F.col("v"), F.lit(lo), F.lit(hi + 1),
                          F.lit(n_buckets))


def _rank_values_at(df: DataFrame, positions: list[int],
                    n_buckets: int = RANK_SELECT_BUCKETS) -> DataFrame:
    """Rows of ``df`` (columns v, l_orderkey, l_linenumber) whose EXACT
    1-based global rank under (v, l_orderkey, l_linenumber) is in
    ``positions`` — the classic two-pass distributed selection, with no
    single-partition window anywhere:

    1. equal-width cut of the value domain (min/max is one cheap 1-row
       aggregate; ties of ``v`` land in one bucket, so the bucket id is
       monotone in the global order),
    2. per-bucket counts collected to the driver — bounded by
       ``n_buckets`` (the centroids/codebook precedent), never by the
       data — giving exact lower-bucket offsets AND the set of buckets
       that contain a requested rank,
    3. row_number inside ONLY those target buckets (a filter that
       prunes ~(1 - k/n_buckets) of the rows before the only shuffle)
       + the bucket's offset = the exact global rank.

    Two full scans + one filtered scan with a tiny shuffle — the plan
    that survives 100 TB, vs the single-partition sort of
    ``Window.orderBy`` with no partitioning.
    """
    from pyspark.sql import Window
    mm = df.agg(F.min("v").alias("lo"), F.max("v").alias("hi")).first()
    lo, hi = int(mm["lo"]), int(mm["hi"])
    b = df.withColumn("__bkt", _bucket_expr(lo, hi, n_buckets))
    counts = sorted(
        (int(r["__bkt"]), int(r["c"])) for r in
        b.groupBy("__bkt").agg(F.count(F.lit(1)).alias("c")).collect())
    offs, cum = {}, 0
    for k, c in counts:
        offs[k] = cum
        cum += c
    want = {}
    for p in positions:
        for k, c in counts:
            if offs[k] < p <= offs[k] + c:
                want[k] = offs[k]
                break
    offs_df = F.broadcast(df.sparkSession.createDataFrame(
        [(k, o) for k, o in sorted(want.items())], "__bkt long, __off long"))
    w = Window.partitionBy("__bkt").orderBy("v", "l_orderkey",
                                            "l_linenumber")
    ranked = (b.filter(F.col("__bkt").isin(list(want)))
              .join(offs_df, "__bkt")
              .withColumn("__rk", F.row_number().over(w).cast("long")
                          + F.col("__off")))
    return ranked.filter(F.col("__rk").isin([int(p) for p in positions]))


def _qsample_base(spark, sf_dir):
    """(v, l_orderkey, l_linenumber, s) — lineitem price cents plus the
    md5 sample flag, memoized per (session, dir): the rank-select path
    makes three passes over this relation (min/max cut, bucket counts,
    the per-bucket window), and each previously re-evaluated the md5
    flag over the full fact (guide §1: the md5 map was the scan-stage
    cost, not the aggregations)."""
    def build():
        from .cache_registry import materialized
        li = load_table(spark, sf_dir, "lineitem")
        cents = F.floor(F.col("l_extendedprice") * 100).cast("long")
        key = F.md5(F.concat(F.lit("qs:"),
                             F.col("l_orderkey").cast("string"),
                             F.lit(":"),
                             F.col("l_linenumber").cast("string")))
        return materialized(
            li.select(cents.alias("v"), F.col("l_orderkey"),
                      F.col("l_linenumber"),
                      (F.substring(key, 1, 1) == QSAMPLE_HEXDIGIT)
                      .cast("long").alias("s"))
              .repartition(spark.sparkContext.defaultParallelism))
    from .cache_registry import cached
    return cached("sketches.qsample_base", spark, sf_dir, build)


def sketch_quantile_sampled(spark, sf_dir):
    """Declared query: sampled vs exact p50/p90/p99 of lineitem
    l_extendedprice (cents, integer-exact), plus sample accounting.

    The exact side is the AUDIT cost (a full-data rank pass you pay to
    validate the sample, the ann_recall_report pattern).  Under the
    default-on ``engine.rank_select_scale`` gate BOTH sides run the
    distributed exact selection (:func:`_rank_values_at` — boundary-cut
    buckets, per-bucket parallel windows, bit-identical result); gate
    off falls back to the definitional single global window, kept for
    the equivalence pin."""
    from pyspark.sql import Window
    base = _qsample_base(spark, sf_dir)

    order = ["v", "l_orderkey", "l_linenumber"]

    if _rank_select_enabled():
        # Fused two-pass distributed selection serving BOTH sides:
        # equal-width value cut -> one per-bucket (count, sample-count)
        # aggregate collected to the driver (bounded by
        # RANK_SELECT_BUCKETS, never by the data) -> a per-bucket
        # window over ONLY the buckets that contain a requested rank,
        # carrying the global row_number (exact rank) AND a running
        # sum of the sample flag (sample rank), each shifted by the
        # bucket's exact lower-bucket offsets.
        nb = RANK_SELECT_BUCKETS
        # both driver passes and the window pass read the memoized base
        # (md5 sample flag computed ONCE at memo build); n/ns fall out
        # of the bucket-count collect below.  The two driver passes
        # (min/max cut + per-bucket counts — bounded by
        # RANK_SELECT_BUCKETS, never by the data) are themselves
        # memoized model parameters, so repeat invocations build the
        # plan without a Spark job (centroid precedent).
        from .cache_registry import cached

        def _cuts():
            mm = base.agg(F.min("v").alias("lo"),
                          F.max("v").alias("hi")).first()
            b0 = base.withColumn(
                "__bkt", _bucket_expr(int(mm["lo"]), int(mm["hi"]), nb))
            cnt = sorted(
                (int(r["__bkt"]), int(r["c"]), int(r["cs"])) for r in
                b0.groupBy("__bkt")
                  .agg(F.count(F.lit(1)).alias("c"),
                       F.sum("s").alias("cs"))
                  .collect())
            return int(mm["lo"]), int(mm["hi"]), cnt
        lo, hi, counts = cached("sketches.qsample_cuts", spark, sf_dir,
                                _cuts)
        b = base.withColumn("__bkt", _bucket_expr(lo, hi, nb))
        n_exact = sum(c for _, c, _ in counts)
        n_sample = sum(cs for _, _, cs in counts)
        pos_rows = [("exact", q, (q * n_exact + 99) // 100, n_exact)
                    for q in QUANTILES]
        pos_rows += [("sample", q, (q * n_sample + 99) // 100, n_sample)
                     for q in QUANTILES]
        offs, cum, cum_s = {}, 0, 0
        for k, c, cs in counts:
            offs[k] = (cum, cum_s)
            cum, cum_s = cum + c, cum_s + cs
        want: dict[int, tuple[int, int]] = {}
        for src, _, p, _ in pos_rows:
            for k, c, cs in counts:
                off, off_s = offs[k]
                hit = (off < p <= off + c) if src == "exact" \
                    else (off_s < p <= off_s + cs)
                if hit:
                    want[k] = offs[k]
                    break
        offs_df = F.broadcast(spark.createDataFrame(
            [(k, o, os_) for k, (o, os_) in sorted(want.items())],
            "__bkt long, __off long, __offs long"))
        w = Window.partitionBy("__bkt").orderBy(*order)
        ranked = (b.filter(F.col("__bkt").isin(list(want)))
                  .join(offs_df, "__bkt")
                  .withColumn("rk_exact",
                              F.row_number().over(w).cast("long")
                              + F.col("__off"))
                  .withColumn("rk_sample",
                              F.sum("s").over(w) + F.col("__offs")))
    else:
        # definitional form, kept for the equivalence pin: one global
        # single-partition window (the plan the gate avoids)
        tot = base.agg(F.count(F.lit(1)).alias("n"),
                       F.sum("s").alias("ns")).first()
        n_exact, n_sample = int(tot["n"]), int(tot["ns"] or 0)
        pos_rows = [("exact", q, (q * n_exact + 99) // 100, n_exact)
                    for q in QUANTILES]
        pos_rows += [("sample", q, (q * n_sample + 99) // 100, n_sample)
                     for q in QUANTILES]
        w = Window.orderBy(*order)
        ranked = (base
                  .withColumn("rk_exact",
                              F.row_number().over(w).cast("long"))
                  .withColumn("rk_sample", F.sum("s").over(w)))

    pos_df = F.broadcast(spark.createDataFrame(
        pos_rows, "src string, q long, pos long, n long"))
    exact_pos = [p for s_, _, p, _ in pos_rows if s_ == "exact"]
    sample_pos = [p for s_, _, p, _ in pos_rows if s_ == "sample"]
    hits = ranked.filter(
        F.col("rk_exact").isin(exact_pos)
        | ((F.col("s") == 1) & F.col("rk_sample").isin(sample_pos)))
    cond = (((pos_df["src"] == "exact")
             & (hits["rk_exact"] == pos_df["pos"]))
            | ((pos_df["src"] == "sample") & (hits["s"] == 1)
               & (hits["rk_sample"] == pos_df["pos"])))
    return (hits.join(pos_df, cond)
            .select("src", "q", F.col("v").alias("value_cents"), "n")
            .orderBy("src", "q"))


QUERIES["sketch_quantile_sampled"] = sketch_quantile_sampled
ORACLES["sketch_quantile_sampled"] = f"""
WITH base AS (
  SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS v,
         l_orderkey, l_linenumber
  FROM lineitem),
samp AS (
  SELECT * FROM base
  WHERE substr(md5('qs:' || CAST(l_orderkey AS VARCHAR) || ':'
               || CAST(l_linenumber AS VARCHAR)), 1, 1)
        = '{QSAMPLE_HEXDIGIT}'),
rs AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v, l_orderkey, l_linenumber)
              AS rk, COUNT(*) OVER () AS n FROM samp),
re AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v, l_orderkey, l_linenumber)
              AS rk, COUNT(*) OVER () AS n FROM base),
qs(q) AS (VALUES (50), (90), (99))
SELECT src, CAST(q AS BIGINT) AS q, value_cents, n FROM (
  SELECT 'sample' AS src, q.q, r.v AS value_cents, r.n
  FROM qs q JOIN rs r ON r.rk = (q.q * r.n + 99) // 100
  UNION ALL
  SELECT 'exact' AS src, q.q, r.v AS value_cents, r.n
  FROM qs q JOIN re r ON r.rk = (q.q * r.n + 99) // 100
) ORDER BY src, q
"""


def sketch_cms_join_size(spark, sf_dir):
    """Declared query: join-cardinality estimation from two count-min
    sketches (Cormode & Muthukrishnan's inner-product estimator): for
    relations A and B (events split by event_id parity, joined on
    user_id), |A JOIN B| = sum_k a_k * b_k, estimated as the MIN over
    sketch rows of the per-row counter dot product — always an
    OVERestimate, like the point query.  This is the optimizer
    cardinality-estimation shape: at 100 TB the two sketches are d*w
    integers each, mergeable across partitions, and the estimate costs
    a 1024-cell join instead of touching either relation again.
    Published next to the exact join size (one aggregation per side +
    a key-level product sum — the audit cost), all integer-exact.

    Single-pass form (r15): ONE scan of events folds into per-user
    side counts (na, nb); the d md5 cell indexes are computed once per
    USER (the hash depends only on the key), each cell aggregating
    SUM(na)/SUM(nb) — exactly the per-side counters, since a side's
    cell count is the sum of its member users' event counts.  Cells
    where either side is zero are filtered before the per-row dot,
    reproducing the two-sketch inner join bit for bit; the exact audit
    reads the same per-user relation (na>0 AND nb>0 == the key join).
    Was: four scans, two per-EVENT md5 cell explosions, two cell-keyed
    exchanges plus a user-keyed exchange per side."""
    events = load_table(spark, sf_dir, "events")
    per_user = (events
                .select(F.col("user_id").cast("string").alias("key"),
                        (F.col("event_id") % 2 == 0).cast("int")
                        .alias("is_a"))
                .groupBy("key")
                .agg(F.sum("is_a").cast("long").alias("na"),
                     F.sum(1 - F.col("is_a")).cast("long").alias("nb")))
    cells = per_user.select("na", "nb", F.explode(F.array(*[
        F.struct(F.lit(i).alias("row_id"),
                 F.expr(_cms_col_expr(i, "key")).alias("col"))
        for i in range(CMS_DEPTH)])).alias("cell"))
    cc = (cells.groupBy("cell.row_id", "cell.col")
          .agg(F.sum("na").alias("cnt"), F.sum("nb").alias("cnt_b")))
    est = (cc.filter((F.col("cnt") > 0) & (F.col("cnt_b") > 0))
           .groupBy("row_id")
           .agg(F.sum(F.col("cnt") * F.col("cnt_b")).alias("dot"))
           .agg(F.min("dot").cast("long").alias("est_join_size")))
    exact = (per_user.filter((F.col("na") > 0) & (F.col("nb") > 0))
             .agg(F.sum(F.col("na") * F.col("nb")).cast("long")
                  .alias("exact_join_size")))
    return (est.crossJoin(exact)
            .select("est_join_size", "exact_join_size",
                    (F.col("est_join_size") - F.col("exact_join_size"))
                    .cast("long").alias("overcount")))


QUERIES["sketch_cms_join_size"] = sketch_cms_join_size
ORACLES["sketch_cms_join_size"] = f"""
WITH ka AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events
            WHERE event_id % 2 = 0),
kb AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events
       WHERE event_id % 2 = 1),
cells_a AS ({" UNION ALL ".join(
    f"SELECT key, {i} AS row_id, " + (
        lambda h: f"(instr('{_HEX}', substr({h}, 1, 1)) - 1) * 16"
                  f" + (instr('{_HEX}', substr({h}, 2, 1)) - 1)")(
        f"md5(CAST({i} AS VARCHAR) || ':' || key)") + " AS col FROM ka"
    for i in range(CMS_DEPTH))}),
cells_b AS ({" UNION ALL ".join(
    f"SELECT key, {i} AS row_id, " + (
        lambda h: f"(instr('{_HEX}', substr({h}, 1, 1)) - 1) * 16"
                  f" + (instr('{_HEX}', substr({h}, 2, 1)) - 1)")(
        f"md5(CAST({i} AS VARCHAR) || ':' || key)") + " AS col FROM kb"
    for i in range(CMS_DEPTH))}),
ca AS (SELECT row_id, col, COUNT(*) AS cnt FROM cells_a
       GROUP BY row_id, col),
cb AS (SELECT row_id, col, COUNT(*) AS cnt FROM cells_b
       GROUP BY row_id, col),
est AS (
  SELECT MIN(dot) AS est_join_size FROM (
    SELECT a.row_id, SUM(a.cnt * b.cnt) AS dot
    FROM ca a JOIN cb b ON a.row_id = b.row_id AND a.col = b.col
    GROUP BY a.row_id)),
exact AS (
  SELECT SUM(na * nb) AS exact_join_size FROM
    (SELECT key, COUNT(*) AS na FROM ka GROUP BY key) x
    JOIN (SELECT key, COUNT(*) AS nb FROM kb GROUP BY key) y
      ON x.key = y.key)
SELECT CAST(est_join_size AS BIGINT) AS est_join_size,
       CAST(exact_join_size AS BIGINT) AS exact_join_size,
       CAST(est_join_size - exact_join_size AS BIGINT) AS overcount
FROM est, exact
"""


# ---------------------------------------------------------------------------
# Binned (histogram-sketch) quantiles — the oracle-gated batch anchor of
# streaming/quantiles.py's mergeable cross-batch state
# ---------------------------------------------------------------------------

#: fixed value-domain cut for the declared query: cents in [0, 2^24),
#: 256 equal bins of 65536 cents — constants, so the DuckDB twin is a
#: plain integer division and the cut never depends on the data
QBIN_LO, QBIN_HI, QBIN_N = 0, (1 << 24) - 1, 256


def sketch_quantile_binned(spark, sf_dir):
    """Declared query: per-l_returnflag p50/p90/p99 of l_extendedprice
    (cents) from a fixed 256-bin histogram — the mergeable-sketch
    quantile: the per-group count vector is the ONLY state, mergeable
    by addition across partitions/shards/days (the streaming twin in
    streaming/quantiles.py carries the same vector across
    micro-batches, bit-equal by shared bin operands).  Estimates are
    the bin's inclusive upper bound at the ceil rank — deterministic
    integers, no interpolation, which is what makes the oracle a plain
    integer-division twin."""
    from ..streaming.quantiles import bin_quantiles_batch
    li = load_table(spark, sf_dir, "lineitem")
    ev = li.select(F.col("l_returnflag").alias("grp"),
                   F.floor(F.col("l_extendedprice") * 100).cast("long")
                   .alias("v"))
    return (bin_quantiles_batch(ev, QBIN_LO, QBIN_HI, QBIN_N)
            .orderBy("grp", "q"))


QUERIES["sketch_quantile_binned"] = sketch_quantile_binned
ORACLES["sketch_quantile_binned"] = f"""
WITH b AS (
  SELECT l_returnflag AS grp,
         CAST(floor(l_extendedprice * 100) AS BIGINT)
           // {(QBIN_HI + 1 - QBIN_LO) // QBIN_N} AS bin
  FROM lineitem),
c AS (SELECT grp, bin, COUNT(*) AS cnt FROM b GROUP BY grp, bin),
cum AS (
  SELECT grp, bin, cnt,
         SUM(cnt) OVER (PARTITION BY grp ORDER BY bin) AS cum,
         SUM(cnt) OVER (PARTITION BY grp) AS n
  FROM c),
qs(q) AS (VALUES (50), (90), (99))
SELECT grp, CAST(q.q AS BIGINT) AS q,
       CAST({QBIN_LO} + (MIN(bin) + 1)
            * {(QBIN_HI + 1 - QBIN_LO) // QBIN_N} - 1 AS BIGINT)
         AS value_ub,
       CAST(MAX(n) AS BIGINT) AS n
FROM cum, qs q
WHERE cum >= (q.q * n + 99) // 100
GROUP BY grp, q.q ORDER BY grp, q
"""


# ---------------------------------------------------------------------------
# Theta / KMV sketch: set-expression cardinalities (deterministic, md5-keyed)
# ---------------------------------------------------------------------------
#
# HLL answers |A| and |A ∪ B| (register MAX merges) but cannot estimate
# |A ∩ B| without inclusion-exclusion error blowup; the theta (KMV)
# sketch can (Beyer et al. 2007 "On synopses for distinct-value
# estimation"; the Apache DataSketches theta family).  Keep the K
# smallest 48-bit hashes per set; theta = the K-th smallest; the
# intersection estimate counts common retained hashes below the SMALLER
# theta.  State is K rows per set — mergeable, shuffle-bounded, the
# 100 TB property.  All arithmetic is integer (hash values are 48-bit
# md5 prefixes; estimates are (K-1)*2^48 // h_k), so DuckDB re-derives
# every value exactly.

#: retained minimum hashes per set
THETA_K = 32
#: hash range: 12 md5 hex chars
THETA_RANGE = 1 << 48

#: 48-bit integer from the first 12 hex chars of md5 (instr-based so
#: both engines evaluate the identical integer polynomial)
def _theta_hash_sql(key_sql: str, cast: str) -> str:
    # Every term is forced to BIGINT before the multiply: Spark's
    # instr() returns INT and 16^(11-j) is an INT literal for j >= 4,
    # so without the CAST the INT*INT product overflows for any hex
    # digit >= 8 in positions 5..12 — throwing under ANSI sessions and
    # silently wrapping (wrong hash) under non-ANSI ones.  DuckDB's
    # instr returns BIGINT natively, so only the Spark side needed it.
    h = f"md5(CAST({key_sql} AS {cast}))"
    return " + ".join(
        f"(CAST(instr('{_HEX}', substring({h}, {j + 1}, 1)) AS BIGINT)"
        f" - 1) * {16 ** (11 - j)}"
        for j in range(12))


def _dist_type_user(spark, sf_dir):
    """Session-memoized distinct (event_type, user_id) relation —
    |types| x |users| rows at most, the exact-audit substrate shared by
    the theta family and the per-group HLL (each previously re-ran the
    distinct hash-agg over the full events relation per invocation)."""
    from .cache_registry import cached, materialized
    return cached(
        "sketches.dist_type_user", spark, sf_dir,
        lambda: materialized(
            load_table(spark, sf_dir, "events")
            .select("event_type", "user_id").distinct()))


def _theta_exact(spark, sf_dir):
    """Memoized exact-audit relations shared across the theta family
    (4 consumers of the pairwise intersection, 3 of the set sizes —
    each previously re-ran the distinct self-join / size aggregate per
    query per invocation; AQE never stage-reuses subtrees over cached
    relations, the r16 finding).  The intersection is kept in ORDERED
    (type_a != type_b) form — unordered consumers filter type_a <
    type_b, which halves it to the same rows they derived before."""
    from .cache_registry import cached, materialized
    dist = _dist_type_user(spark, sf_dir)
    sizes = cached(
        "sketches.theta_sizes", spark, sf_dir,
        lambda: materialized(
            dist.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_set"))))
    inter = cached(
        "sketches.theta_exact_inter", spark, sf_dir,
        lambda: materialized(
            dist.alias("x").join(dist.alias("y"), "user_id")
            .filter(F.col("x.event_type") != F.col("y.event_type"))
            .groupBy(F.col("x.event_type").alias("type_a"),
                     F.col("y.event_type").alias("type_b"))
            .agg(F.count(F.lit(1)).alias("n_inter"))))
    return sizes, inter


def _theta_base(spark, sf_dir):
    """The scaffold shared by the three theta queries: ``dist`` (the
    corpus-distinct (event_type, user_id) relation the exact audits
    re-derive from) and ``kept`` (the bottom-THETA_K 48-bit hashes per
    set, with rank ``rk`` and set size ``n``).  Both are memoized
    through the shared cache registry so union/intersection/difference
    see ONE sketch state per (session, dir) — the ER-trio
    desynchronization discipline."""
    dist = _dist_type_user(spark, sf_dir)
    from .cache_registry import cached, materialized
    return dist, cached(
        "sketches.theta_kept", spark, sf_dir,
        lambda: materialized(_build_theta_kept(dist)))


def _build_theta_kept(dist):
    """Raw (pre-materialization) plan of the per-set bottom-K sketch —
    split out so plan-quality tests can pin the set-keyed rank window
    the truncated memoized relation no longer exposes."""
    from pyspark.sql import Window
    h = dist.select(
        "event_type",
        F.expr(_theta_hash_sql("user_id", "STRING")).cast("long")
         .alias("hv"))
    w = Window.partitionBy("event_type").orderBy("hv")
    rk = h.select(
        "event_type", "hv",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(
            Window.partitionBy("event_type")).alias("n"))
    return rk.filter(F.col("rk") <= THETA_K)


def _theta_stats(kept):
    """Per set: size ``n`` and the K-th smallest hash ``hk`` (null when
    the set holds fewer than K values) — the raw material each theta
    query projects its threshold/estimate from."""
    return (kept.groupBy("event_type")
            .agg(F.max("n").alias("n"),
                 F.max(F.when(F.col("rk") == THETA_K, F.col("hv")))
                  .alias("hk")))


def _theta_th():
    """Threshold column: hk for saturated sets, else the full hash
    range (built lazily — Columns need an active SparkContext)."""
    return (F.when(F.col("n") >= THETA_K, F.col("hk"))
            .otherwise(F.lit(THETA_RANGE)))


def sketch_theta_intersection(spark, sf_dir):
    """Per event-type pair: KMV theta-sketch estimates of each user set
    and of their intersection, next to the exact intersection size.

    Scale shape: one distinct pass (hash-agg on (event_type, user_id)),
    a per-set window rank capped at THETA_K rows retained per set,
    then all joins run on the tiny K-row-per-set retained relation;
    the exact audit is a self-join of the distinct pass on user_id.
    Nothing driver-side, no Python.
    """
    dist, kept = _theta_base(spark, sf_dir)
    theta = (_theta_stats(kept)
             .select(
                 "event_type",
                 _theta_th().alias("th"),
                 F.when(F.col("n") >= THETA_K,
                        F.expr(f"{(THETA_K - 1) * THETA_RANGE} div hk"))
                  .otherwise(F.col("n")).cast("long").alias("est")))
    ka = kept.select(F.col("event_type").alias("type_a"),
                     F.col("hv").alias("hv"))
    kb = kept.select(F.col("event_type").alias("type_b"),
                     F.col("hv").alias("hv"))
    ta = theta.select(F.col("event_type").alias("type_a"),
                      F.col("th").alias("th_a"),
                      F.col("est").alias("est_a"))
    tb = theta.select(F.col("event_type").alias("type_b"),
                      F.col("th").alias("th_b"),
                      F.col("est").alias("est_b"))
    common = (ka.join(kb, "hv")
              .filter(F.col("type_a") < F.col("type_b"))
              .join(F.broadcast(ta), "type_a")
              .join(F.broadcast(tb), "type_b")
              .filter(F.col("hv") < F.least("th_a", "th_b"))
              .groupBy("type_a", "type_b", "th_a", "th_b",
                       "est_a", "est_b")
              .agg(F.count(F.lit(1)).alias("n_common")))
    pairs = (ta.crossJoin(tb)
             .filter(F.col("type_a") < F.col("type_b"))
             .join(common.select("type_a", "type_b", "n_common"),
                   ["type_a", "type_b"], "left")
             .withColumn("n_common",
                         F.coalesce("n_common", F.lit(0))))
    _, _xinter = _theta_exact(spark, sf_dir)
    exact = (_xinter.filter(F.col("type_a") < F.col("type_b"))
             .select("type_a", "type_b",
                     F.col("n_inter").alias("exact_intersection")))
    return (pairs.join(exact, ["type_a", "type_b"], "left")
            .select(
                "type_a", "type_b",
                F.col("est_a").cast("long").alias("est_a"),
                F.col("est_b").cast("long").alias("est_b"),
                F.col("n_common").cast("long").alias("n_common"),
                F.expr(f"n_common * {THETA_RANGE} div least(th_a, th_b)")
                 .cast("long").alias("est_intersection"),
                F.coalesce("exact_intersection", F.lit(0)).cast("long")
                 .alias("exact_intersection"))
            .orderBy("type_a", "type_b"))


QUERIES["sketch_theta_intersection"] = sketch_theta_intersection
ORACLES["sketch_theta_intersection"] = f"""
WITH dist AS (
  SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type,
         CAST({_theta_hash_sql("user_id", "VARCHAR")} AS BIGINT) AS hv
  FROM dist),
rk AS (
  SELECT event_type, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM h),
kept AS (SELECT * FROM rk WHERE rk <= {THETA_K}),
theta AS (
  SELECT event_type,
         CASE WHEN MAX(n) >= {THETA_K}
              THEN MAX(CASE WHEN rk = {THETA_K} THEN hv END)
              ELSE {THETA_RANGE} END AS th,
         CASE WHEN MAX(n) >= {THETA_K}
              THEN {(THETA_K - 1) * THETA_RANGE}
                   // MAX(CASE WHEN rk = {THETA_K} THEN hv END)
              ELSE MAX(n) END AS est
  FROM kept GROUP BY event_type),
common AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS n_common
  FROM kept a
  JOIN kept b ON a.hv = b.hv AND a.event_type < b.event_type
  JOIN theta ta ON ta.event_type = a.event_type
  JOIN theta tb ON tb.event_type = b.event_type
  WHERE a.hv < LEAST(ta.th, tb.th)
  GROUP BY 1, 2),
exact AS (
  SELECT x.event_type AS type_a, y.event_type AS type_b,
         COUNT(*) AS exact_intersection
  FROM dist x JOIN dist y
    ON x.user_id = y.user_id AND x.event_type < y.event_type
  GROUP BY 1, 2)
SELECT ta.event_type AS type_a, tb.event_type AS type_b,
       CAST(ta.est AS BIGINT) AS est_a, CAST(tb.est AS BIGINT) AS est_b,
       CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
       CAST(COALESCE(c.n_common, 0) * {THETA_RANGE}
            // LEAST(ta.th, tb.th) AS BIGINT) AS est_intersection,
       CAST(COALESCE(e.exact_intersection, 0) AS BIGINT)
         AS exact_intersection
FROM theta ta
JOIN theta tb ON ta.event_type < tb.event_type
LEFT JOIN common c ON c.type_a = ta.event_type
                  AND c.type_b = tb.event_type
LEFT JOIN exact e ON e.type_a = ta.event_type
                 AND e.type_b = tb.event_type
ORDER BY type_a, type_b
"""


def sketch_theta_difference(spark, sf_dir):
    """Per ordered event-type pair (a != b): the KMV a-not-b estimate
    |A \\ B| (the DataSketches AnotB operation) next to the exact
    difference.

    Estimator: with combined threshold theta = min(theta_A, theta_B),
    both retained sets are uniform samples of their sets below theta;
    the A-sample hashes below theta ABSENT from B's sample estimate
    |A \\ B| as n_diff * 2^48 // theta.  Exact audit is the closed
    form |A| - |A intersect B| — no second anti-join pass.

    Scale shape: same as the intersection sketch — one distinct pass,
    per-set top-K window (<= THETA_K rows per set retained), then all
    pair arithmetic on the tiny K-row-per-set relation with the
    per-set theta/count relation broadcast.
    """
    dist, kept = _theta_base(spark, sf_dir)
    theta = (_theta_stats(kept)
             .select(
                 "event_type", F.col("n").alias("n_exact_kept"),
                 _theta_th().alias("th")))
    ka = kept.select(F.col("event_type").alias("type_a"), "hv")
    kb = kept.select(F.col("event_type").alias("type_b"), "hv")
    ta = theta.select(F.col("event_type").alias("type_a"),
                      F.col("th").alias("th_a"),
                      F.col("n_exact_kept").alias("n_a"))
    tb = theta.select(F.col("event_type").alias("type_b"),
                      F.col("th").alias("th_b"),
                      F.col("n_exact_kept").alias("n_b"))
    th_pairs = (ta.crossJoin(tb)
                .filter(F.col("type_a") != F.col("type_b"))
                .withColumn("th", F.least("th_a", "th_b")))
    in_b = kb.select("type_b", F.col("hv").alias("hv"))
    n_diff = (ka.join(F.broadcast(th_pairs.select("type_a", "type_b",
                                                  "th")),
                      "type_a")
              .filter(F.col("hv") < F.col("th"))
              .join(in_b, ["type_b", "hv"], "left_anti")
              .groupBy("type_a", "type_b")
              .agg(F.count(F.lit(1)).alias("n_diff")))
    # exact |A \ B| = |A| - |A n B| (one equality self-join)
    sizes, inter = _theta_exact(spark, sf_dir)
    return (th_pairs
            .join(n_diff, ["type_a", "type_b"], "left")
            .join(F.broadcast(sizes.select(
                F.col("event_type").alias("type_a"),
                F.col("n_set").alias("size_a"))), "type_a")
            .join(inter, ["type_a", "type_b"], "left")
            .select(
                "type_a", "type_b",
                F.coalesce("n_diff", F.lit(0)).cast("long")
                 .alias("n_diff"),
                F.expr(f"coalesce(n_diff, 0) * {THETA_RANGE} div th")
                 .cast("long").alias("est_difference"),
                (F.col("size_a") - F.coalesce("n_inter", F.lit(0)))
                 .cast("long").alias("exact_difference"))
            .orderBy("type_a", "type_b"))


QUERIES["sketch_theta_difference"] = sketch_theta_difference
ORACLES["sketch_theta_difference"] = f"""
WITH dist AS (
  SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type,
         CAST({{hash_sql}} AS BIGINT) AS hv
  FROM dist),
rk AS (
  SELECT event_type, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM h),
kept AS (SELECT * FROM rk WHERE rk <= {THETA_K}),
theta AS (
  SELECT event_type,
         CASE WHEN MAX(n) >= {THETA_K}
              THEN MAX(CASE WHEN rk = {THETA_K} THEN hv END)
              ELSE {THETA_RANGE} END AS th
  FROM kept GROUP BY event_type),
pairs AS (
  SELECT ta.event_type AS type_a, tb.event_type AS type_b,
         LEAST(ta.th, tb.th) AS th
  FROM theta ta JOIN theta tb ON ta.event_type <> tb.event_type),
nd AS (
  SELECT p.type_a, p.type_b, COUNT(*) AS n_diff
  FROM pairs p
  JOIN kept a ON a.event_type = p.type_a AND a.hv < p.th
  WHERE NOT EXISTS (SELECT 1 FROM kept b
                    WHERE b.event_type = p.type_b AND b.hv = a.hv)
  GROUP BY 1, 2),
inter AS (
  SELECT x.event_type AS type_a, y.event_type AS type_b,
         COUNT(*) AS n_inter
  FROM dist x JOIN dist y
    ON x.user_id = y.user_id AND x.event_type <> y.event_type
  GROUP BY 1, 2),
sizes AS (
  SELECT event_type, COUNT(*) AS n_set FROM dist GROUP BY event_type)
SELECT p.type_a, p.type_b,
       CAST(COALESCE(nd.n_diff, 0) AS BIGINT) AS n_diff,
       CAST(COALESCE(nd.n_diff, 0) * {THETA_RANGE} // p.th AS BIGINT)
         AS est_difference,
       CAST(s.n_set - COALESCE(i.n_inter, 0) AS BIGINT)
         AS exact_difference
FROM pairs p
LEFT JOIN nd ON nd.type_a = p.type_a AND nd.type_b = p.type_b
JOIN sizes s ON s.event_type = p.type_a
LEFT JOIN inter i ON i.type_a = p.type_a AND i.type_b = p.type_b
ORDER BY p.type_a, p.type_b
""".replace("{hash_sql}", _theta_hash_sql("user_id", "VARCHAR"))


def sketch_theta_union(spark, sf_dir):
    """Per event-type pair (a < b): the KMV theta-sketch UNION estimate
    |A u B| next to the exact union size — completing the theta set
    algebra (union here, intersection and AnotB above; the DataSketches
    Union operation).

    Estimator: with combined threshold theta = min(theta_A, theta_B),
    the DISTINCT retained hashes of both sketches below theta form a
    uniform sample of A u B; if >= K survive, re-truncate to bottom-K
    and estimate (K-1) * 2^48 // kth (the fresh-sketch rule), else
    n_kept * 2^48 // theta (the sample-at-theta rule — exact when both
    inputs were exact, since theta is then the full range).

    Scale shape: identical to the intersection sketch — one distinct
    pass, per-set top-K window, then every pair computation on the
    <= 2K-rows-per-pair retained relation with the per-set theta
    relation broadcast.  The exact audit reuses the one equality
    self-join (|A| + |B| - |A n B|), no extra corpus pass.
    """
    dist, kept = _theta_base(spark, sf_dir)
    from pyspark.sql import Window
    theta = (_theta_stats(kept)
             .select("event_type", _theta_th().alias("th")))
    ta = theta.select(F.col("event_type").alias("type_a"),
                      F.col("th").alias("th_a"))
    tb = theta.select(F.col("event_type").alias("type_b"),
                      F.col("th").alias("th_b"))
    pairs = (ta.crossJoin(tb)
             .filter(F.col("type_a") < F.col("type_b"))
             .select("type_a", "type_b",
                     F.least("th_a", "th_b").alias("th")))
    ka = kept.select(F.col("event_type").alias("type_a"), "hv")
    kb = kept.select(F.col("event_type").alias("type_b"), "hv")
    ua = ka.join(F.broadcast(pairs), "type_a") \
           .select("type_a", "type_b", "th", "hv")
    ub = kb.join(F.broadcast(pairs), "type_b") \
           .select("type_a", "type_b", "th", "hv")
    u = (ua.unionByName(ub)
         .filter(F.col("hv") < F.col("th"))
         .select("type_a", "type_b", "th", "hv").distinct())
    wp = Window.partitionBy("type_a", "type_b").orderBy("hv")
    ur = u.select(
        "type_a", "type_b", "th", "hv",
        F.row_number().over(wp).alias("urk"),
        F.count(F.lit(1)).over(
            Window.partitionBy("type_a", "type_b")).alias("n_u"))
    # th intentionally NOT in the grouping: the final select must read
    # pairs.th (as the oracle does), which survives even when a pair has
    # zero retained union hashes and stats has no row (r10 ADVICE —
    # stats.th would be NULL through the left join in that case).
    stats = (ur.groupBy("type_a", "type_b")
             .agg(F.max("n_u").alias("n_u"),
                  F.max(F.when(F.col("urk") == THETA_K, F.col("hv")))
                   .alias("kth")))
    sizes, _xinter = _theta_exact(spark, sf_dir)
    inter = _xinter.filter(F.col("type_a") < F.col("type_b"))
    return (pairs
            .join(stats, ["type_a", "type_b"], "left")
            .join(F.broadcast(sizes.select(
                F.col("event_type").alias("type_a"),
                F.col("n_set").alias("size_a"))), "type_a")
            .join(F.broadcast(sizes.select(
                F.col("event_type").alias("type_b"),
                F.col("n_set").alias("size_b"))), "type_b")
            .join(inter, ["type_a", "type_b"], "left")
            .select(
                "type_a", "type_b",
                F.coalesce("n_u", F.lit(0)).cast("long")
                 .alias("n_union_kept"),
                F.when(F.col("n_u") >= THETA_K,
                       F.expr(f"{(THETA_K - 1) * THETA_RANGE} div kth"))
                 .otherwise(F.expr(
                     f"coalesce(n_u, 0) * {THETA_RANGE} div th"))
                 .cast("long").alias("est_union"),
                (F.col("size_a") + F.col("size_b")
                 - F.coalesce("n_inter", F.lit(0))).cast("long")
                 .alias("exact_union"))
            .orderBy("type_a", "type_b"))


QUERIES["sketch_theta_union"] = sketch_theta_union
ORACLES["sketch_theta_union"] = f"""
WITH dist AS (
  SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type,
         CAST({{hash_sql}} AS BIGINT) AS hv
  FROM dist),
rk AS (
  SELECT event_type, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM h),
kept AS (SELECT * FROM rk WHERE rk <= {THETA_K}),
theta AS (
  SELECT event_type,
         CASE WHEN MAX(n) >= {THETA_K}
              THEN MAX(CASE WHEN rk = {THETA_K} THEN hv END)
              ELSE {THETA_RANGE} END AS th
  FROM kept GROUP BY event_type),
pairs AS (
  SELECT ta.event_type AS type_a, tb.event_type AS type_b,
         LEAST(ta.th, tb.th) AS th
  FROM theta ta JOIN theta tb ON ta.event_type < tb.event_type),
u AS (
  SELECT DISTINCT p.type_a, p.type_b, p.th, k.hv
  FROM pairs p
  JOIN kept k ON (k.event_type = p.type_a OR k.event_type = p.type_b)
             AND k.hv < p.th),
ur AS (
  SELECT type_a, type_b, th, hv,
         ROW_NUMBER() OVER (PARTITION BY type_a, type_b
                            ORDER BY hv) AS urk,
         COUNT(*) OVER (PARTITION BY type_a, type_b) AS n_u
  FROM u),
stats AS (
  SELECT type_a, type_b, th, MAX(n_u) AS n_u,
         MAX(CASE WHEN urk = {THETA_K} THEN hv END) AS kth
  FROM ur GROUP BY 1, 2, 3),
inter AS (
  SELECT x.event_type AS type_a, y.event_type AS type_b,
         COUNT(*) AS n_inter
  FROM dist x JOIN dist y
    ON x.user_id = y.user_id AND x.event_type < y.event_type
  GROUP BY 1, 2),
sizes AS (
  SELECT event_type, COUNT(*) AS n_set FROM dist GROUP BY event_type)
SELECT p.type_a, p.type_b,
       CAST(COALESCE(s.n_u, 0) AS BIGINT) AS n_union_kept,
       CAST(CASE WHEN s.n_u >= {THETA_K}
                 THEN {(THETA_K - 1) * THETA_RANGE} // s.kth
                 ELSE COALESCE(s.n_u, 0) * {THETA_RANGE} // p.th
            END AS BIGINT) AS est_union,
       CAST(za.n_set + zb.n_set - COALESCE(i.n_inter, 0) AS BIGINT)
         AS exact_union
FROM pairs p
LEFT JOIN stats s ON s.type_a = p.type_a AND s.type_b = p.type_b
JOIN sizes za ON za.event_type = p.type_a
JOIN sizes zb ON zb.event_type = p.type_b
LEFT JOIN inter i ON i.type_a = p.type_a AND i.type_b = p.type_b
ORDER BY p.type_a, p.type_b
""".replace("{hash_sql}", _theta_hash_sql("user_id", "VARCHAR"))


def sketch_theta_jaccard(spark, sf_dir):
    """Per event-type pair: KMV theta-sketch Jaccard estimate next to
    the exact value — the resemblance read a dedup owner does on the
    sketch state instead of the corpus (Beyer et al. 2007, "On synopses
    for distinct-value estimation"; datasketches theta JaccardSimilarity).
    Below the COMBINED threshold th = least(th_a, th_b), the retained
    union and intersection are exact samples of the true ones, so
    J ~= n_inter_kept / n_union_kept.

    Integer surface: permille ratios via BIGINT div (magnitude at 100x:
    1000 * counts <= 1000 * corpus rows ~ 1e15 << 2^63; no products of
    aggregates).

    Scale shape: everything after the memoized bottom-K scaffold
    (_theta_base) runs on K rows per set; the exact audit is the same
    distinct self-join the other theta queries carry.
    """
    dist, kept = _theta_base(spark, sf_dir)
    theta = (_theta_stats(kept)
             .select("event_type", _theta_th().alias("th")))
    ta = theta.select(F.col("event_type").alias("type_a"),
                      F.col("th").alias("th_a"))
    tb = theta.select(F.col("event_type").alias("type_b"),
                      F.col("th").alias("th_b"))
    pairs = (ta.crossJoin(tb)
             .filter(F.col("type_a") < F.col("type_b"))
             .select("type_a", "type_b",
                     F.least("th_a", "th_b").alias("th")))
    ka = kept.select(F.col("event_type").alias("type_a"), "hv")
    kb = kept.select(F.col("event_type").alias("type_b"), "hv")
    u = (ka.join(F.broadcast(pairs), "type_a")
         .select("type_a", "type_b", "th", "hv")
         .unionByName(kb.join(F.broadcast(pairs), "type_b")
                      .select("type_a", "type_b", "th", "hv"))
         .filter(F.col("hv") < F.col("th")))
    nu = (u.select("type_a", "type_b", "hv").distinct()
          .groupBy("type_a", "type_b")
          .agg(F.count(F.lit(1)).alias("n_union_kept")))
    ni = (ka.join(kb, "hv")
          .filter(F.col("type_a") < F.col("type_b"))
          .join(F.broadcast(pairs), ["type_a", "type_b"])
          .filter(F.col("hv") < F.col("th"))
          .groupBy("type_a", "type_b")
          .agg(F.count(F.lit(1)).alias("n_inter_kept")))
    sizes, _xinter = _theta_exact(spark, sf_dir)
    inter = _xinter.filter(F.col("type_a") < F.col("type_b"))
    return (pairs
            .join(nu, ["type_a", "type_b"], "left")
            .join(ni, ["type_a", "type_b"], "left")
            .join(F.broadcast(sizes.select(
                F.col("event_type").alias("type_a"),
                F.col("n_set").alias("size_a"))), "type_a")
            .join(F.broadcast(sizes.select(
                F.col("event_type").alias("type_b"),
                F.col("n_set").alias("size_b"))), "type_b")
            .join(inter, ["type_a", "type_b"], "left")
            .select(
                "type_a", "type_b",
                F.coalesce("n_inter_kept", F.lit(0)).cast("long")
                 .alias("n_inter_kept"),
                F.coalesce("n_union_kept", F.lit(0)).cast("long")
                 .alias("n_union_kept"),
                F.expr("CASE WHEN coalesce(n_union_kept, 0) > 0 THEN "
                       "1000 * coalesce(n_inter_kept, 0) "
                       "div n_union_kept ELSE 0 END")
                 .cast("long").alias("est_jaccard_permille"),
                F.expr("1000 * coalesce(n_inter, 0) div "
                       "(size_a + size_b - coalesce(n_inter, 0))")
                 .cast("long").alias("exact_jaccard_permille"))
            .orderBy("type_a", "type_b"))


QUERIES["sketch_theta_jaccard"] = sketch_theta_jaccard
ORACLES["sketch_theta_jaccard"] = f"""
WITH dist AS (
  SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type,
         CAST({{hash_sql}} AS BIGINT) AS hv
  FROM dist),
rk AS (
  SELECT event_type, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM h),
kept AS (SELECT * FROM rk WHERE rk <= {THETA_K}),
theta AS (
  SELECT event_type,
         CASE WHEN MAX(n) >= {THETA_K}
              THEN MAX(CASE WHEN rk = {THETA_K} THEN hv END)
              ELSE {THETA_RANGE} END AS th
  FROM kept GROUP BY event_type),
pairs AS (
  SELECT ta.event_type AS type_a, tb.event_type AS type_b,
         LEAST(ta.th, tb.th) AS th
  FROM theta ta JOIN theta tb ON ta.event_type < tb.event_type),
nu AS (
  SELECT type_a, type_b, COUNT(*) AS n_union_kept FROM (
    SELECT DISTINCT p.type_a, p.type_b, k.hv
    FROM pairs p
    JOIN kept k ON (k.event_type = p.type_a OR k.event_type = p.type_b)
               AND k.hv < p.th)
  GROUP BY type_a, type_b),
ni AS (
  SELECT p.type_a, p.type_b, COUNT(*) AS n_inter_kept
  FROM pairs p
  JOIN kept a ON a.event_type = p.type_a AND a.hv < p.th
  JOIN kept b ON b.event_type = p.type_b AND b.hv = a.hv
  GROUP BY p.type_a, p.type_b),
inter AS (
  SELECT x.event_type AS type_a, y.event_type AS type_b,
         COUNT(*) AS n_inter
  FROM dist x JOIN dist y
    ON x.user_id = y.user_id AND x.event_type < y.event_type
  GROUP BY 1, 2),
sizes AS (
  SELECT event_type, COUNT(*) AS n_set FROM dist GROUP BY event_type)
SELECT p.type_a, p.type_b,
       CAST(COALESCE(i.n_inter_kept, 0) AS BIGINT) AS n_inter_kept,
       CAST(COALESCE(u.n_union_kept, 0) AS BIGINT) AS n_union_kept,
       CAST(CASE WHEN COALESCE(u.n_union_kept, 0) > 0
                 THEN 1000 * COALESCE(i.n_inter_kept, 0) // u.n_union_kept
                 ELSE 0 END AS BIGINT) AS est_jaccard_permille,
       CAST(1000 * COALESCE(x.n_inter, 0)
            // (za.n_set + zb.n_set - COALESCE(x.n_inter, 0)) AS BIGINT)
         AS exact_jaccard_permille
FROM pairs p
LEFT JOIN nu u ON u.type_a = p.type_a AND u.type_b = p.type_b
LEFT JOIN ni i ON i.type_a = p.type_a AND i.type_b = p.type_b
JOIN sizes za ON za.event_type = p.type_a
JOIN sizes zb ON zb.event_type = p.type_b
LEFT JOIN inter x ON x.type_a = p.type_a AND x.type_b = p.type_b
ORDER BY p.type_a, p.type_b
""".replace("{hash_sql}", _theta_hash_sql("user_id", "VARCHAR"))
