"""Streaming delta->cumulative: cross-micro-batch state continuity must
reproduce the batch converter's per-series totals (SURVEY.md §4 item (e))."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from otel_arrow_collector_spark.operators.metrics import delta_to_cumulative
from otel_arrow_collector_spark.streaming.temporality import (
    POINT_SCHEMA, delta_to_cumulative_stream, with_series_fp)


@pytest.fixture(scope="module")
def delta_points(spark):
    """Two int series + one double series of delta points, written as 3
    time-ordered files so the stream sees 3 micro-batches."""
    rows = []
    for k in range(9):
        rows.append(("requests", "|a", 1000 + k * 10, 1000, 2 + k, None, 1))
        rows.append(("requests", "|b", 1000 + k * 10, 1000, 100, None, 1))
        rows.append(("latency", "|a", 1000 + k * 10, 1000, None, 0.5 * k, 1))
    df = spark.createDataFrame(rows, POINT_SCHEMA)
    d = tempfile.mkdtemp(prefix="delta_points_")
    for i in range(3):   # file i = ticks [3i, 3i+3) -> arrival == time order
        (df.filter(F.expr(
            f"CAST((time_unix_nano - 1000) / 10 AS INT) DIV 3 = {i}"))
         .coalesce(1).write.mode("append").parquet(d))
    yield df, d
    shutil.rmtree(d, ignore_errors=True)


def _drain(spark, src, tmp_path, name):
    stream = (spark.readStream.schema(POINT_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (delta_to_cumulative_stream(stream)
         .writeStream.format("memory").queryName(name).outputMode("append")
         .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    return spark.table(name)


def test_stream_matches_batch_totals(spark, delta_points, tmp_path):
    df, src = delta_points
    got = _drain(spark, src, tmp_path, "cum_stream")
    assert got.count() == df.count()
    assert got.select("aggregation_temporality").distinct().first()[0] == 2

    # final cumulative value per series == batch converter's final value
    final = {(r.metric_name, r.series_fp):
             (r.value_int, r.value_double) for r in
             got.withColumn("rn", F.row_number().over(
                 __import__("pyspark.sql.window", fromlist=["Window"])
                 .Window.partitionBy("metric_name", "series_fp")
                 .orderBy(F.col("time_unix_nano").desc())))
                .filter("rn = 1").collect()}
    assert final[("requests", "|a")][0] == sum(2 + k for k in range(9))
    assert final[("requests", "|b")][0] == 900
    assert final[("latency", "|a")][1] == pytest.approx(
        sum(0.5 * k for k in range(9)))


def test_stream_matches_batch_converter_pointwise(spark, delta_points,
                                                  tmp_path):
    """Files arrive in time order -> every emitted point must equal the
    batch (window-based) conversion, not just the totals."""
    df, src = delta_points
    got = _drain(spark, src, tmp_path, "cum_stream_pw")

    from otel_arrow_collector_spark.model.telemetry import METRIC_POINT_SCHEMA
    pad = df.select(
        "metric_name",
        F.lit("").alias("description"), F.lit("").alias("unit"),
        F.lit(2).alias("metric_type"), "aggregation_temporality",
        F.lit(True).alias("is_monotonic"), "start_time_unix_nano",
        "time_unix_nano",
        F.expr("map('fp', named_struct('s', series_fp, 'i', CAST(NULL AS BIGINT),"
               "'d', CAST(NULL AS DOUBLE), 'b', CAST(NULL AS BOOLEAN),"
               "'json', CAST(NULL AS STRING)))").alias("attributes"),
        "value_int", "value_double",
        *[F.lit(None).cast(f.dataType).alias(f.name)
          for f in METRIC_POINT_SCHEMA.fields
          if f.name not in {
              "metric_name", "description", "unit", "metric_type",
              "aggregation_temporality", "is_monotonic",
              "start_time_unix_nano", "time_unix_nano", "attributes",
              "value_int", "value_double", "resource_attributes",
              "scope_name", "scope_version"}],
        F.expr("map()").cast(METRIC_POINT_SCHEMA["resource_attributes"].dataType)
         .alias("resource_attributes"),
        F.lit("").alias("scope_name"), F.lit("").alias("scope_version"),
    ).to(METRIC_POINT_SCHEMA)

    batch = with_series_fp(delta_to_cumulative(pad))
    key = ["metric_name", "time_unix_nano", "value_int", "value_double"]
    got_set = {tuple(r) for r in got.select(*key).collect()}
    batch_set = {tuple(r) for r in batch.select(*key).collect()}
    assert got_set == batch_set


# ---------------------------------------------------------------------------
# streaming twins of q40 (counter rate) and q41/q42 (histogram merge +
# quantile): cross-micro-batch state must reproduce the batch operators
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def counter_points(spark):
    """One rising counter with a mid-stream reset, one steady counter —
    written as 3 time-ordered files (3 micro-batches)."""
    rows = []
    vals_a = [0, 10, 30, 60, 5, 25, 65, 125, 205]   # reset at tick 4
    for k in range(9):
        rows.append(("req_total", "|a", 1_000_000_000 * (k + 1), 0,
                     None, float(vals_a[k]), 2))
        rows.append(("req_total", "|b", 1_000_000_000 * (k + 1), 0,
                     None, 7.0 * k, 2))
    df = spark.createDataFrame(rows, POINT_SCHEMA)
    d = tempfile.mkdtemp(prefix="counter_points_")
    for i in range(3):
        (df.filter(F.expr(
            f"CAST(time_unix_nano / 1000000000 - 1 AS INT) DIV 3 = {i}"))
         .coalesce(1).write.mode("append").parquet(d))
    yield df, d
    shutil.rmtree(d, ignore_errors=True)


def test_counter_rate_stream_matches_batch_window(spark, counter_points,
                                                  tmp_path):
    """Stream rate (state across micro-batches) == batch lag-window rate
    with the same reset semantics — the q40 batch/stream equivalence."""
    from otel_arrow_collector_spark.streaming.temporality import (
        RATE_SCHEMA, counter_rate_stream)
    df, src = counter_points
    stream = (spark.readStream.schema(POINT_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (counter_rate_stream(stream)
         .writeStream.format("memory").queryName("rate_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.table("rate_stream")
    assert got.schema == RATE_SCHEMA

    from pyspark.sql import Window
    w = (Window.partitionBy("metric_name", "series_fp")
         .orderBy("time_unix_nano"))
    batch = (df.withColumn("lv", F.lag("value_double").over(w))
               .withColumn("lts", F.lag("time_unix_nano").over(w))
               .withColumn("rate_per_s", F.when(
                   F.col("lts").isNotNull()
                   & (F.col("time_unix_nano") > F.col("lts")),
                   F.when(F.col("value_double") < F.col("lv"),
                          F.col("value_double"))
                    .otherwise(F.col("value_double") - F.col("lv"))
                   / ((F.col("time_unix_nano") - F.col("lts")) / 1e9))))
    key = ["metric_name", "series_fp", "time_unix_nano", "rate_per_s"]
    assert ({tuple(r) for r in got.select(*key).collect()}
            == {tuple(r) for r in batch.select(*key).collect()})
    # reset tick: value fell 60 -> 5 over 1s => rate is the post-reset
    # value (5/s), not negative
    reset = got.filter("series_fp = '|a' AND time_unix_nano = 5000000000")
    assert reset.first().rate_per_s == pytest.approx(5.0)


@pytest.fixture(scope="module")
def hist_points(spark):
    """Per-event one-hot histogram points for 2 series, 3 files."""
    from otel_arrow_collector_spark.streaming.temporality import (
        HIST_POINT_SCHEMA)
    rows = []
    for k in range(9):
        v = 30.0 * k                      # 0,30,..,240: crosses all bounds
        one_hot = [1 if v < 50 else 0,
                   1 if 50 <= v < 100 else 0,
                   1 if 100 <= v < 200 else 0,
                   1 if v >= 200 else 0]
        rows.append(("latency_hist", "|a", 1000 + k, 1, v,
                     [50.0, 100.0, 200.0], one_hot))
        rows.append(("latency_hist", "|b", 1000 + k, 1, 2 * v,
                     [50.0, 100.0, 200.0],
                     [1 if 2 * v < 50 else 0, 1 if 50 <= 2 * v < 100 else 0,
                      1 if 100 <= 2 * v < 200 else 0, 1 if 2 * v >= 200 else 0]))
    df = spark.createDataFrame(rows, HIST_POINT_SCHEMA)
    d = tempfile.mkdtemp(prefix="hist_points_")
    for i in range(3):
        (df.filter(F.expr(f"CAST(time_unix_nano - 1000 AS INT) DIV 3 = {i}"))
         .coalesce(1).write.mode("append").parquet(d))
    yield df, d
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_histogram_merge_stream_matches_batch_operator(spark, hist_points,
                                                       tmp_path):
    """The LAST streamed snapshot per series == batch merge_histograms on
    the same points, and the quantile read-side agrees between the
    generic HOF expression and q42's hand-rolled CASE."""
    from otel_arrow_collector_spark.operators.metrics import (
        histogram_quantile_col, merge_histograms)
    from otel_arrow_collector_spark.streaming.temporality import (
        HIST_POINT_SCHEMA, histogram_merge_stream)
    df, src = hist_points
    stream = (spark.readStream.schema(HIST_POINT_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (histogram_merge_stream(stream)
         .writeStream.format("memory").queryName("hist_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_hist"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.table("hist_stream")
    # 3 snapshots per series (one per micro-batch); keep the last
    last = (got.withColumn("rn", F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("metric_name", "series_fp")
                .orderBy(F.col("count").desc())))
              .filter("rn = 1"))
    stream_final = {r.series_fp: (r["count"], r["sum"],
                                  list(r.bucket_counts), r.time_unix_nano)
                    for r in last.collect()}

    # batch operator on the same points (series_fp rides in attributes)
    pts = df.select(
        "metric_name", F.lit(3).alias("metric_type"),
        F.lit(0).cast("long").alias("start_time_unix_nano"),
        "time_unix_nano",
        F.expr("map('fp', named_struct('s', series_fp, 'i', CAST(NULL AS "
               "BIGINT), 'd', CAST(NULL AS DOUBLE), 'b', CAST(NULL AS "
               "BOOLEAN), 'json', CAST(NULL AS STRING)))").alias("attributes"),
        F.expr("map()").cast("map<string,struct<s:string,i:bigint,d:double,"
                             "b:boolean,json:string>>")
         .alias("resource_attributes"),
        "count", "sum",
        F.lit(None).cast("double").alias("min"),
        F.lit(None).cast("double").alias("max"),
        "explicit_bounds", "bucket_counts")
    batch = {r.attributes["fp"].s: (r["count"], r["sum"],
                                    list(r.bucket_counts),
                                    r.time_unix_nano)
             for r in merge_histograms(pts).collect()}
    assert set(stream_final) == set(batch)
    for fp in batch:
        sc, ss, sb, st = stream_final[fp]
        bc, bs, bb, bt = batch[fp]
        assert (sc, sb, st) == (bc, bb, bt)
        assert ss == pytest.approx(bs)

    # read-side: generic HOF quantile == q42's specialized CASE text
    from otel_arrow_collector_spark.operators.relational import _hq
    cs = [f"CAST(element_at(bucket_counts, {i + 1}) AS DOUBLE)"
          for i in range(4)]
    check = last.select(
        "series_fp",
        histogram_quantile_col(0.5, "bucket_counts", "explicit_bounds")
            .alias("hof"),
        F.expr(_hq("(0.5 * count)", cs)).alias("case_txt"))
    for r in check.collect():
        assert r.hof == pytest.approx(r.case_txt)


def test_histogram_merge_stream_rejects_mixed_bounds(spark, tmp_path):
    """Mixing bounds within one series fails loudly (the batch
    BoundsMismatchError contract, not a silent mis-merge)."""
    from otel_arrow_collector_spark.streaming.temporality import (
        HIST_POINT_SCHEMA, histogram_merge_stream)
    rows = [("m", "|x", 1, 1, 1.0, [10.0], [1, 0]),
            ("m", "|x", 2, 1, 1.0, [20.0], [0, 1])]
    d = tempfile.mkdtemp(prefix="hist_bad_")
    try:
        spark.createDataFrame(rows, HIST_POINT_SCHEMA) \
             .coalesce(1).write.mode("append").parquet(d)
        stream = (spark.readStream.schema(HIST_POINT_SCHEMA).parquet(d))
        q = (histogram_merge_stream(stream)
             .writeStream.format("memory").queryName("hist_bad")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt_bad"))
             .trigger(availableNow=True).start())
        with pytest.raises(Exception, match="explicit_bounds|mixes"):
            q.awaitTermination(180)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_exp_histogram_merge_stream_matches_batch_operator(spark, tmp_path):
    """Cross-batch scale renegotiation: a COARSER point arriving in a
    LATER micro-batch must downscale the accumulated state (the hard
    direction) — final streamed snapshot == batch merge_exp_histograms
    on the same points."""
    from otel_arrow_collector_spark.operators.metrics import \
        merge_exp_histograms
    from otel_arrow_collector_spark.streaming.temporality import (
        EXPHIST_POINT_SCHEMA, exp_histogram_merge_stream)

    #               ts scale zero cnt  sum   off buckets     noff nbuckets
    rows = [("m", "|a", 1, 2,  1,  4,  1.0,  4,  [1, 2, 3],  -2, [1, 1]),
            ("m", "|a", 2, 1,  1,  3,  2.0,  1,  [5, 6],     -1, [2]),
            ("m", "|a", 3, 0,  2,  5,  3.0, -1,  [7, 8, 9], None, None),
            ("m", "|b", 1, 3,  0,  2,  4.0,  0,  [1, 1],    None, None)]
    df = spark.createDataFrame(
        [dict(metric_name=m, series_fp=fp, time_unix_nano=ts, scale=s,
              zero_count=z, count=c, sum=sv, positive_offset=o,
              positive_bucket_counts=b, negative_offset=no,
              negative_bucket_counts=nb)
         for m, fp, ts, s, z, c, sv, o, b, no, nb in rows],
        EXPHIST_POINT_SCHEMA)
    src = tempfile.mkdtemp(prefix="exphist_points_")
    try:
        for ts in (1, 2, 3):     # one file per tick -> 3 micro-batches
            (df.filter(F.col("time_unix_nano") == ts)
               .coalesce(1).write.mode("append").parquet(src))
        stream = (spark.readStream.schema(EXPHIST_POINT_SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (exp_histogram_merge_stream(stream)
             .writeStream.format("memory").queryName("exphist_stream")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt_eh"))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        got = spark.table("exphist_stream")
        last = {r.series_fp: r for r in
                got.withColumn("rn", F.row_number().over(
                    __import__("pyspark.sql.window", fromlist=["Window"])
                    .Window.partitionBy("series_fp")
                    .orderBy(F.col("count").desc())))
                   .filter("rn = 1").collect()}

        # batch operator on the same points
        pts = df.selectExpr(
            "metric_name", "CAST(4 AS INT) AS metric_type",
            "CAST(0 AS BIGINT) AS start_time_unix_nano", "time_unix_nano",
            "map('fp', named_struct('s', series_fp, 'i', CAST(NULL AS "
            "BIGINT), 'd', CAST(NULL AS DOUBLE), 'b', CAST(NULL AS "
            "BOOLEAN), 'json', CAST(NULL AS STRING))) AS attributes",
            "CAST(map() AS MAP<STRING, STRUCT<s:STRING,i:BIGINT,d:DOUBLE,"
            "b:BOOLEAN,json:STRING>>) AS resource_attributes",
            "scale", "zero_count", "count", "sum",
            "CAST(NULL AS DOUBLE) AS min", "CAST(NULL AS DOUBLE) AS max",
            "positive_offset", "positive_bucket_counts",
            "negative_offset", "negative_bucket_counts")
        batch = {r.attributes["fp"].s: r
                 for r in merge_exp_histograms(pts).collect()}
        assert set(last) == set(batch) == {"|a", "|b"}
        for fp in batch:
            s, b = last[fp], batch[fp]
            assert s.scale == b.scale
            assert s.positive_offset == b.positive_offset
            assert list(s.positive_bucket_counts) == \
                list(b.positive_bucket_counts)
            assert (s.zero_count, s["count"]) == (b.zero_count, b["count"])
            assert s["sum"] == pytest.approx(b["sum"])
            assert s.time_unix_nano == b.time_unix_nano
        # the |a series ends at the coarsest scale seen (0)
        assert last["|a"].scale == 0
        # negative side merged and downscaled too: scale 2 off -2 [1,1]
        # -> scale 0 idx {-1}; scale 1 off -1 [2] -> scale 0 idx {-1}
        ba = batch["|a"]
        assert last["|a"].negative_offset == ba.negative_offset
        assert (list(last["|a"].negative_bucket_counts)
                == list(ba.negative_bucket_counts) == [4])
    finally:
        shutil.rmtree(src, ignore_errors=True)


@pytest.mark.slow
def test_streaming_spanmetrics_composition(spark, tmp_path):
    """Traces stream -> per-micro-batch span_red_metrics (delta
    histograms) -> histogram_merge_stream (cumulative) == batch
    span_red_metrics over ALL spans: the traces->metrics connector
    composes with the stateful merge exactly as the batch path."""
    from otel_arrow_collector_spark.model.telemetry import generate_traces
    from otel_arrow_collector_spark.operators.spans import span_red_metrics
    from otel_arrow_collector_spark.streaming.temporality import (
        HIST_POINT_SCHEMA, histogram_merge_stream)

    spans = generate_traces(spark, 12)
    src = tempfile.mkdtemp(prefix="spanmetrics_src_")
    bounds = [1000.0, 2000.0]
    try:
        # 3 span files -> 3 micro-batches
        for i in range(3):
            (spans.filter(F.expr(
                f"pmod(hash(span_id, name, start_time_unix_nano), 3) = {i}"))
             .coalesce(1).write.mode("append").parquet(src))
        schema = spans.limit(0)._jdf.schema().toDDL()
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))

        # foreachBatch: spanmetrics per micro-batch -> append to a delta
        # point sink consumed by the stateful merge (two-stage pipeline)
        pts_dir = str(tmp_path / "red_points")

        def to_red(batch_df, batch_id):
            pts = span_red_metrics(batch_df, bounds_ms=bounds).select(
                "metric_name",
                F.expr("concat(attributes['span.name'].s, '|', "
                       "CAST(attributes['status.code'].i AS STRING))")
                 .alias("series_fp"),
                "time_unix_nano", "count", "sum",
                "explicit_bounds", "bucket_counts")
            pts.coalesce(1).write.mode("append").parquet(pts_dir)

        q1 = (stream.writeStream.foreachBatch(to_red)
              .option("checkpointLocation", str(tmp_path / "ckpt_red1"))
              .trigger(availableNow=True).start())
        q1.awaitTermination(180)

        merged_stream = (spark.readStream.schema(HIST_POINT_SCHEMA)
                         .option("maxFilesPerTrigger", 1).parquet(pts_dir))
        q2 = (histogram_merge_stream(merged_stream)
              .writeStream.format("memory").queryName("red_merged")
              .outputMode("append")
              .option("checkpointLocation", str(tmp_path / "ckpt_red2"))
              .trigger(availableNow=True).start())
        q2.awaitTermination(180)

        last = {r.series_fp: r for r in
                spark.table("red_merged")
                     .withColumn("rn", F.row_number().over(
                         __import__("pyspark.sql.window",
                                    fromlist=["Window"])
                         .Window.partitionBy("series_fp")
                         .orderBy(F.col("count").desc())))
                     .filter("rn = 1").collect()}
        batch = {(f"{r.attributes['span.name'].s}|"
                  f"{r.attributes['status.code'].i}"): r
                 for r in span_red_metrics(spans, bounds_ms=bounds)
                     .collect()}
        assert set(last) == set(batch)
        for k in batch:
            assert last[k]["count"] == batch[k]["count"]
            assert (list(last[k].bucket_counts)
                    == list(batch[k].bucket_counts))
            assert last[k]["sum"] == pytest.approx(batch[k]["sum"])
    finally:
        shutil.rmtree(src, ignore_errors=True)
