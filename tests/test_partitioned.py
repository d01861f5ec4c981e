"""Time-partitioned layout: a time-bounded query must prune partitions at
the scan (PartitionFilters), reading only matching directories."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from otel_arrow_collector_spark import plan_tree
from otel_arrow_collector_spark.sources import load_table
from otel_arrow_collector_spark.sources.partitioned import (
    read_time_partitioned, write_time_partitioned)
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def day_partitioned_events(spark):
    d = tempfile.mkdtemp(prefix="events_bydate_")
    write_time_partitioned(load_table(spark, SF_SMALL, "events"), d,
                           ts_col="ts", granularity="day")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_partition_pruning_in_plan(spark, day_partitioned_events):
    df = read_time_partitioned(spark, day_partitioned_events)
    day = df.select("__part").orderBy("__part").first()[0]
    q = df.filter(F.col("__part") == day)
    pf = [f for s in plan_tree.read(q).scans() for f in s.partition_filters]
    # the bound reached the scan, not a row filter
    assert any("__part" in f for f in pf)


def test_pruned_read_is_complete_and_exact(spark, day_partitioned_events):
    events = load_table(spark, SF_SMALL, "events")
    df = read_time_partitioned(spark, day_partitioned_events)
    day = df.select("__part").orderBy("__part").first()[0]
    want = events.filter(
        F.date_format("ts", "yyyy-MM-dd") == str(day)).count()
    got = df.filter(F.col("__part") == day).count()
    assert got == want and got > 0
    # and the whole dataset survives the layout round-trip
    assert df.count() == events.count()


def test_hour_granularity_and_bad_granularity(spark, tmp_path):
    events = load_table(spark, SF_SMALL, "events").limit(100)
    p = str(tmp_path / "hourly")
    write_time_partitioned(events, p, granularity="hour")
    df = read_time_partitioned(spark, p)
    assert df.count() == 100
    with pytest.raises(ValueError, match="granularity"):
        write_time_partitioned(events, p, granularity="minute")
