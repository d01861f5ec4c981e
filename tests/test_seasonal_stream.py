"""The seasonal-spike twin against the real q97 over the sf0.001
events; split and restart run through the harness
(``tests/stream_twins.py``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from otel_arrow_collector_spark.sources.tables import load_table
from tests import stream_twins as st
from tests.conftest import SF_SMALL


def test_stream_matches_real_q97_on_testdata(spark):
    """End-to-end equivalence against the ACTUAL q97 batch query over
    the sf0.001 events table."""
    rows = [tuple(r) for r in load_table(spark, SF_SMALL, "events").select(
        "event_type",
        F.expr("ts_ns div 1000 div 86400000000").cast("long"),
        F.expr("(ts_ns div 1000 % 86400000000) div 3600000000")
        .cast("long")).collect()]
    got = st.drain(spark, st.TWINS["seasonal"], [rows]).final
    assert st.seasonal_spikes(got) == sorted(
        (r.event_type, r.day, r.hod, r.c, r.hod_total, r.n_cells)
        for r in st._registry(spark, "q97_seasonal_spike").collect())
