"""Changepoint: the CUSUM tie-break, and the twin against the real q96
over the sf0.001 events; split and restart run through the harness
(``tests/stream_twins.py``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from otel_arrow_collector_spark.sources.tables import load_table
from otel_arrow_collector_spark.streaming.changepoint import _argmax_cusum
from tests import stream_twins as st
from tests.conftest import SF_SMALL


def test_argmax_matches_q96_tie_break():
    # flat series: every prefix CUSUM is 0 -> earliest day wins the tie
    assert _argmax_cusum({3: 2, 4: 2, 5: 2}) == (3, 0, 3)
    # shift at the end: extremum at the last pre-shift day
    assert _argmax_cusum({0: 1, 1: 1, 2: 10})[0] == 1


def test_stream_matches_real_q96_on_testdata(spark):
    """End-to-end equivalence against the ACTUAL q96 batch query over
    the sf0.001 events table (not just the plain-Python mirror)."""
    rows = [tuple(r) for r in load_table(spark, SF_SMALL, "events").select(
        "event_type", F.expr("ts_ns div 1000 div 86400000000").cast("long"))
        .collect()]
    got = st.drain(spark, st.TWINS["changepoint"], [rows]).final
    assert got == st._keyed(st._registry(spark, "q96_changepoint"),
                            st._cols("event_type"), st.CHANGEPOINT_VALUE)
