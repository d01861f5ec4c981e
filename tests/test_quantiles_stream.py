"""Histogram quantiles: the bin index matches ``width_bucket``, rank
targets are ceil-exact, and a value outside the domain fails every path.
The streaming snapshot equals the batch twin through the harness
(``tests/stream_twins.py``)."""

from __future__ import annotations

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from otel_arrow_collector_spark.streaming.quantiles import (
    _bin_index, _quantiles_from_counts, bin_quantiles_batch)
from tests import stream_twins as st
from tests.stream_twins import BINS, HI, LO


def test_bin_index_matches_width_bucket(spark):
    vals = [0, 1, 9_999, 5_000, 4_999, 77, 9_998]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = [r[0] - 1 for r in df.select(
        F.width_bucket("v", F.lit(LO), F.lit(HI + 1),
                       F.lit(BINS))).collect()]
    assert got == [_bin_index(v, LO, HI, BINS) for v in vals]


def test_quantiles_from_counts_edges():
    counts = [0] * BINS
    counts[3] = 10
    q = _quantiles_from_counts(counts, (50, 99), LO, HI, BINS)
    # every rank lands in bin 3; its inclusive upper bound
    ub = LO + (4 * (HI + 1 - LO)) // BINS - 1
    assert q == [(50, ub, 10), (99, ub, 10)]


def test_out_of_domain_value_fails_both_paths(spark):
    """[LO, HI] is the documented domain: a value just outside it fails
    the pure bin helper, the batch twin and the stream alike, instead
    of landing in an edge bin (width_bucket's -1 / n_bins, or numpy's
    negative index)."""
    twin = st.TWINS["quantiles"]
    for v in (LO - 1, HI + 1):
        with pytest.raises(ValueError):
            _bin_index(v, LO, HI, BINS)
        df = st.frame(spark, twin.schema, [(0, 5), (0, v)])
        with pytest.raises(Exception, match="outside the histogram domain"):
            bin_quantiles_batch(df, LO, HI, BINS).collect()
        with pytest.raises(StreamingQueryException,
                           match="outside the histogram domain"):
            st.drain(spark, twin, [[(0, 5), (0, v)]])
