"""The SLO burn twin's watermark contract; the twin runs through the
harness (``tests/stream_twins.py``)."""

from __future__ import annotations

import pytest

from otel_arrow_collector_spark.streaming.slo import HOUR_US, slo_burn_stream


def test_watermark_contract_enforced():
    with pytest.raises(ValueError, match="5-hour shift"):
        slo_burn_stream(None, watermark_us=4 * HOUR_US)
