"""EWMA's watermark contract; the twin runs through the harness
(``tests/stream_twins.py``)."""

from __future__ import annotations

import pytest

from otel_arrow_collector_spark.operators.relational import EWMA_W
from otel_arrow_collector_spark.streaming.ewma import DAY_US, ewma_stream


def test_watermark_contract_enforced():
    with pytest.raises(ValueError, match="day"):
        ewma_stream(None, watermark_us=EWMA_W * DAY_US)
