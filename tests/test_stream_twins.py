"""Every streaming twin through the one harness (``tests/stream_twins.py``):
split, restart, re-delivery and the twin's own check, one case each; a
guard that every twin builder has a spec; and a broken twin the harness
must reject."""

from __future__ import annotations

import importlib
import inspect
import pkgutil
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from otel_arrow_collector_spark import streaming
from otel_arrow_collector_spark.streaming.mv_merge import maintain_mv
from tests import stream_twins as st


@pytest.fixture(autouse=True)
def _no_stray_queries(spark):
    yield
    assert not spark.streams.active


@pytest.mark.parametrize("name,prop", [
    pytest.param(name, prop, id=f"{name}-{prop}",
                 marks=[pytest.mark.slow] if prop in twin.slow else [])
    for name, twin in st.TWINS.items() for prop in st.cases(twin)])
def test_twin(spark, name, prop):
    st.PROPERTIES[prop](spark, st.TWINS[name])


def test_every_twin_builder_has_a_spec():
    """Each public ``*_stream`` builder under ``streaming/`` (the
    store-backed runners included) and ``maintain_mv`` is driven by a
    spec: a new twin adds a spec, not a ``_run``."""
    builders = {maintain_mv}
    for m in pkgutil.iter_modules(streaming.__path__):
        mod = importlib.import_module(f"{streaming.__name__}.{m.name}")
        builders |= {fn for name, fn in inspect.getmembers(
            mod, inspect.isfunction)
            if fn.__module__ == mod.__name__ and name.endswith("_stream")
            and not name.startswith("_")}
    covered = {fn for twin in st.TWINS.values() for fn in twin.covers}
    assert not {fn.__qualname__ for fn in builders - covered}


def test_harness_rejects_a_twin_that_drops_a_file(spark):
    """The split property fails on an HHI twin that loses the rows of
    one feed file."""
    hhi = st.TWINS["hhi"]
    broken = replace(hhi, name="hhi_drops_a_file", build=lambda s: hhi.build(
        s.filter(~F.input_file_name().endswith("part-001.parquet"))))
    with pytest.raises(AssertionError, match="differs from the reference"):
        st.check_split(spark, broken, 0)
