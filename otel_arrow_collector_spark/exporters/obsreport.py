"""Self-telemetry counters — the reference's observability surface (§2.7):
receiver accepted/refused (internal/obsreportconfig/obsmetrics/
obs_receiver.go:20-34), processor dropped (obs_processor.go:16-22),
exporter sent/send_failed (obs_exporter.go:16-28), recorded at operation
boundaries (obsreport/obsreport_receiver.go:153-310).

Counters are dimensioned by (component_id, signal, metric) — monotonic
sums.  ``as_dataframe`` exposes them as a queryable table so the §2.7
"telemetry matrix" queries (grouping sets over component × signal) run on
the engine's own telemetry.
"""

from __future__ import annotations

import threading
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame

METRICS = ("accepted", "refused", "sent", "send_failed", "dropped",
           "enqueued", "dequeued",
           # scraper surface (obsreport/obsreport_scraper.go)
           "scraped_metric_points", "errored_metric_points",
           # arrow exporter path accounting (netstats-adjacent)
           "sent_arrow_batches", "sent_unary_batches")


#: configtelemetry levels (config/configtelemetry/configtelemetry.go:14-21)
LEVELS = ("none", "basic", "normal", "detailed")


class ObsReport:
    """Thread-safe monotonic counters per (component, signal, metric).

    ``level`` is the configtelemetry knob (service ``telemetry:
    metrics: level``): ``none`` collects nothing (record() validates
    and returns — misuse still raises, data never accumulates); the
    other levels all collect this counter set (the repo's counters are
    the reference's basic tier)."""

    def __init__(self, level: str = "basic") -> None:
        if level not in LEVELS:
            raise ValueError(f"unknown telemetry level {level!r}")
        self.level = level
        self._lock = threading.Lock()
        self._counts: dict[tuple[str, str, str], int] = defaultdict(int)

    def record(self, component: str, signal: str, metric: str,
               count: int = 1) -> None:
        if metric not in METRICS:
            raise ValueError(f"unknown obs metric {metric!r}")
        if count < 0:
            raise ValueError("counters are monotonic")
        if self.level == "none":
            return
        with self._lock:
            self._counts[(component, signal, metric)] += count

    def get(self, component: str, signal: str, metric: str) -> int:
        with self._lock:
            return self._counts.get((component, signal, metric), 0)

    def snapshot(self) -> dict[tuple[str, str, str], int]:
        with self._lock:
            return dict(self._counts)

    def as_dataframe(self, spark: SparkSession) -> DataFrame:
        rows = [(c, s, m, n) for (c, s, m), n in self.snapshot().items()]
        return local_frame(
            spark, rows,
            "component string, signal string, metric string, value long")


def instrumented_sink(obsreport: ObsReport, component: str, signal: str,
                      push):
    """Wrap a foreachBatch sink with exporter-boundary accounting
    (obsreport/obsreport_exporter.go: sent on success, send_failed on
    error; counts are record counts, recorded AFTER the outcome is known).
    Returns a (batch_df, batch_id) callable for ``foreachBatch``."""
    def sink(batch_df, batch_id: int) -> None:
        n = batch_df.count()
        try:
            push(batch_df, batch_id)
        except Exception:
            obsreport.record(component, signal, "send_failed", n)
            raise
        obsreport.record(component, signal, "sent", n)
    return sink


def instrumented_ingest(obsreport: ObsReport, component: str, signal: str,
                        consume):
    """Receiver-boundary accounting (obsreport_receiver.go:153-310):
    accepted on successful consume, refused when the pipeline rejects
    (e.g. DataRefusedError from the memory limiter)."""
    def ingest(batch_df):
        n = batch_df.count()
        try:
            out = consume(batch_df)
        except Exception:
            obsreport.record(component, signal, "refused", n)
            raise
        obsreport.record(component, signal, "accepted", n)
        return out
    return ingest
