"""Collector lifecycle — the reference's ``otelcol.Collector`` run cycle
(otelcol/collector.go:144-268): resolve config URIs -> validate ->
build the pipeline graph -> run; ``DryRun`` validates without starting
(collector.go:209-219); a config-watch event re-runs the whole cycle
(hot reload, collector.go:194-208,236-252).

Batch-mode semantics: "running" the graph is materializing its exporters
(CompiledPlan.run); a reload recompiles from freshly-resolved config and
replaces the plan atomically — an invalid new config fails the reload and
the collector transitions to ``Closed`` (the reference treats a failed
apply as fatal: asyncErrorChannel -> shutdown).
"""

from __future__ import annotations

from enum import Enum
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .confmap import resolve
from .featuregate import global_registry
from .pipeline import CompiledPlan, ConfigError, PipelineGraph


def load_config(*uris: str):
    """Resolve and check a config, building and starting nothing — the
    one prefix that ``validate``, ``dry_run``, ``start`` and ``reload``
    share.  Resolve the URIs, lift the reference's canonical
    ``service:`` layout (service.pipelines/telemetry/extensions ->
    flat), apply its ``feature_gates`` section (flag.go syntax: "gate",
    "+gate", "-gate") against the global registry, then check the
    telemetry section (service/telemetry/config.go Validate runs at
    resolve time), the extensions (top-level ``extensions:`` declares
    instances, ``service.extensions`` enables them) and the pipeline
    graph.  Returns ``(telemetry, (declared, enabled), graph)``."""
    from .extensions import (_id_list, normalize_service_layout,
                             validate_extensions)
    from .telemetry import parse_telemetry
    cfg = normalize_service_layout(resolve(*uris))
    global_registry().apply_flags(cfg.pop("feature_gates", None))
    telemetry = parse_telemetry(cfg.pop("telemetry", None))
    extensions = (cfg.pop("extensions", None) or {},
                  _id_list(cfg.pop("service_extensions", None),
                           "service.extensions"))
    validate_extensions(*extensions)
    return telemetry, extensions, PipelineGraph(cfg)


class State(Enum):
    """collector.go State machine (Starting/Running/Closing/Closed)."""
    STARTING = "Starting"
    RUNNING = "Running"
    CLOSED = "Closed"


class Collector:
    """Config-driven engine instance with dry-run and hot-reload."""

    def __init__(self, spark: SparkSession, *config_uris: str,
                 sources: dict[str, DataFrame] | None = None,
                 sf_dir: str | None = None):
        self.spark = spark
        self.config_uris = list(config_uris)
        self.sources = sources or {}
        self.sf_dir = sf_dir
        self.state = State.STARTING
        self.plan: CompiledPlan | None = None
        # service self-telemetry (service/telemetry/config.go): set by
        # the config's telemetry: section at _setup time; defaults
        # until then so logger/tracer access never pre-dates start
        from .telemetry import TelemetryConfig
        self.telemetry = TelemetryConfig()
        self.logger = None
        self.span_recorder = None
        self.graph = None
        self.extensions = None
        # process self-telemetry starts its uptime clock at collector
        # construction and survives reloads (process_telemetry.go
        # registers once at service start)
        from .proctelemetry import ProcessMetrics
        self.process_metrics = ProcessMetrics()
        self.exposition = None
        self._prom_server = None

    # -- DryRun: parse + validate + compile, never materialize -------------

    @staticmethod
    def dry_run(spark: SparkSession, *config_uris: str,
                sources: dict[str, DataFrame] | None = None,
                sf_dir: str | None = None) -> PipelineGraph:
        """Validate config end-to-end without running any exporter
        (collector.go:209-219).  Raises ConfigError/ResolveError on any
        defect; returns the validated graph."""
        graph = load_config(*config_uris)[2]
        graph.compile(spark, sources=sources or {}, sf_dir=sf_dir)
        return graph

    # -- run cycle ----------------------------------------------------------

    def _record_span(self, name: str, t0: float, *, error: bool = False,
                     detail: str = "") -> None:
        """Self-trace an operation boundary into the tracez recorder
        (the always-record sampler: every span is visible to zpages)."""
        if self.span_recorder is not None:
            import time as _time
            self.span_recorder.record(
                name, int((_time.perf_counter() - t0) * 1e6),
                error=error, detail=detail)

    def _setup(self) -> CompiledPlan:
        import time as _time
        from .extensions import build_extensions
        from .telemetry import configure_logger
        self.telemetry, extensions, graph = load_config(*self.config_uris)
        # extensions build + start before the pipeline graph compiles
        # (service.go:136-144: Start starts extensions FIRST, then
        # pipelines); a reload rebuilds them from the fresh config
        if self.extensions is not None:
            self.extensions.shutdown()
        self.extensions = build_extensions(*extensions)
        self.logger = configure_logger(self.telemetry.logs)
        # the collector's own counter surface at the configured
        # metrics level; components built around this collector pass
        # it as their obsreport= (level "none" collects nothing)
        from ..exporters.obsreport import ObsReport
        self.obsreport = ObsReport(level=self.telemetry.metrics.level)
        # Prometheus scrape surface (service/telemetry.go:173-209 +
        # proctelemetry/config.go:148-161): render the collector's
        # counters + process gauges; a standalone server only when
        # service.telemetry.metrics.address is configured and the
        # level isn't none (initOpenCensus is skipped at none)
        from .proctelemetry import PrometheusExposition, serve_prometheus
        if self._prom_server is not None:        # reload: rebind address
            self._prom_server.close()
            self._prom_server = None
        self.exposition = PrometheusExposition(
            obsreport=self.obsreport, process=self.process_metrics,
            resource=self.telemetry.resource,
            level=self.telemetry.metrics.level)
        if (self.telemetry.metrics.address
                and self.telemetry.metrics.level != "none"):
            self._prom_server = serve_prometheus(
                self.exposition, self.telemetry.metrics.address)
        if self.telemetry.traces.enabled:
            from .zpages import SpanRecorder
            if self.span_recorder is None:
                self.span_recorder = SpanRecorder(
                    self.telemetry.traces.samples_per_bucket)
        else:
            self.span_recorder = None
        t0 = _time.perf_counter()
        try:
            self.graph = graph
            plan = graph.compile(self.spark, sources=self.sources,
                                 sf_dir=self.sf_dir)
        except Exception as e:
            self._record_span("collector/compile", t0, error=True,
                              detail=type(e).__name__)
            raise
        self._record_span("collector/compile", t0,
                          detail=f"{len(graph.pipelines)} pipelines")
        return plan

    def start(self) -> dict[str, Any]:
        """Resolve + compile + materialize; returns exporter results."""
        if self.state is State.CLOSED:
            raise RuntimeError("collector is closed")
        import time as _time
        try:
            self.plan = self._setup()
        except Exception:
            # collector.go's Run error path shuts the service down in
            # full on ANY setup error (config, graph compile, telemetry
            # server bind, ...): if _setup died after build_extensions
            # succeeded, the extensions are started and their
            # authenticator names registered — unwind them (same
            # poisoned-registry fence as the reload() failed-apply path).
            self.shutdown()
            raise
        self.state = State.RUNNING
        t0 = _time.perf_counter()
        try:
            res = self.plan.run()
        except Exception as e:
            self._record_span("collector/run", t0, error=True,
                              detail=type(e).__name__)
            raise
        self._record_span("collector/run", t0,
                          detail=f"{len(res)} exporter results")
        return res

    def reload(self, *new_uris: str) -> dict[str, Any]:
        """Hot reload: re-run the whole resolve->compile->run cycle with
        the (optionally new) config.  A failed apply closes the collector
        (collector.go: asyncErrorChannel -> shutdown)."""
        if self.state is not State.RUNNING:
            raise RuntimeError(f"cannot reload in state {self.state.value}")
        if new_uris:
            self.config_uris = list(new_uris)
        try:
            new_plan = self._setup()
        except Exception:
            # collector.go failed-apply path is a FULL Shutdown on ANY
            # setup error: if _setup died after build_extensions
            # succeeded, the fresh extensions are already started and
            # their authenticator names registered — shutdown() unwinds
            # them so a retry doesn't hit "already registered" on a
            # poisoned registry.
            self.shutdown()
            raise
        self.plan = new_plan
        return self.plan.run()

    def zpages(self):
        """Assemble the debug-pages surface from this collector's live
        state (servicez resource attrs + obsreport counters, pipelinez
        from the compiled graph, featurez from the global registry,
        tracez from the self-trace recorder) — hand it to a live
        receiver's ``zpages=``."""
        from ..plans.featuregate import global_registry
        from .zpages import ZPages
        return ZPages(graph=self.graph,
                      registry=global_registry(),
                      obsreport=self.obsreport,
                      tracez_recorder=self.span_recorder,
                      resource=self.telemetry.resource)

    def shutdown(self) -> None:
        from ..operators.cache_registry import clear_caches
        self.state = State.CLOSED
        self.plan = None
        # service.go:181 shutdown order: pipelines, then extensions.
        # getattr: lifecycle-only instances (tests build via __new__)
        # have no extensions attribute.
        if getattr(self, "extensions", None) is not None:
            self.extensions.shutdown()
            self.extensions = None
        # telemetryInitializer.shutdown closes its metric servers
        # (service/telemetry.go:211-221)
        if getattr(self, "_prom_server", None) is not None:
            self._prom_server.close()
            self._prom_server = None
        clear_caches()      # release memoized substrates, stores and plans
