"""Self-observability exposition — the reference's Prometheus scrape
surface (service/telemetry.go:173-209 initOpenCensus: a prometheus
Registry in the ``otelcol`` namespace with resource attributes as
const-labels, keys passed through sanitizePrometheusKey
service/telemetry.go:223-232; proctelemetry/config.go:148-161
InitPrometheusServer: an HTTP server at ``service.telemetry.metrics.
address`` whose mux serves the registry at ``/metrics``) plus the
process self-telemetry gauges
(service/internal/proctelemetry/process_telemetry.go:138-199:
process_uptime, process_runtime_heap_alloc_bytes,
process_runtime_total_alloc_bytes, process_runtime_total_sys_memory_
bytes, process_cpu_seconds, process_memory_rss).

Spark-first mapping: the engine's counters already live in
:class:`~..exporters.obsreport.ObsReport` keyed (component, signal,
metric); this module renders them in Prometheus text exposition format
0.0.4 under the reference's metric names
(otelcol_receiver_accepted_spans{receiver=...} etc., the
obsmetrics/obs_receiver.go:20-34 / obs_exporter.go:16-28 /
obs_processor.go:16-22 naming), derives the queue occupancy gauge
(otelcol_exporter_queue_size = enqueued - dequeued,
exporterhelper/queued_retry.go's queue_size view), and appends the
process gauges.  The Go runtime readings map to their Linux /proc
equivalents (documented per-gauge below); heap-alloc deltas feed a
monotonic total-alloc counter the way MemStats.TotalAlloc only ever
grows.
"""

from __future__ import annotations

import os
import threading
import time

__all__ = ["sanitize_prometheus_key", "ProcessMetrics",
           "PrometheusExposition", "serve_prometheus"]


def sanitize_prometheus_key(s: str) -> str:
    """sanitizePrometheusKey (service/telemetry.go:223-232): every rune
    that is not a letter, digit, or ``_`` becomes ``_``."""
    return "".join(c if c.isalnum() or c == "_" else "_" for c in s)


# item-name suffix per signal (obsmetrics: spans / metric_points /
# log_records); unknown signals sanitize through as-is
_ITEMS = {"traces": "spans", "metrics": "metric_points",
          "logs": "log_records"}

# ObsReport metric -> (component kind, metric name template).  {item}
# is the per-signal data-item suffix.
_OBS_NAMES = {
    "accepted": ("receiver", "receiver_accepted_{item}"),
    "refused": ("receiver", "receiver_refused_{item}"),
    "sent": ("exporter", "exporter_sent_{item}"),
    "send_failed": ("exporter", "exporter_send_failed_{item}"),
    "dropped": ("processor", "processor_dropped_{item}"),
    "enqueued": ("exporter", "exporter_enqueued_{item}"),
    "dequeued": ("exporter", "exporter_dequeued_{item}"),
    "sent_arrow_batches": ("exporter", "exporter_sent_arrow_batches"),
    "sent_unary_batches": ("exporter", "exporter_sent_unary_batches"),
    "scraped_metric_points": ("scraper", "scraper_scraped_metric_points"),
    "errored_metric_points": ("scraper", "scraper_errored_metric_points"),
}


def _item(signal: str) -> str:
    return _ITEMS.get(signal, sanitize_prometheus_key(signal))


def _read_proc_status() -> dict[str, int]:
    """VmRSS/VmSize/VmData from /proc/self/status, in bytes (kB fields)."""
    out: dict[str, int] = {}
    try:
        with open("/proc/self/status", "rb") as f:
            for line in f:
                k, _, v = line.partition(b":")
                key = k.decode()
                if key in ("VmRSS", "VmSize", "VmData"):
                    out[key] = int(v.split()[0]) * 1024
    except OSError:
        pass
    return out


class ProcessMetrics:
    """The proctelemetry gauge set (process_telemetry.go:138-199) with
    Python/Linux readings:

    - ``process_uptime`` — seconds since construction (counter,
      updateProcessUptime :208-211)
    - ``process_cpu_seconds`` — user+system CPU from ``os.times()``
      (counter, updateCPUSeconds :229-233)
    - ``process_memory_rss`` — VmRSS (gauge, updateRSSMemory :235-239)
    - ``process_runtime_heap_alloc_bytes`` — VmData, the process data
      segment: the closest /proc analog of MemStats.HeapAlloc (gauge)
    - ``process_runtime_total_alloc_bytes`` — monotonic sum of positive
      heap-alloc deltas between observations; like MemStats.TotalAlloc
      it only grows (counter)
    - ``process_runtime_total_sys_memory_bytes`` — VmSize, memory
      obtained from the OS ≈ MemStats.Sys (gauge)
    """

    def __init__(self) -> None:
        self._t0 = time.monotonic()
        self._lock = threading.Lock()
        self._last_heap = 0
        self._total_alloc = 0

    def snapshot(self) -> list[tuple[str, str, str, float]]:
        """[(name, prom type, help, value)] for the six gauges."""
        mem = _read_proc_status()
        heap = mem.get("VmData", 0)
        with self._lock:
            if heap > self._last_heap:
                self._total_alloc += heap - self._last_heap
            self._last_heap = heap
            total_alloc = self._total_alloc
        t = os.times()
        return [
            ("process_uptime", "counter",
             "Uptime of the process", time.monotonic() - self._t0),
            ("process_runtime_heap_alloc_bytes", "gauge",
             "Bytes of allocated heap objects", float(heap)),
            ("process_runtime_total_alloc_bytes", "counter",
             "Cumulative bytes allocated for heap objects",
             float(total_alloc)),
            ("process_runtime_total_sys_memory_bytes", "gauge",
             "Total bytes of memory obtained from the OS",
             float(mem.get("VmSize", 0))),
            ("process_cpu_seconds", "counter",
             "Total CPU user and system time in seconds",
             t.user + t.system),
            ("process_memory_rss", "gauge",
             "Total physical memory (resident set size)",
             float(mem.get("VmRSS", 0))),
        ]


def _escape_label(v: str) -> str:
    return v.replace("\\", r"\\").replace('"', r'\"').replace("\n", r"\n")


class PrometheusExposition:
    """Renders the engine's self-telemetry in Prometheus text exposition
    format 0.0.4 — the surface promhttp serves for the reference's
    registry.  ``level`` gates collection like configtelemetry does:
    ``none`` renders an empty exposition (the reference doesn't even
    start the server at level none — the Collector mirrors that and
    additionally refuses to attach)."""

    def __init__(self, obsreport=None, process: ProcessMetrics | None = None,
                 resource: dict | None = None, level: str = "basic",
                 namespace: str = "otelcol"):
        self.obsreport = obsreport
        self.process = process
        self.level = level
        self.namespace = namespace
        # resource attrs -> const labels, keys sanitized
        # (service/telemetry.go:190-193)
        self.const_labels = {
            sanitize_prometheus_key(str(k)): str(v)
            for k, v in (resource or {}).items()}

    # -- rendering ---------------------------------------------------------

    def _labels(self, extra: dict[str, str]) -> str:
        merged = {**self.const_labels, **extra}
        if not merged:
            return ""
        inner = ",".join(f'{k}="{_escape_label(v)}"'
                         for k, v in sorted(merged.items()))
        return "{" + inner + "}"

    def render(self) -> bytes:
        if self.level == "none":
            return b""
        ns = self.namespace
        # family -> (type, [(labels, value)]) keeps one HELP/TYPE header
        # per family with all its series beneath (the exposition format's
        # grouping rule)
        families: dict[str, tuple[str, list[tuple[str, float]]]] = {}

        def add(name: str, typ: str, labels: dict[str, str], value: float):
            fam = families.setdefault(f"{ns}_{name}", (typ, []))
            fam[1].append((self._labels(labels), value))

        if self.obsreport is not None:
            # Signal-independent families (no {item} in the template)
            # and the queue gauge are summed ACROSS signals per
            # component first: emitting one series per (comp, signal)
            # under a comp-only label set would produce duplicate
            # label sets within a family — invalid exposition 0.0.4
            # that strict scrapers reject.
            queue_depth: dict[str, int] = {}
            itemless: dict[tuple[str, str], float] = {}
            for (comp, signal, metric), n in sorted(
                    self.obsreport.snapshot().items()):
                kind, tmpl = _OBS_NAMES[metric]
                if "{item}" in tmpl:
                    add(tmpl.format(item=_item(signal)), "counter",
                        {kind: comp}, float(n))
                else:
                    key = (tmpl, kind, comp)
                    itemless[key] = itemless.get(key, 0.0) + n
                if metric in ("enqueued", "dequeued"):
                    d = queue_depth.setdefault(comp, 0)
                    queue_depth[comp] = (
                        d + n if metric == "enqueued" else d - n)
            for (tmpl, kind, comp), total in sorted(itemless.items()):
                add(tmpl, "counter", {kind: comp}, total)
            # queued_retry.go queue_size view: current occupancy
            for comp, depth in sorted(queue_depth.items()):
                add("exporter_queue_size", "gauge", {"exporter": comp},
                    float(depth))
        if self.process is not None:
            for name, typ, _help, value in self.process.snapshot():
                add(name, typ, {}, value)

        lines: list[str] = []
        for fam, (typ, series) in sorted(families.items()):
            lines.append(f"# TYPE {fam} {typ}")
            for labels, value in series:
                v = repr(value) if value != int(value) else str(int(value))
                lines.append(f"{fam}{labels} {v}")
        return ("\n".join(lines) + "\n" if lines else "").encode()


class _PromServer:
    """The standalone scrape server (InitPrometheusServer,
    proctelemetry/config.go:148-161): a mux with the registry handler
    mounted at ``/metrics``, listening at the configured address."""

    def __init__(self, exposition: PrometheusExposition,
                 host: str, port: int):
        from ..sources import http_receiver

        expo = exposition

        class ScrapeHandler(http_receiver.KeepAliveHandler):
            def do_GET(self):                   # noqa: N802 (stdlib name)
                if self.path.split("?", 1)[0] != "/metrics":
                    reply = 404, [], b"not found"
                else:
                    reply = http_receiver.metrics_reply(
                        expo, self.headers.get("Accept-Encoding"))
                http_receiver._send(self, reply)

        self._server = http_receiver.KeepAliveServer((host, port),
                                                     ScrapeHandler)
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        name="prom-metrics", daemon=True)
        self._thread.start()
        self.host, self.port = self._server.server_address[:2]

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}/metrics"

    def close(self) -> None:
        self._server.close()


def serve_prometheus(exposition: PrometheusExposition,
                     address: str) -> _PromServer:
    """Start the scrape endpoint at ``address`` (``host:port``, port 0
    picks a free one) and return the running server."""
    host, _, port_s = address.rpartition(":")
    host = host or "127.0.0.1"
    try:
        port = int(port_s)
    except ValueError:
        raise ValueError(f"telemetry.metrics.address {address!r}: "
                         f"want host:port") from None
    return _PromServer(exposition, host, port)
