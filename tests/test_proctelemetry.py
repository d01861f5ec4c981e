"""Prometheus exposition + process self-telemetry
(service/telemetry.go:173-232, proctelemetry/config.go:148-161,
proctelemetry/process_telemetry.go:138-199)."""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request

import pytest

from otel_arrow_collector_spark.exporters.obsreport import ObsReport
from otel_arrow_collector_spark.plans.proctelemetry import (
    ProcessMetrics, PrometheusExposition, sanitize_prometheus_key,
    serve_prometheus)

PROC_NAMES = {
    "process_uptime", "process_runtime_heap_alloc_bytes",
    "process_runtime_total_alloc_bytes",
    "process_runtime_total_sys_memory_bytes",
    "process_cpu_seconds", "process_memory_rss",
}


def _parse(text: str) -> dict[str, float]:
    """{'name{labels}': value} for every sample line."""
    out = {}
    for line in text.splitlines():
        if not line or line.startswith("#"):
            continue
        key, _, val = line.rpartition(" ")
        out[key] = float(val)
    return out


def test_sanitize_prometheus_key():
    # service/telemetry.go:223-232 — non-alnum runes become _
    assert sanitize_prometheus_key("service.name") == "service_name"
    assert sanitize_prometheus_key("k8s-pod/name") == "k8s_pod_name"
    assert sanitize_prometheus_key("ok_123") == "ok_123"


def test_process_metrics_presence_and_monotonicity():
    pm = ProcessMetrics()
    s1 = {name: v for name, _t, _h, v in pm.snapshot()}
    assert set(s1) == PROC_NAMES
    assert s1["process_memory_rss"] > 0
    assert s1["process_runtime_total_sys_memory_bytes"] > 0
    # burn a little CPU + wall time, then re-observe
    t_end = time.time() + 0.05
    x = 0
    while time.time() < t_end:
        x += 1
    s2 = {name: v for name, _t, _h, v in pm.snapshot()}
    assert s2["process_uptime"] > s1["process_uptime"]
    assert s2["process_cpu_seconds"] >= s1["process_cpu_seconds"]
    assert (s2["process_runtime_total_alloc_bytes"]
            >= s1["process_runtime_total_alloc_bytes"])


def test_exposition_reference_names_and_labels():
    obs = ObsReport()
    obs.record("otlp", "traces", "accepted", 7)
    obs.record("otlp", "metrics", "refused", 2)
    obs.record("otlp/http", "logs", "sent", 5)
    obs.record("batcher", "traces", "dropped", 1)
    expo = PrometheusExposition(
        obsreport=obs, resource={"service.name": "col", "run-id": "r1"})
    samples = _parse(expo.render().decode())
    # obsmetrics naming: receiver_accepted_spans / refused_metric_points /
    # exporter_sent_log_records / processor_dropped_spans, each labeled by
    # component kind, const-labels from sanitized resource keys
    assert samples[
        'otelcol_receiver_accepted_spans{receiver="otlp",'
        'run_id="r1",service_name="col"}'] == 7
    assert samples[
        'otelcol_receiver_refused_metric_points{receiver="otlp",'
        'run_id="r1",service_name="col"}'] == 2
    assert samples[
        'otelcol_exporter_sent_log_records{exporter="otlp/http",'
        'run_id="r1",service_name="col"}'] == 5
    assert samples[
        'otelcol_processor_dropped_spans{processor="batcher",'
        'run_id="r1",service_name="col"}'] == 1


def test_exposition_queue_size_gauge():
    obs = ObsReport()
    obs.record("q", "traces", "enqueued", 10)
    obs.record("q", "traces", "dequeued", 4)
    text = PrometheusExposition(obsreport=obs).render().decode()
    samples = _parse(text)
    assert samples['otelcol_exporter_queue_size{exporter="q"}'] == 6
    assert "# TYPE otelcol_exporter_queue_size gauge" in text
    assert "# TYPE otelcol_exporter_enqueued_spans counter" in text


def test_exposition_level_none_renders_nothing():
    obs = ObsReport()          # collecting instance...
    obs.record("x", "traces", "accepted", 1)
    expo = PrometheusExposition(obsreport=obs, process=ProcessMetrics(),
                                level="none")
    assert expo.render() == b""


def test_standalone_scrape_server_matches_counters():
    obs = ObsReport()
    obs.record("otlp", "traces", "accepted", 3)
    expo = PrometheusExposition(obsreport=obs, process=ProcessMetrics())
    srv = serve_prometheus(expo, "127.0.0.1:0")
    try:
        with urllib.request.urlopen(srv.endpoint) as r:
            assert r.headers["Content-Type"].startswith("text/plain")
            body = r.read().decode()
        samples = _parse(body)
        assert samples['otelcol_receiver_accepted_spans{receiver="otlp"}'] \
            == obs.get("otlp", "traces", "accepted")
        assert {n for n in PROC_NAMES
                if any(k.startswith(f"otelcol_{n}") for k in samples)} \
            == PROC_NAMES
        # counters keep scraping fresh values
        obs.record("otlp", "traces", "accepted", 2)
        with urllib.request.urlopen(srv.endpoint) as r:
            samples = _parse(r.read().decode())
        assert samples['otelcol_receiver_accepted_spans{receiver="otlp"}'] == 5
        # only /metrics is mounted (config.go:149-150 mux)
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(srv.endpoint.replace("/metrics", "/"))
        assert ei.value.code == 404
    finally:
        srv.close()


def test_scrape_server_keeps_the_connection_alive():
    """Two scrapes travel on one HTTP/1.1 connection."""
    import http.client
    srv = serve_prometheus(PrometheusExposition(process=ProcessMetrics()),
                           "127.0.0.1:0")
    conn = http.client.HTTPConnection(srv.host, srv.port, timeout=10)
    try:
        socks = []
        for _ in range(2):
            conn.request("GET", "/metrics")
            resp = conn.getresponse()
            assert resp.status == 200 and b"process_uptime" in resp.read()
            assert resp.version == 11 and not resp.will_close
            socks.append(conn.sock)
        assert socks[0] is not None and socks[0] is socks[1]
    finally:
        conn.close()
        srv.close()


def test_bad_address_rejected():
    with pytest.raises(ValueError, match="host:port"):
        serve_prometheus(PrometheusExposition(), "nonsense")


def test_shared_receiver_serves_metrics_and_status(tmp_path):
    """Empty telemetry.metrics.address attaches to the shared live
    server the way /status does."""
    from otel_arrow_collector_spark.sources.http_receiver import (
        OtlpHttpReceiver)
    obs = ObsReport()
    obs.record("otlp", "traces", "accepted", 9)
    rcv = OtlpHttpReceiver(str(tmp_path),
                           exposition=PrometheusExposition(obsreport=obs))
    host, port = rcv.start()
    try:
        with urllib.request.urlopen(f"http://{host}:{port}/metrics") as r:
            samples = _parse(r.read().decode())
        assert samples['otelcol_receiver_accepted_spans{receiver="otlp"}'] \
            == 9
        with urllib.request.urlopen(f"http://{host}:{port}/status") as r:
            assert "counters" in json.loads(r.read())
    finally:
        rcv.stop()


_CFG = """yaml:
receivers: {ev: {kind: memory}}
exporters: {out: {kind: "null"}}
pipelines:
  p1: {receivers: [ev], exporters: [out]}
telemetry:
  metrics: {level: normal, address: "127.0.0.1:0"}
"""

_CFG_NONE = _CFG.replace('level: normal, address: "127.0.0.1:0"',
                         "level: none")


def test_collector_serves_prometheus_at_configured_address(spark):
    from otel_arrow_collector_spark.plans.collector import Collector
    src = spark.range(0, 4)
    col = Collector(spark, _CFG, sources={"ev": src})
    col.start()
    try:
        assert col._prom_server is not None
        with urllib.request.urlopen(col._prom_server.endpoint) as r:
            body = r.read().decode()
        assert "otelcol_process_uptime" in body
        # obsreport counters surface under the same names the JSON
        # dataframe records (component/signal/metric triple)
        for (comp, signal, metric), n in col.obsreport.snapshot().items():
            assert f'"{comp}"' in body or comp in body
    finally:
        col.shutdown()
    assert col._prom_server is None


def test_collector_reload_ends_kept_alive_scrapes(spark):
    """A scraper's kept-alive connection ends with the reload that
    replaces the scrape server, so it never reads the old, frozen
    exposition."""
    import http.client
    from otel_arrow_collector_spark.plans.collector import Collector
    col = Collector(spark, _CFG, sources={"ev": spark.range(0, 4)})
    col.start()
    try:
        old = col._prom_server
        conn = http.client.HTTPConnection(old.host, old.port, timeout=10)
        conn.request("GET", "/metrics")
        resp = conn.getresponse()
        assert resp.status == 200 and resp.read() and not resp.will_close
        col.reload()
        assert col._prom_server is not old
        with pytest.raises(ConnectionError):
            conn.request("GET", "/metrics")
            conn.getresponse()
        conn.close()
    finally:
        col.shutdown()


def test_collector_level_none_starts_no_server(spark):
    from otel_arrow_collector_spark.plans.collector import Collector
    col = Collector(spark, _CFG_NONE, sources={"ev": spark.range(0, 1)})
    col.start()
    try:
        assert col._prom_server is None
        assert col.exposition.render() == b""
    finally:
        col.shutdown()


def test_scrape_respects_accept_encoding_gzip():
    """Server-side response compression (confighttp's other half): a
    scraper advertising Accept-Encoding: gzip gets a gzip body with the
    matching Content-Encoding header; a client without the header gets
    identity; the decompressed bytes equal the identity response."""
    import gzip as _g
    import urllib.request
    obs = ObsReport()
    for i in range(8):          # enough families to clear the 256-byte
        obs.record(f"recv/otlp{i}", "traces", "accepted", 40 + i)
    expo = PrometheusExposition(obsreport=obs, level="normal")
    srv = serve_prometheus(expo, "127.0.0.1:0")
    try:
        plain = urllib.request.urlopen(srv.endpoint).read()
        req = urllib.request.Request(srv.endpoint,
                                     headers={"Accept-Encoding": "gzip"})
        with urllib.request.urlopen(req) as r:
            assert r.headers.get("Content-Encoding") == "gzip"
            assert _g.decompress(r.read()) == plain
        # an unsupported coding falls back to identity, no header
        req2 = urllib.request.Request(srv.endpoint,
                                      headers={"Accept-Encoding": "br"})
        with urllib.request.urlopen(req2) as r2:
            assert r2.headers.get("Content-Encoding") is None
            assert r2.read() == plain
    finally:
        srv.close()


def test_exposition_no_duplicate_label_sets():
    """Signal-independent families (queue gauge, arrow/unary batch
    counters) must sum across signals per component — one series per
    label set within a family is the exposition 0.0.4 validity rule
    strict scrapers enforce."""
    obs = ObsReport(level="detailed")
    for signal in ("traces", "logs", "metrics"):
        obs.record("q", signal, "enqueued", 10)
        obs.record("q", signal, "dequeued", 4)
        obs.record("q", signal, "sent_arrow_batches", 2)
        obs.record("q", signal, "sent_unary_batches", 1)
    text = PrometheusExposition(obsreport=obs).render().decode()
    series = [ln for ln in text.splitlines() if not ln.startswith("#")]
    keys = [ln.rsplit(" ", 1)[0] for ln in series]
    assert len(keys) == len(set(keys)), f"duplicate series: {keys}"
    assert 'otelcol_exporter_queue_size{exporter="q"} 18' in text
    assert 'otelcol_exporter_sent_arrow_batches{exporter="q"} 6' in text
    assert 'otelcol_exporter_sent_unary_batches{exporter="q"} 3' in text


def test_scrape_accept_encoding_q_values():
    """'gzip;q=0, zstd' means the client REFUSES gzip (RFC 9110
    12.4.2): the response must pick zstd, never the q=0 coding."""
    from otel_arrow_collector_spark.sources.compression import \
        encode_response
    body = b"x" * 1024
    coding, payload = encode_response("gzip;q=0, zstd", body)
    assert coding == "zstd"
    coding, _ = encode_response("gzip;q=0.8, zstd;q=0.9", body)
    assert coding == "gzip"       # q>0: first supported token wins
    coding, payload = encode_response("gzip;q=0, zstd;q=0", body)
    assert coding is None and payload == body
    coding, _ = encode_response("br;q=1, gzip;q=garbage", body)
    assert coding is None         # unparseable q treated as exclusion
