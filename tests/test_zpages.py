"""zpages debug-surface tests — the reference's diagnostics pages
(service/zpages.go:17-23 paths; service/internal/graph/zpages.go:21-70
pipelinez table incl. connector annotation and the pipelinenamez filter;
service/zpages.go:78-93 featurez gate table), rendered from live engine
state and served by the OTLP/HTTP receiver."""

from __future__ import annotations

import urllib.request

from otel_arrow_collector_spark.exporters.obsreport import ObsReport
from otel_arrow_collector_spark.plans import PipelineGraph
from otel_arrow_collector_spark.plans.featuregate import Registry, Stage
from otel_arrow_collector_spark.plans.zpages import (BuildInfo, ZPages,
                                                     EXTENSION_PATH,
                                                     FEATURE_PATH,
                                                     PIPELINE_PATH,
                                                     SERVICE_PATH)
from otel_arrow_collector_spark.sources.http_receiver import OtlpHttpReceiver

CFG = """
receivers:
  table/events: {kind: table, table: events}
processors:
  filter/errors: {kind: filter, where: "event_type = 'error'"}
exporters:
  sink/count: {kind: "null"}
connectors:
  forward: {kind: forward}
pipelines:
  errs: {receivers: [table/events], processors: [filter/errors], exporters: [forward]}
  out:  {receivers: [forward], exporters: [sink/count]}
"""


def _zp() -> ZPages:
    reg = Registry()
    reg.register("engine.zpagesTest", Stage.BETA, description="test gate")
    obs = ObsReport()
    obs.record("otlp", "traces", "accepted", 7)
    return ZPages(build_info=BuildInfo(version="1.2.3"),
                  graph=PipelineGraph.from_yaml(CFG), registry=reg,
                  extensions=["zpages", "file_storage"], obsreport=obs)


def test_servicez_build_runtime_links_and_counters():
    body = _zp().servicez().decode()
    assert "Build Info" in body and "1.2.3" in body
    assert "Runtime Info" in body and "Python" in body
    for link in (PIPELINE_PATH, EXTENSION_PATH, FEATURE_PATH):
        assert link in body
    assert "otlp/traces/accepted" in body and ">7<" in body


def test_pipelinez_rows_connector_annotation_and_filter():
    zp = _zp()
    body = zp.pipelinez().decode()
    # both pipelines, connector annotated in BOTH roles
    # (graph/zpages.go:35-54 receiver- and exporter-side switches)
    assert "errs" in body and "out" in body
    assert "forward (connector)" in body
    assert "table/events" in body and "filter/errors" in body
    # immutable DataFrames: mutates-data is constant false
    assert "<td>false</td>" in body
    filtered = zp.pipelinez("out").decode()
    assert "out" in filtered and "filter/errors" not in filtered


def test_featurez_and_extensionz_tables():
    zp = _zp()
    f = zp.featurez().decode()
    assert "engine.zpagesTest" in f and "true" in f and "Beta" in f
    e = zp.extensionz().decode()
    assert "file_storage" in e and "zpages" in e


def test_handle_dispatch_unknown_page_is_none():
    zp = _zp()
    assert zp.handle("/debug/nopez", {}) is None
    code, body = zp.handle(SERVICE_PATH, {})
    assert code == 200 and b"Build Info" in body


def test_zpages_served_by_live_receiver(tmp_path):
    rcv = OtlpHttpReceiver(str(tmp_path / "spool"), zpages=_zp())
    host, port = rcv.start()
    try:
        base = f"http://{host}:{port}"
        with urllib.request.urlopen(f"{base}/debug/servicez") as r:
            assert r.status == 200
            assert r.headers["Content-Type"].startswith("text/html")
            assert b"Build Info" in r.read()
        url = f"{base}/debug/pipelinez?pipelinenamez=errs"
        with urllib.request.urlopen(url) as r:
            page = r.read().decode()
            assert "errs" in page and ">out<" not in page
        # /status JSON surface still works alongside the zpages
        with urllib.request.urlopen(f"{base}/status") as r:
            assert r.status == 200 and b"counters" in r.read()
        try:
            urllib.request.urlopen(f"{base}/debug/unknown")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as exc:
            assert exc.code == 404
    finally:
        rcv.stop()


def test_tracez_recorder_buckets_and_bounds():
    from otel_arrow_collector_spark.plans.zpages import (
        SpanRecorder, TRACEZ_BOUNDS_US, _latency_bucket)
    assert _latency_bucket(0) == 0
    assert _latency_bucket(9) == 0
    assert _latency_bucket(10) == 1
    assert _latency_bucket(999_999) == 5
    assert _latency_bucket(250_000_000) == len(TRACEZ_BOUNDS_US) - 1
    rec = SpanRecorder(samples_per_bucket=3)
    for i in range(10):
        rec.record("op", 50, detail=f"run {i}")     # bucket 1 (>10us)
    rec.record("op", 5_000, error=True, detail="boom")
    counts, errors, samples, err_samples = rec.snapshot()
    assert counts["op"][1] == 10 and counts["op"][3] == 1
    assert errors["op"] == 1
    # bounded retention: only the newest 3 non-error samples kept
    kept = samples[("op", 1)]
    assert [s.detail for s in kept] == ["run 7", "run 8", "run 9"]
    assert err_samples["op"][0].detail == "boom"


def test_tracez_served_by_live_receiver(tmp_path):
    """The r6 verdict ask: /debug/tracez renders latency-bucketed
    recent-operation samples from the receiver's own audit rows, on a
    live socket."""
    from otel_arrow_collector_spark.plans.zpages import SpanRecorder
    zp = _zp()
    zp.tracez_recorder = SpanRecorder()
    rcv = OtlpHttpReceiver(str(tmp_path / "spool"), zpages=zp)
    host, port = rcv.start()
    try:
        base = f"http://{host}:{port}"
        # drive two operations through the receiver: one accepted 404
        # (unknown signal -> error sample), one valid JSON post
        import json as _json
        import urllib.error
        body = _json.dumps({"resourceLogs": []}).encode()
        req = urllib.request.Request(
            f"{base}/v1/logs", data=body,
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
        try:
            urllib.request.urlopen(urllib.request.Request(
                f"{base}/v1/bogus", data=b"x",
                headers={"Content-Type": "application/json"}))
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as exc:
            assert exc.code == 404
        with urllib.request.urlopen(f"{base}/debug/tracez") as r:
            page = r.read().decode()
            assert "receiver/v1/logs" in page
            assert "receiver/v1/bogus" in page
        url = f"{base}/debug/tracez?zspanname=receiver/v1/logs"
        with urllib.request.urlopen(url) as r:
            page = r.read().decode()
            assert "Latency samples: receiver/v1/logs" in page
            assert "HTTP 200" in page
        # error ops land in the error table for their name
        url = f"{base}/debug/tracez?zspanname=receiver/v1/bogus"
        with urllib.request.urlopen(url) as r:
            page = r.read().decode()
            assert "Error samples: receiver/v1/bogus" in page
            assert "HTTP 404" in page
    finally:
        rcv.stop()


def test_tracez_span_recorded_before_the_reply(tmp_path):
    """A client that has read a POST's reply finds its span on the very
    next /debug/tracez fetch: 20 rounds, no client-side sleep, a fresh
    span name each round.  The recorder is slowed down so that a span
    recorded after the reply is written would lose the race every
    time, not once in a while."""
    import time
    import urllib.error
    from otel_arrow_collector_spark.plans.zpages import SpanRecorder

    class SlowRecorder(SpanRecorder):
        def record(self, *args, **kwargs):
            time.sleep(0.02)
            super().record(*args, **kwargs)
    zp = _zp()
    zp.tracez_recorder = SlowRecorder()
    rcv = OtlpHttpReceiver(str(tmp_path / "spool"), zpages=zp)
    host, port = rcv.start()
    try:
        base = f"http://{host}:{port}"
        for i in range(20):
            try:
                urllib.request.urlopen(urllib.request.Request(
                    f"{base}/v1/round{i:02d}", data=b"x",
                    headers={"Content-Type": "application/json"}))
                raise AssertionError("expected 404")
            except urllib.error.HTTPError as exc:
                assert exc.code == 404
                exc.read()
            with urllib.request.urlopen(f"{base}/debug/tracez") as r:
                assert f"receiver/v1/round{i:02d}" in r.read().decode()
    finally:
        rcv.stop()
