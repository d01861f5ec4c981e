"""Every config entry point checks a config the same way.

A component whose config lacks a key its builder reads must be a
ConfigError from ``PipelineGraph(cfg)``, ``Collector.dry_run``,
``Collector.start`` and the CLI ``validate``, with the same message,
before anything is built: never a raw ``KeyError`` at compile, and never
a compile that passes and fails only at ``run()``.  None of these needs
Spark: the checks run before the first builder, so the memory receiver's
source is a stand-in object.
"""

from __future__ import annotations

import pytest
import yaml

from otel_arrow_collector_spark.__main__ import main
from otel_arrow_collector_spark.plans.collector import Collector
from otel_arrow_collector_spark.plans.pipeline import (ConfigError,
                                                       PipelineGraph)

_IN = {"in": {"kind": "memory"}}
_OUT = {"out": {"kind": "null"}}


def _cfg(receivers=_IN, processors=None, exporters=_OUT, connectors=None,
         pipelines=None):
    return {"receivers": receivers, "processors": processors or {},
            "exporters": exporters, "connectors": connectors or {},
            "pipelines": pipelines or {"p": {
                "receivers": list(receivers),
                "processors": list(processors or {}),
                "exporters": list(exporters)}}}


PROBES = {
    "filter_without_where": (
        _cfg(processors={"f": {"kind": "filter"}}),
        "processor 'f': filter needs `where:`"),
    "parquet_exporter_without_path": (
        _cfg(exporters={"e": {"kind": "parquet"}}),
        "exporter 'e': parquet kind needs a `path:`"),
    "router_route_without_where": (
        _cfg(connectors={"r": {"kind": "router", "default": ["b"],
                               "routes": [{"pipelines": ["b"]}]}},
             pipelines={"a": {"receivers": ["in"], "exporters": ["r"]},
                        "b": {"receivers": ["r"], "exporters": ["out"]}}),
        "connector 'r': routes[0] needs a mapping with a `where:`"),
    "router_route_pipelines_not_a_list": (
        _cfg(connectors={"r": {"kind": "router",
                               "routes": [{"where": "true",
                                           "pipelines": "b"}]}},
             pipelines={"a": {"receivers": ["in"], "exporters": ["r"]},
                        "b": {"receivers": ["r"], "exporters": ["out"]}}),
        "connector 'r': routes[0].pipelines must be a list, got str"),
    "router_default_not_a_list": (
        _cfg(connectors={"r": {"kind": "router", "default": "b",
                               "routes": [{"where": "true",
                                           "pipelines": ["b"]}]}},
             pipelines={"a": {"receivers": ["in"], "exporters": ["r"]},
                        "b": {"receivers": ["r"], "exporters": ["out"]}}),
        "connector 'r': default must be a list, got str"),
    "pb_exporter_without_signal": (
        _cfg(exporters={"e": {"kind": "pb", "path": "/nonexistent/pb"}}),
        "exporter 'e': pb kind needs a `signal:`"),
    "grpc_exporter_without_endpoint": (
        _cfg(exporters={"e": {"kind": "grpc"}}),
        "exporter 'e': grpc kind needs an `endpoint:`"),
}


def _uri(cfg: dict) -> str:
    return "yaml:" + yaml.safe_dump(cfg)


@pytest.mark.parametrize("name", sorted(PROBES))
def test_pipeline_graph_checks_each_component(name):
    cfg, msg = PROBES[name]
    with pytest.raises(ConfigError) as e:
        PipelineGraph(cfg)
    assert str(e.value) == msg


@pytest.mark.parametrize("name", sorted(PROBES))
def test_dry_run_raises_the_validate_error(name):
    cfg, msg = PROBES[name]
    with pytest.raises(ConfigError) as e:
        Collector.dry_run(None, _uri(cfg), sources={"in": object()})
    assert str(e.value) == msg


@pytest.mark.parametrize("name", sorted(PROBES))
def test_start_raises_the_validate_error(name):
    cfg, msg = PROBES[name]
    col = Collector(None, _uri(cfg), sources={"in": object()})
    with pytest.raises(ConfigError) as e:
        col.start()
    assert str(e.value) == msg
    assert col.state.value == "Closed"


@pytest.mark.parametrize("name", sorted(PROBES))
def test_cli_validate_prints_the_error(name, capsys):
    cfg, msg = PROBES[name]
    assert main(["validate", "--config", _uri(cfg)]) == 1
    assert capsys.readouterr().err == f"Error: {msg}\n"
