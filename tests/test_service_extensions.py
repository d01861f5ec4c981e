"""Service layout + extensions cycle — the reference's canonical
config shape (otelcol/testdata/otelcol-nop.yaml: top-level component
declarations + a `service:` section carrying pipelines/telemetry/
extensions) and the extension build/start/shutdown walk
(service/extensions/extensions.go:29-52, service.go:136-144,198-205)."""

from __future__ import annotations

import subprocess
import sys

import pytest

from otel_arrow_collector_spark.plans.collector import Collector
from otel_arrow_collector_spark.plans.extensions import (
    build_extensions, normalize_service_layout, validate_extensions)
from otel_arrow_collector_spark.plans.pipeline import ConfigError
from otel_arrow_collector_spark.sources.auth import (AuthenticationError,
                                                     resolve_authenticator,
                                                     resolve_client_authenticator)

CANONICAL = """
receivers:
  mem/src: {kind: memory}
exporters:
  sink/mem: {kind: memory}
extensions:
  file_storage:
    directory: %s
  bearer_token_auth/tenant:
    token: sekrit
service:
  extensions: [file_storage, bearer_token_auth/tenant]
  telemetry:
    logs: {level: info}
  pipelines:
    p: {receivers: [mem/src], exporters: [sink/mem]}
"""


def test_service_layout_lifts_to_flat():
    cfg = {"receivers": {"r": {}},
           "service": {"pipelines": {"p": {}},
                       "telemetry": {"logs": {}},
                       "extensions": ["nop"]}}
    out = normalize_service_layout(cfg)
    assert out["pipelines"] == {"p": {}}
    assert out["telemetry"] == {"logs": {}}
    assert out["service_extensions"] == ["nop"]
    assert "service" not in out
    # flat configs pass through untouched
    flat = {"pipelines": {"p": {}}}
    assert normalize_service_layout(dict(flat)) == flat


def test_service_layout_rejects_ambiguity_and_unknown_keys():
    with pytest.raises(ConfigError, match="pick one"):
        normalize_service_layout({"pipelines": {}, "service":
                                  {"pipelines": {}}})
    with pytest.raises(ConfigError, match="unknown keys"):
        normalize_service_layout({"service": {"pipelnes": {}}})


def test_extension_validation():
    with pytest.raises(ConfigError, match="undeclared extension"):
        validate_extensions({}, ["file_storage"])
    with pytest.raises(ConfigError, match="unknown type"):
        validate_extensions({"blorp/x": {}}, ["blorp/x"])
    with pytest.raises(ConfigError, match="needs a `token:`"):
        validate_extensions({"bearer_token_auth": {}}, ["bearer_token_auth"])
    validate_extensions({"nop": None}, ["nop"])     # ok


def test_bearer_extension_registers_both_halves_and_unregisters():
    built = build_extensions({"bearer_token_auth/t1": {"token": "abc"}},
                             ["bearer_token_auth/t1"])
    try:
        srv = resolve_authenticator("bearer_token_auth/t1")
        assert srv.authenticate({"authorization": "Bearer abc"})
        with pytest.raises(AuthenticationError):
            srv.authenticate({"authorization": "Bearer nope"})
        cli = resolve_client_authenticator("bearer_token_auth/t1/client")
        assert "authorization" in {k.lower()
                                   for k in cli.auth_headers()}
    finally:
        built.shutdown()
    with pytest.raises(ValueError, match="not found"):
        resolve_authenticator("bearer_token_auth/t1")
    # shutdown released the names: a rebuild re-registers cleanly
    built2 = build_extensions({"bearer_token_auth/t1": {"token": "x"}},
                              ["bearer_token_auth/t1"])
    built2.shutdown()


def test_collector_runs_canonical_reference_layout(spark, tmp_path):
    """A reference-shaped YAML (service: wrapper + extensions) compiles,
    runs, exposes the started extensions, and shuts them down."""
    yaml_cfg = CANONICAL % str(tmp_path / "store")
    src = spark.range(0, 7)
    col = Collector(spark, "yaml:" + yaml_cfg, sources={"mem/src": src})
    res = col.start()
    assert len(res["p/sink/mem"]) == 7
    store = col.extensions.get("file_storage")
    client = store.get_client("exporter", "sink/mem")
    client.set("k", b"v")
    assert client.get("k") == b"v"
    assert resolve_authenticator("bearer_token_auth/tenant") is not None
    # reload rebuilds extensions without duplicate-name errors
    res2 = col.reload()
    assert len(res2["p/sink/mem"]) == 7
    col.shutdown()
    with pytest.raises(ValueError, match="not found"):
        resolve_authenticator("bearer_token_auth/tenant")
    assert col.extensions is None


def test_dry_run_validates_extensions(spark):
    bad = """
receivers:
  mem/src: {kind: memory}
exporters:
  sink/mem: {kind: memory}
service:
  extensions: [never_declared]
  pipelines:
    p: {receivers: [mem/src], exporters: [sink/mem]}
"""
    with pytest.raises(ConfigError, match="undeclared extension"):
        Collector.dry_run(spark, "yaml:" + bad,
                          sources={"mem/src": spark.range(1)})


def test_cli_validate_accepts_service_layout(tmp_path):
    cfg = tmp_path / "svc.yaml"
    cfg.write_text("""
receivers:
  src/events: {kind: parquet, path: /root/testdata/sf0.001/events.parquet}
exporters:
  sink/null: {kind: "null"}
extensions:
  zpages: {}
service:
  extensions: [zpages]
  pipelines:
    p: {receivers: [src/events], exporters: [sink/null]}
""")
    r = subprocess.run([sys.executable, "-m", "otel_arrow_collector_spark",
                        "validate", "--config", str(cfg)],
                       capture_output=True, text=True, timeout=60)
    assert r.returncode == 0, r.stderr
    bad = tmp_path / "bad.yaml"
    bad.write_text(cfg.read_text().replace("[zpages]", "[missing]"))
    r2 = subprocess.run([sys.executable, "-m", "otel_arrow_collector_spark",
                         "validate", "--config", str(bad)],
                        capture_output=True, text=True, timeout=60)
    assert r2.returncode == 1 and "undeclared extension" in r2.stderr


def test_duplicate_enabled_extension_rejected():
    with pytest.raises(ConfigError, match="more than once"):
        validate_extensions({"nop": None}, ["nop", "nop"])


def test_partial_build_failure_unregisters_auth(tmp_path):
    """A failure mid-build must shut down the partial set — including
    unregistering authenticator names — or every retry in the process
    hits 'already registered' on the poisoned global registry."""
    blocked = tmp_path / "blocked"
    blocked.write_text("not a directory")
    declared = {"bearer_token_auth/t9": {"token": "x"},
                "file_storage": {"directory": str(blocked / "sub")}}
    enabled = ["bearer_token_auth/t9", "file_storage"]
    with pytest.raises(Exception):
        build_extensions(declared, enabled)
    with pytest.raises(ValueError, match="not found"):
        resolve_authenticator("bearer_token_auth/t9")
    # and a corrected retry builds cleanly
    declared["file_storage"]["directory"] = str(tmp_path / "ok")
    built = build_extensions(declared, enabled)
    built.shutdown()


def test_extension_config_type_fences():
    """The config-contract sweep's discipline: scalar/list-shaped
    extension sections are ConfigErrors, never raw AttributeError."""
    with pytest.raises(ConfigError, match="config must be a mapping"):
        validate_extensions({"bearer_token_auth/t": "sekrit"},
                            ["bearer_token_auth/t"])
    with pytest.raises(ConfigError, match="must be a mapping"):
        validate_extensions(["nop"], ["nop"])
    with pytest.raises(ConfigError, match="ids must be strings"):
        validate_extensions({"nop": None}, [5])
    # bare-string shorthand means ONE id, not list('zpages') characters
    validate_extensions({"zpages": {}}, "zpages")
    cfg = normalize_service_layout(
        {"service": {"pipelines": {"p": {}}, "extensions": "zpages"}})
    assert cfg["service_extensions"] == ["zpages"]


def test_extension_kinds_inventory_in_lock_step(capsys, tmp_path):
    """The components CLI lists exactly the extension factory types, and
    each type it lists validates and builds."""
    import yaml

    from otel_arrow_collector_spark.__main__ import main
    from otel_arrow_collector_spark.plans.extensions import _EXTENSIONS
    assert main(["components"]) == 0
    listed = yaml.safe_load(capsys.readouterr().out)["extensions"]
    assert listed == sorted(_EXTENSIONS)
    declared = {t: {"token": "sekrit", "directory": str(tmp_path)}
                for t in listed}
    built = build_extensions(declared, listed)
    try:
        assert list(built.instances) == listed
    finally:
        built.shutdown()


def test_storage_legacy_filename_migrates(tmp_path):
    """State persisted under the pre-digest naming scheme is picked up
    (renamed forward), not silently orphaned."""
    from otel_arrow_collector_spark.plans.storage import (
        FileStorageClient, FileStorageExtension)
    ext = FileStorageExtension(str(tmp_path))
    digest_path = ext.get_client("exporter", "otlp")._path
    ext.shutdown()
    # simulate the old layout: the digest-less stem of the same scope
    stem, _tag = digest_path.rsplit("~", 1)
    legacy = stem + ".kv"
    old = FileStorageClient(legacy)
    old.set("offset", b"42")
    old.close()
    import os
    if os.path.exists(digest_path):
        os.unlink(digest_path)             # drop the digest-named file
    ext2 = FileStorageExtension(str(tmp_path))
    c2 = ext2.get_client("exporter", "otlp")
    assert c2.get("offset") == b"42"
    ext2.shutdown()


_BAD_GRAPH = """
receivers:
  mem/src: {kind: memory}
exporters:
  sink/mem: {kind: memory}
extensions:
  bearer_token_auth/tenant:
    token: sekrit
service:
  extensions: [bearer_token_auth/tenant]
  pipelines:
    p: {receivers: [missing_receiver], exporters: [sink/mem]}
"""


def test_failed_reload_unwinds_extensions(spark, tmp_path):
    """collector.go's failed-apply path is a FULL Shutdown: when reload's
    _setup dies AFTER build_extensions succeeded (graph compile error),
    the freshly started extensions must be torn down and their
    authenticator names unregistered — a later collector reusing the
    same ids must not hit 'already registered'."""
    src = spark.range(0, 3)
    col = Collector(spark, "yaml:" + CANONICAL % str(tmp_path / "s1"),
                    sources={"mem/src": src})
    col.start()
    with pytest.raises(ConfigError):
        col.reload("yaml:" + _BAD_GRAPH)
    assert col.extensions is None
    with pytest.raises(ValueError, match="not found"):
        resolve_authenticator("bearer_token_auth/tenant")
    # registry is clean: same ids build again
    col2 = Collector(spark, "yaml:" + CANONICAL % str(tmp_path / "s2"),
                     sources={"mem/src": src})
    col2.start()
    col2.shutdown()


def test_declared_but_not_enabled_extension_still_validated():
    """The reference fails unmarshal for ANY declared extension with an
    unknown factory or bad config, even if service.extensions does not
    enable it."""
    with pytest.raises(ConfigError, match="unknown type"):
        validate_extensions({"wat/x": {}}, [])
    with pytest.raises(ConfigError, match="token"):
        validate_extensions({"bearer_token_auth/t": {}}, [])


def test_failed_start_unwinds_extensions(spark):
    """collector.go's Run error path performs a full Shutdown: when the
    FIRST start()'s _setup dies after build_extensions succeeded (graph
    compile error), the already-started extensions must be torn down and
    their authenticator names unregistered — otherwise a corrected
    collector reusing the same ids hits 'already registered'."""
    src = spark.range(0, 3)
    col = Collector(spark, "yaml:" + _BAD_GRAPH, sources={"mem/src": src})
    with pytest.raises(ConfigError):
        col.start()
    assert col.extensions is None
    with pytest.raises(ValueError, match="not found"):
        resolve_authenticator("bearer_token_auth/tenant")
    # registry is clean: the same extension id builds again immediately
    built = build_extensions({"bearer_token_auth/tenant": {"token": "s"}},
                             ["bearer_token_auth/tenant"])
    built.shutdown()
