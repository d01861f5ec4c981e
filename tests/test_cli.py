"""CLI front door — drives ``python -m otel_arrow_collector_spark`` as a
subprocess, mirroring the reference's cobra surface (otelcol/command.go
root run, command_validate.go `validate`, command_components.go
`components`, flags.go --config/--set/--feature-gates) and its exit
codes (RunE error -> 1)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
import yaml

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

OK_YAML = """
receivers:
  src/events: {kind: parquet, path: /root/testdata/sf0.001/events.parquet}
processors:
  keep: {kind: filter, where: "event_type = 'click'"}
exporters:
  sink/null: {kind: "null"}
pipelines:
  p: {receivers: [src/events], processors: [keep], exporters: [sink/null]}
"""


def _cli(*args: str, timeout: int = 60):
    return subprocess.run(
        [sys.executable, "-m", "otel_arrow_collector_spark", *args],
        capture_output=True, text=True, cwd=REPO, timeout=timeout)


def test_components_yaml_inventory():
    r = _cli("components")
    assert r.returncode == 0, r.stderr
    doc = yaml.safe_load(r.stdout)
    assert doc["buildinfo"]["command"] == "otel-arrow-collector-spark"
    assert "version" in doc["buildinfo"]
    for kind_list, member in [("receivers", "parquet"),
                              ("processors", "memory_limiter"),
                              ("exporters", "grpc"),
                              ("connectors", "spanmetrics"),
                              ("extensions", "file_storage")]:
        assert member in doc[kind_list], kind_list


def test_version_flag():
    r = _cli("--version")
    assert r.returncode == 0
    assert "otel-arrow-collector-spark version" in r.stdout


def test_validate_ok(tmp_path):
    cfg = tmp_path / "ok.yaml"
    cfg.write_text(OK_YAML)
    r = _cli("validate", "--config", str(cfg))
    assert r.returncode == 0, r.stderr
    # file: scheme URI form works too (flags.go documents both)
    r2 = _cli("validate", "--config", f"file:{cfg}")
    assert r2.returncode == 0, r2.stderr


def test_validate_bad_config_exits_nonzero(tmp_path):
    cfg = tmp_path / "bad.yaml"
    cfg.write_text(OK_YAML.replace("kind: filter", "kind: fliter"))
    r = _cli("validate", "--config", str(cfg))
    assert r.returncode == 1
    assert "unknown kind 'fliter'" in r.stderr
    # invalid memory_limiter combination is a validate-time defect
    cfg2 = tmp_path / "bad2.yaml"
    cfg2.write_text(OK_YAML.replace(
        "{kind: filter, where: \"event_type = 'click'\"}",
        "{kind: memory_limiter, limit_mib: 10, spike_limit_mib: 99}"))
    r2 = _cli("validate", "--config", str(cfg2))
    assert r2.returncode == 1
    assert "smaller than" in r2.stderr


def test_no_config_flag_is_an_error():
    # newCollectorWithFlags: "at least one config flag must be provided"
    r = _cli("validate")
    assert r.returncode == 1
    assert "at least one config flag" in r.stderr
    r2 = _cli()
    assert r2.returncode == 1
    assert "at least one config flag" in r2.stderr


def test_set_flag_overrides_and_merges(tmp_path):
    cfg = tmp_path / "ok.yaml"
    cfg.write_text(OK_YAML)
    # --set wins over the file (appended after, deep-merged over)
    r = _cli("validate", "--config", str(cfg),
             "--set", "processors.keep.kind=bogus")
    assert r.returncode == 1
    assert "unknown kind 'bogus'" in r.stderr
    # a missing '=' is rejected like the reference's Func flag
    r2 = _cli("validate", "--config", str(cfg), "--set", "novalue")
    assert r2.returncode == 1
    assert "missing equal sign" in r2.stderr


def test_feature_gates_flag(tmp_path):
    cfg = tmp_path / "ok.yaml"
    cfg.write_text(OK_YAML)
    r = _cli("validate", "--config", str(cfg),
             "--feature-gates", "no.such.gate")
    assert r.returncode == 1
    assert "no.such.gate" in r.stderr


@pytest.mark.slow
def test_run_end_to_end(tmp_path):
    """The root command: resolve -> compile -> materialize exporters,
    results on stdout, exit 0 (subprocess spins a real SparkSession)."""
    cfg = tmp_path / "ok.yaml"
    cfg.write_text(OK_YAML)
    r = _cli("--config", str(cfg), timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "p/sink/null: 210" in r.stdout


# -- property sweep: --set override round-trip ---------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_KEY = st.text(alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1,
               max_size=8)
_SCALAR = st.one_of(
    st.integers(min_value=-10**9, max_value=10**9),
    st.booleans(),
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789_-", min_size=1,
            max_size=12))


@settings(max_examples=60, deadline=None)
@given(keys=st.lists(_KEY, min_size=1, max_size=4), value=_SCALAR)
def test_set_flag_roundtrips_any_dot_key(keys, value):
    """flags.go renders --set a.b.c=v as a yaml: document; the resolved
    config must carry exactly the nested override with YAML-native
    typing (ints stay ints, bools stay bools)."""
    import yaml

    from otel_arrow_collector_spark.__main__ import _set_to_yaml_uri
    from otel_arrow_collector_spark.plans.confmap import resolve
    vs = yaml.safe_dump(value, default_flow_style=True).strip()
    if vs.endswith("\n..."):
        vs = vs[:-4].strip()
    uri = _set_to_yaml_uri(".".join(keys) + "=" + vs)
    cfg = resolve(uri)
    node = cfg
    for k in keys[:-1]:
        node = node[k]
    assert node[keys[-1]] == value


def test_set_flag_rejects_missing_equals_and_empty_key():
    import pytest as _pytest

    from otel_arrow_collector_spark.__main__ import _set_to_yaml_uri
    with _pytest.raises(ValueError, match="equal"):
        _set_to_yaml_uri("no_equals_here")
    with _pytest.raises(ValueError, match="invalid --set key"):
        _set_to_yaml_uri("...=v")


def test_validate_requires_pb_exporter_signal(tmp_path):
    """`validate` must catch the pb exporter's missing signal: the sink
    thunk defers cfg['signal'] into its lambda, so without the config-
    time check the run would die with a raw KeyError at export time."""
    cfg = tmp_path / "pb.yaml"
    cfg.write_text("""
receivers:
  src: {kind: parquet, path: /root/testdata/sf0.001/events.parquet}
exporters:
  e: {kind: pb, path: /tmp/out_pb}
pipelines:
  p: {receivers: [src], exporters: [e]}
""")
    r = _cli("validate", "--config", str(cfg))
    assert r.returncode == 1 and "needs a `signal:`" in r.stderr


def test_validate_parses_transform_statements(tmp_path):
    """A transform processor's OTTL statement text is parsed at
    validate time (Spark-free) — a typo exits 1 with the defect, not a
    compile-time surprise after `validate` said OK."""
    cfg = tmp_path / "ottl.yaml"
    cfg.write_text("""
receivers:
  src: {kind: parquet, path: /root/testdata/sf0.001/events.parquet}
processors:
  t:
    kind: transform
    statements: ['set(attributes["env"], prod']
exporters:
  e: {kind: "null"}
pipelines:
  p: {receivers: [src], processors: [t], exporters: [e]}
""")
    r = _cli("validate", "--config", str(cfg))
    assert r.returncode == 1 and "bad OTTL statement" in r.stderr
    ok = tmp_path / "ottl_ok.yaml"
    ok.write_text(cfg.read_text().replace(
        "'set(attributes[\"env\"], prod'",
        "'set(attributes[\"env\"], \"prod\")'"))
    r2 = _cli("validate", "--config", str(ok))
    assert r2.returncode == 0, r2.stderr


def test_validate_checks_router_route_shapes(tmp_path):
    cfg = tmp_path / "router.yaml"
    cfg.write_text("""
receivers:
  src: {kind: parquet, path: /root/testdata/sf0.001/events.parquet}
connectors:
  route: {kind: router, routes: [{pipelines: [out]}]}
exporters:
  e: {kind: "null"}
pipelines:
  in: {receivers: [src], exporters: [route]}
  out: {receivers: [route], exporters: [e]}
""")
    r = _cli("validate", "--config", str(cfg))
    assert r.returncode == 1 and "needs a mapping with a `where:`" in r.stderr


@pytest.mark.slow
def test_run_watch_reloads_on_edit(tmp_path):
    """--watch: the root command stays alive, picks up a config edit
    (filter dropped -> more rows), prints the reloaded results, and
    exits at --watch-duration (collector.go:236-252 Watch loop)."""
    import time

    cfg = tmp_path / "w.yaml"
    cfg.write_text(OK_YAML)
    # stderr goes to a FILE, not a pipe: Spark logs verbosely there,
    # and an undrained 64 KiB pipe would block the child mid-write
    # while this side blocks in stdout.readline() — a mutual deadlock
    errfile = open(tmp_path / "w.stderr", "w+")
    p = subprocess.Popen(
        [sys.executable, "-u", "-m", "otel_arrow_collector_spark",
         "--config", str(cfg), "--watch", "--watch-duration", "45"],
        stdout=subprocess.PIPE, stderr=errfile, text=True,
        cwd=REPO)
    try:
        first = []
        deadline = time.monotonic() + 240
        while time.monotonic() < deadline:
            line = p.stdout.readline()
            if not line:
                break
            first.append(line)
            if "p/sink/null:" in line:
                break
        assert any("p/sink/null: 210" in ln for ln in first), first
        # edit: drop the filter -> the full event count
        cfg.write_text(OK_YAML.replace("processors: [keep], ", ""))
        out, _ = p.communicate(timeout=240)
        errfile.seek(0)
        err = errfile.read()
        full = "".join(first) + out
        assert "config reloaded:" in full, (full, err[-1500:])
        after = [ln for ln in full.splitlines()
                 if "p/sink/null:" in ln and "210" not in ln]
        assert after, full
    finally:
        if p.poll() is None:
            p.kill()
        errfile.close()
    assert p.returncode == 0


@pytest.mark.slow
def test_run_watch_without_file_uri_is_clean_error():
    """--watch with only non-file config URIs (nothing to poll) exits
    with a flag-validation error (rc 2, message on stderr), not a raw
    ValueError traceback, and never leaks a started collector."""
    p = subprocess.run(
        [sys.executable, "-m", "otel_arrow_collector_spark",
         "--config", "env:W_CFG", "--watch", "--watch-duration", "5"],
        capture_output=True, text=True, cwd=REPO, timeout=240,
        env={**os.environ, "W_CFG": OK_YAML})
    assert p.returncode == 2, (p.stdout, p.stderr[-800:])
    assert "error: --watch" in p.stderr
    assert "Traceback" not in p.stderr
