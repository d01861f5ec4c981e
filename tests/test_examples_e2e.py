"""The examples/ configs are living documentation: every file must
validate through the CLI, and the two parquet-landing ones must run end
to end via ``python -m`` with byte-identical results to the equivalent
DataFrame plan (subprocess, real exit codes — the path a user arriving
from the reference actually walks)."""

from __future__ import annotations

import glob
import subprocess
import sys

import duckdb
import pytest

EXAMPLES = sorted(glob.glob("examples/*.yaml"))


def _cli(*argv, timeout=180):
    return subprocess.run([sys.executable, "-m",
                           "otel_arrow_collector_spark", *argv],
                          capture_output=True, text=True, timeout=timeout)


def test_examples_exist():
    assert len(EXAMPLES) >= 3


@pytest.mark.parametrize("cfg", EXAMPLES)
def test_example_validates(cfg):
    r = _cli("validate", "--config", cfg)
    assert r.returncode == 0, r.stderr


@pytest.mark.slow
def test_errors_example_runs_and_lands_parquet(tmp_path):
    out = str(tmp_path / "errors_out")
    r = _cli("--config", "examples/errors_to_parquet.yaml",
             "--set", f"exporters.sink/parquet.path={out}")
    assert r.returncode == 0, r.stderr
    con = duckdb.connect()
    got = con.execute(f"SELECT COUNT(*) FROM '{out}/*.parquet'").fetchone()[0]
    want = con.execute(
        "SELECT COUNT(*) FROM '/root/testdata/sf0.001/events.parquet' "
        "WHERE event_type = 'error' AND value > 50").fetchone()[0]
    assert got == want > 0


@pytest.mark.slow
def test_curation_example_gates_quality(tmp_path):
    out = str(tmp_path / "curated_out")
    r = _cli("--config", "examples/curation_to_parquet.yaml",
             "--set", f"exporters.sink/kept.path={out}")
    assert r.returncode == 0, r.stderr
    con = duckdb.connect()
    got = con.execute(f"SELECT COUNT(*) FROM '{out}/*.parquet'").fetchone()[0]
    want = con.execute("""
        SELECT COUNT(*) FROM (
          SELECT len(string_split(text, ' ')) AS n_tokens,
                 len(list_distinct(string_split(text, ' '))) AS n_distinct
          FROM '/root/testdata/sf0.001/documents.parquet')
        WHERE n_tokens >= 8 AND n_distinct * 3 >= n_tokens""").fetchone()[0]
    assert got == want > 0
    # the audit console exporter printed sample rows alongside the sink
    assert "doc_id" in r.stdout


@pytest.mark.slow
def test_relay_example_runs_against_a_real_spool(spark, tmp_path):
    """examples/otlp_relay.yaml runs end to end: a recorded pb spool of
    generated traces flows through the OTTL transform + memory limiter
    to the console exporter via the CLI, and the transform's set/delete
    statements are visible in the dump."""
    from otel_arrow_collector_spark.model import generate_traces
    from otel_arrow_collector_spark.sources.otlp_pb import write_otlp_pb
    spool = str(tmp_path / "spool_pb")
    write_otlp_pb(generate_traces(spark, 6), spool, "traces")
    r = _cli("--config", "examples/otlp_relay.yaml",
             "--set", f"receivers.src/spool.path={spool}")
    assert r.returncode == 0, r.stderr
    assert "env" in r.stdout            # set(attributes["env"], "prod")


@pytest.mark.slow
def test_router_example_splits_disjoint_and_complete(tmp_path):
    """examples/router_split.yaml: the routed stores partition the
    input — errors land in one sink, everything else in the default,
    nothing lost, nothing duplicated."""
    e_out = str(tmp_path / "errors")
    m_out = str(tmp_path / "main")
    r = _cli("--config", "examples/router_split.yaml",
             "--set", f"exporters.sink/errors.path={e_out}",
             "--set", f"exporters.sink/main.path={m_out}")
    assert r.returncode == 0, r.stderr
    con = duckdb.connect()
    ne = con.execute(f"SELECT COUNT(*) FROM '{e_out}/*.parquet' "
                     "WHERE event_type = 'error'").fetchone()[0]
    ne_all = con.execute(
        f"SELECT COUNT(*) FROM '{e_out}/*.parquet'").fetchone()[0]
    nm = con.execute(f"SELECT COUNT(*) FROM '{m_out}/*.parquet' "
                     "WHERE event_type = 'error'").fetchone()[0]
    nm_all = con.execute(
        f"SELECT COUNT(*) FROM '{m_out}/*.parquet'").fetchone()[0]
    total = con.execute(
        "SELECT COUNT(*), SUM(CASE WHEN event_type='error' THEN 1 ELSE 0 "
        "END) FROM '/root/testdata/sf0.001/events.parquet'").fetchone()
    assert ne == ne_all == total[1] > 0      # every error, only errors
    assert nm == 0 and nm_all == total[0] - total[1]


def test_monitored_example_serves_prometheus(spark, tmp_path):
    """The monitored_pipeline example end to end IN PROCESS: the
    pipeline lands parquet and the engine's own counters + process
    gauges scrape as Prometheus text at the configured address while
    the collector is up (the path an operator pointing a scraper at
    the engine actually walks)."""
    import urllib.request
    from otel_arrow_collector_spark.plans.collector import Collector

    import yaml
    out = str(tmp_path / "purchases_out")
    cfg = yaml.safe_load(open("examples/monitored_pipeline.yaml"))
    cfg["exporters"]["sink/parquet"]["path"] = out
    col = Collector(spark, "yaml:" + yaml.safe_dump(cfg))
    col.start()
    try:
        assert col._prom_server is not None
        with urllib.request.urlopen(col._prom_server.endpoint) as r:
            body = r.read().decode()
        assert "otelcol_process_uptime" in body
        assert "otelcol_process_memory_rss" in body
    finally:
        col.shutdown()
    con = duckdb.connect()
    n = con.sql(f"SELECT COUNT(*) FROM '{out}/*.parquet'").fetchone()[0]
    want = con.sql(
        "SELECT COUNT(*) FROM '/root/testdata/sf0.001/events.parquet' "
        "WHERE event_type = 'purchase'").fetchone()[0]
    assert n == want
