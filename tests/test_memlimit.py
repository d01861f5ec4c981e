"""Memory-limiter config fidelity — the reference's full knob surface
(processor/memorylimiterprocessor/config.go:16-40) + construction
errors (memorylimiter.go:87-93,322-341) + cgroup-aware total memory
(internal/iruntime/total_memory_linux.go)."""

from __future__ import annotations

import pytest

from otel_arrow_collector_spark.plans.memlimit import (
    MIB, MemLimitConfigError, MemLimiterSpec, estimate_row_bytes,
    parse_duration, parse_memlimiter, total_memory)
from otel_arrow_collector_spark.plans.pipeline import (
    ConfigError, DataRefusedError, PipelineGraph)


def test_fixed_limit_and_default_spike():
    s = parse_memlimiter({"kind": "memory_limiter", "limit_mib": 100})
    assert s.limit_bytes == 100 * MIB
    assert s.spike_bytes == 20 * MIB            # default spike = limit/5
    assert s.soft_limit_bytes == 80 * MIB
    assert s.max_rows is None
    s2 = parse_memlimiter({"limit_mib": 100, "spike_limit_mib": 30})
    assert s2.soft_limit_bytes == 70 * MIB


def test_percentage_resolved_against_total_memory():
    s = parse_memlimiter(
        {"limit_percentage": 50, "spike_limit_percentage": 10},
        total_memory_fn=lambda: 1000 * MIB)
    assert s.limit_bytes == 500 * MIB
    assert s.spike_bytes == 100 * MIB
    assert s.soft_limit_bytes == 400 * MIB


def test_fixed_settings_take_precedence_over_percentage():
    # getMemUsageChecker: MemoryLimitMiB != 0 -> fixed checker, the
    # percentage keys are ignored entirely (total memory never read)
    s = parse_memlimiter(
        {"limit_mib": 64, "limit_percentage": 50,
         "spike_limit_percentage": 10},
        total_memory_fn=lambda: (_ for _ in ()).throw(AssertionError))
    assert s.limit_bytes == 64 * MIB


def test_invalid_combinations_rejected():
    with pytest.raises(MemLimitConfigError, match="greater than zero"):
        parse_memlimiter({})                    # errLimitOutOfRange
    with pytest.raises(MemLimitConfigError, match="smaller than"):
        parse_memlimiter({"limit_mib": 10, "spike_limit_mib": 10})
    with pytest.raises(MemLimitConfigError, match="smaller than"):
        parse_memlimiter({"limit_mib": 10, "spike_limit_mib": 11})
    for pct in (0, 101, -1):
        with pytest.raises(MemLimitConfigError,
                           match="hundred|non-negative|greater than zero"):
            parse_memlimiter({"limit_percentage": pct,
                              "spike_limit_percentage": 5},
                             total_memory_fn=lambda: 1 << 30)
    # percentage mode requires BOTH percentages (reference:
    # percentageSpike <= 0 is errPercentageLimitOutOfRange)
    with pytest.raises(MemLimitConfigError, match="hundred"):
        parse_memlimiter({"limit_percentage": 50},
                         total_memory_fn=lambda: 1 << 30)
    with pytest.raises(MemLimitConfigError, match="checkInterval"):
        parse_memlimiter({"limit_mib": 10, "check_interval": 0})
    with pytest.raises(MemLimitConfigError, match="unknown keys"):
        parse_memlimiter({"limit_mib": 10, "limit_mb": 5})
    with pytest.raises(MemLimitConfigError, match="positive integer"):
        parse_memlimiter({"max_rows": 0})


def test_check_interval_durations():
    assert parse_duration("5s") == 5.0
    assert parse_duration("250ms") == 0.25
    assert parse_duration("2m") == 120.0
    assert parse_duration(3) == 3.0
    with pytest.raises(MemLimitConfigError, match="invalid duration"):
        parse_duration("abc")
    s = parse_memlimiter({"limit_mib": 10, "check_interval": "30s"})
    assert s.check_interval_s == 30.0


def test_total_memory_cgroup_chain(tmp_path):
    # cgroup v2 quota wins
    (tmp_path / "sys/fs/cgroup").mkdir(parents=True)
    (tmp_path / "sys/fs/cgroup/memory.max").write_text("1073741824\n")
    assert total_memory(str(tmp_path)) == 1 << 30
    # v2 "max" (unlimited) falls through to v1
    (tmp_path / "sys/fs/cgroup/memory.max").write_text("max\n")
    (tmp_path / "sys/fs/cgroup/memory").mkdir()
    (tmp_path / "sys/fs/cgroup/memory/memory.limit_in_bytes").write_text(
        "536870912\n")
    assert total_memory(str(tmp_path)) == 512 * MIB
    # v1 unlimited sentinel falls through to /proc/meminfo
    (tmp_path / "sys/fs/cgroup/memory/memory.limit_in_bytes").write_text(
        "9223372036854771712\n")
    (tmp_path / "proc").mkdir()
    (tmp_path / "proc/meminfo").write_text(
        "MemTotal:       16384000 kB\nMemFree:  1 kB\n")
    assert total_memory(str(tmp_path)) == 16384000 * 1024
    # the real host resolves to something positive
    assert total_memory() > 0


def test_limit_mib_refusal_in_pipeline(spark):
    """A reference-shaped YAML (limit_mib, no max_rows) gates the run:
    a tiny budget refuses, a huge one admits."""
    yaml_cfg = """
receivers:
  mem/src: {kind: memory}
processors:
  limiter: {kind: memory_limiter, limit_mib: %d, check_interval: 1s}
exporters:
  sink/mem: {kind: memory}
pipelines:
  p: {receivers: [mem/src], processors: [limiter], exporters: [sink/mem]}
"""
    src = spark.range(0, 5000).selectExpr(
        "id", "repeat('x', 200) as payload")
    g = PipelineGraph.from_yaml(yaml_cfg % 1)     # soft limit ~0.8 MiB
    plan = g.compile(spark, sources={"mem/src": src})
    with pytest.raises(DataRefusedError, match="soft limit"):
        plan.run()
    g2 = PipelineGraph.from_yaml(yaml_cfg % 4096)
    rows = g2.compile(spark, sources={"mem/src": src}).run()["p/sink/mem"]
    assert len(rows) == 5000


def test_invalid_limiter_config_fails_at_graph_compile(spark):
    """The limiter's config is checked when the graph is built, before
    compile, so no entry point can reach a builder with it."""
    with pytest.raises(ConfigError, match="smaller than"):
        PipelineGraph.from_yaml("""
receivers:
  mem/src: {kind: memory}
processors:
  limiter: {kind: memory_limiter, limit_mib: 10, spike_limit_mib: 20}
exporters:
  sink/mem: {kind: memory}
pipelines:
  p: {receivers: [mem/src], processors: [limiter], exporters: [sink/mem]}
""").compile(spark, sources={"mem/src": spark.range(1)})


def test_estimate_row_bytes_scales_with_payload(spark):
    small = spark.range(0, 64).selectExpr("id", "'ab' as s").collect()
    big = spark.range(0, 64).selectExpr(
        "id", "repeat('x', 1000) as s").collect()
    schema = spark.range(0, 1).selectExpr("id", "'a' as s").schema
    a = estimate_row_bytes(small, schema)
    b = estimate_row_bytes(big, schema)
    assert b > a + 900                           # payload dominates
    assert estimate_row_bytes([], schema) == 0.0


def test_spec_is_exclusive():
    s = parse_memlimiter({"max_rows": 7, "limit_mib": 10})
    assert s.max_rows == 7 and s.limit_bytes is None  # explicit knob wins
    assert s.soft_limit_bytes is None
    assert isinstance(s, MemLimiterSpec)
