"""OTTL statement-text parser tests — the reference's transformation
language surface (docs/processing.md:96-214) compiled to Column ops over
the canonical trace fixtures.  Statements under test are the doc's own
examples where possible."""

from __future__ import annotations

import pytest

from otel_arrow_collector_spark import plan_tree
from otel_arrow_collector_spark.functions.ottl_parser import (
    OttlSyntaxError, apply_statement, apply_statements, compile_condition,
    parse_statement)
from otel_arrow_collector_spark.model import generate_traces


@pytest.fixture()
def td(spark):
    from otel_arrow_collector_spark.functions.ottl_parser import \
        apply_statement as _a
    base = generate_traces(spark, 4)
    # seed an attribute to operate on
    return _a(base, 'set(attributes["http.target"], "/user/7/list/2")')


def test_parse_shapes():
    s = parse_statement(
        'set(attributes["k8s_pod"], resource.attributes["k8s.pod.name"]) '
        'where name == "GET /cats"')
    assert s.func == "set" and s.where == 'name == "GET /cats"'
    assert s.args[0] == ("path", 'attributes["k8s_pod"]')
    assert s.args[1] == ("path", 'resource.attributes["k8s.pod.name"]')
    d = parse_statement('drop() where attributes["http.target"] = "/health"')
    assert d.func == "drop" and d.args == []


def test_set_attribute_and_read_back(td):
    rows = td.select("attributes").collect()
    assert all(r.attributes["http.target"].s == "/user/7/list/2"
               for r in rows)


def test_set_column_conditional(td):
    out = apply_statement(td, 'set(name, "renamed") '
                              'where name == "operationA"')
    names = sorted(r.name for r in out.select("name").collect())
    assert set(names) == {"operationB", "renamed"}


def test_set_from_resource_path(td):
    out = apply_statement(
        td, 'set(attributes["rsrc"], resource.attributes["resource-attr"])')
    r = out.first()
    assert r.attributes["rsrc"].s == "resource-attr-val-1"


def test_delete_and_keep_keys(td):
    out = apply_statement(td, 'delete(attributes["http.target"])')
    assert all("http.target" not in r.attributes
               for r in out.select("attributes").collect())
    out2 = apply_statements(td, [
        'set(attributes["keep.me"], "v")',
        'keep_keys(attributes, "keep.me")'])
    for r in out2.select("attributes").collect():
        assert set(r.attributes) == {"keep.me"}


def test_drop_where_filters(td):
    out = apply_statement(td, 'drop() where name == "operationA"')
    assert {r.name for r in out.select("name").collect()} == {"operationB"}
    # spans with no match flow through untouched
    assert out.count() == td.filter("name != 'operationA'").count()


def test_replace_match_glob_on_attribute(td):
    out = apply_statement(
        td, 'replace_match(attributes["http.target"], "/user/*/list/*", '
            '"/user/{userId}/list/{listId}")')
    r = out.first()
    assert r.attributes["http.target"].s == "/user/{userId}/list/{listId}"
    # non-matching values untouched
    out2 = apply_statement(
        td, 'replace_match(attributes["http.target"], "/cats/*", "X")')
    assert out2.first().attributes["http.target"].s == "/user/7/list/2"


def test_replace_match_on_span_name(td):
    out = apply_statement(
        td, 'replace_match(name, "operation*", "operation{x}")')
    assert {r.name for r in out.select("name").collect()} == {"operation{x}"}


def test_replace_all_matches(td):
    out = apply_statement(
        td, 'replace_all_matches(attributes, "/user/*", "{redacted}")')
    assert out.first().attributes["http.target"].s == "{redacted}"


def test_truncate_all_and_limit(td):
    out = apply_statements(td, [
        'set(attributes["long"], "abcdefghij")',
        'truncate_all(attributes, 4)'])
    assert out.first().attributes["long"].s == "abcd"
    out2 = apply_statements(td, [
        'set(attributes["a"], "1")',
        'set(attributes["b"], "2")',
        'limit(attributes, 1, "http.target")'])
    for r in out2.select("attributes").collect():
        assert set(r.attributes) == {"http.target"}


def test_where_boolean_operators(td):
    cond = compile_condition(
        'name == "operationA" and not (status_code == 0) '
        'or trace_state != ""')
    got = td.filter(cond).count()
    # operationA spans carry status Error (2): predicate true for them
    want = td.filter(
        "(name = 'operationA' and not (status_code = 0)) "
        "or trace_state != ''").count()
    assert got == want > 0


def test_where_on_resource_attribute(td):
    out = apply_statement(
        td, 'set(name, "tagged") where '
            'resource.attributes["resource-attr"] == "resource-attr-val-1"')
    assert {r.name for r in out.select("name").collect()} == {"tagged"}


def test_syntax_errors():
    for bad in ['set(attributes["a"]',          # unbalanced
                'notafunc!(x)',
                'set(name, "x") whree y',       # bad trailing
                'drop(1)',                      # drop takes no args
                'keep_keys("notapath", "k")']:
        with pytest.raises(OttlSyntaxError):
            parse_statement(bad) and apply_statement(None, bad)


def test_statement_list_order(td):
    """Statements apply in order — a later delete sees the earlier set."""
    out = apply_statements(td, [
        'set(attributes["tmp"], "x")',
        'delete(attributes["tmp"])'])
    assert all("tmp" not in r.attributes
               for r in out.select("attributes").collect())


def test_statements_through_pipeline_dag(spark):
    """The transform processor's `statements:` key routes OTTL text
    through the DAG compiler — the reference's transform-processor
    config surface end to end."""
    from otel_arrow_collector_spark.plans import PipelineGraph
    from tests.conftest import SF_SMALL
    g = PipelineGraph.from_yaml("""
receivers:
  table/events: {kind: table, table: events}
processors:
  transform/sev:
    kind: transform
    statements:
      - 'set(severity, 17) where event_type == "error"'
      - 'set(severity, 9) where not (event_type == "error")'
      - 'drop() where event_type == "view"'
exporters:
  sink/mem: {kind: memory}
pipelines:
  p: {receivers: [table/events], processors: [transform/sev],
      exporters: [sink/mem]}
""")
    rows = g.compile(spark, sf_dir=SF_SMALL).run()["p/sink/mem"]
    assert rows and all(r.event_type != "view" for r in rows)
    assert all(r.severity == (17 if r.event_type == "error" else 9)
               for r in rows)


def test_set_new_column_conditional_null_elsewhere(spark):
    from otel_arrow_collector_spark.functions.ottl_parser import \
        apply_statement as _a
    from otel_arrow_collector_spark.model import generate_traces
    out = _a(generate_traces(spark, 4),
             'set(flagged, "y") where name == "operationA"')
    vals = {(r.name, r.flagged) for r in out.select("name", "flagged").collect()}
    assert ("operationA", "y") in vals and ("operationB", None) in vals


def test_spanid_traceid_factories(td):
    """docs/processing.md:228-231 — the SpanID/TraceID factories translate
    a hex literal into the row model's hex-string ids."""
    out = apply_statement(td, 'set(span_id, SpanID(0x0000000000000000))')
    assert {r.span_id for r in out.select("span_id").collect()} \
        == {"0000000000000000"}
    out2 = apply_statement(
        td, 'set(trace_id, TraceID(0x000102030405060708090a0b0c0d0e0f))')
    assert {r.trace_id for r in out2.select("trace_id").collect()} \
        == {"000102030405060708090a0b0c0d0e0f"}
    with pytest.raises(OttlSyntaxError, match="hex digits"):
        apply_statement(td, 'set(span_id, SpanID(0x00))')


def test_group_by_trace_id(td):
    """docs/processing.md:222-225 ``group_by(trace_id, 2m)`` — the
    groupbytrace processor compiles to a hash repartition on the trace
    key (+ in-partition sort): rows preserved, plan co-locates traces."""
    out = apply_statement(td, 'group_by(trace_id, 2m)')
    assert out.count() == td.count()
    assert any(e.partitioning == "hash" and e.keys[:1] == ("trace_id",)
               for e in plan_tree.read(out).exchanges())
    s = parse_statement('group_by(trace_id, 30s)')
    assert s.args[1] == ("dur", 30_000)


@pytest.mark.slow
def test_create_gauge_from_read_gauge(spark):
    """docs/processing.md:232-239 — create_gauge unions a derived gauge:
    per-timestamp sums of each operand metric, combined by the operator.
    gauge-int sums to 579, gauge-double to 5.79 -> ratio 100."""
    from otel_arrow_collector_spark.model import generate_metrics
    md = generate_metrics(spark, 2)
    out = apply_statement(
        md, 'create_gauge("ratio", read_gauge("gauge-int") '
            '/ read_gauge("gauge-double"))')
    assert out.count() == md.count() + 1
    r = out.filter("metric_name = 'ratio'").first()
    assert r.metric_type == 1 and abs(r.value_double - 100.0) < 1e-9
    assert r.unit == "1" and r.time_unix_nano is not None
    # scalar right-hand side
    out2 = apply_statement(
        md, 'create_gauge("scaled", read_gauge("gauge-double") * 100)')
    r2 = out2.filter("metric_name = 'scaled'").first()
    assert abs(r2.value_double - 579.0) < 1e-9
    with pytest.raises(OttlSyntaxError, match="where"):
        apply_statement(md, 'create_gauge("x", read_gauge("gauge-int")) '
                            'where unit == "1"')


def test_converter_functions(td):
    """Converter calls compile to built-in Column expressions and nest:
    SHA256/Concat/Substring/ConvertCase/Len/Trim/Int."""
    import hashlib
    out = apply_statement(td, 'set(attributes["h"], SHA256(name))')
    for r in out.select("name", out.attributes["h"].s.alias("h")).collect():
        assert r.h == hashlib.sha256(r.name.encode()).hexdigest()
    out = apply_statement(
        td, 'set(attributes["c"], Concat("-", name, '
            'ConvertCase(name, "upper")))')
    r = out.filter("name = 'operationA'").first()
    assert r.attributes["c"].s == "operationA-OPERATIONA"
    out = apply_statement(td, 'set(name, Substring(name, 0, 9))')
    assert {r.name for r in out.select("name").collect()} == {"operation"}
    out = apply_statement(td, 'set(attributes["s"], '
                              'ConvertCase(name, "snake"))')
    assert {r.attributes["s"].s for r in out.collect()} \
        == {"operation_a", "operation_b"}
    out = apply_statement(td, 'set(attributes["n"], Len(Trim(name)))')
    # map attrs store through the string arm (the engine's set() contract)
    assert all(r.attributes["n"].s == "10" for r in out.collect())
    with pytest.raises(OttlSyntaxError, match="unknown OTTL converter"):
        apply_statement(td, 'set(name, Bogus(name))')
    with pytest.raises(OttlSyntaxError, match="ConvertCase mode"):
        apply_statement(td, 'set(name, ConvertCase(name, "title"))')


def test_converter_in_where_target_only(td):
    """Converters combine with where-clauses: the mutation stays one
    conditional projection."""
    out = apply_statement(
        td, 'set(attributes["u"], ConvertCase(name, "upper")) '
            'where name == "operationA"')
    vals = {r.name: (r.attributes["u"].s if "u" in r.attributes else None)
            for r in out.collect()}
    assert vals["operationA"] == "OPERATIONA"
    assert vals["operationB"] is None


def test_converter_calls_in_where_clauses(td):
    """Converters are usable inside conditions too — the statement and
    condition grammars share the factory surface."""
    out = apply_statement(
        td, 'drop() where ConvertCase(name, "upper") == "OPERATIONA"')
    assert {r.name for r in out.collect()} == {"operationB"}
    out2 = apply_statement(
        td, 'set(attributes["x"], "hit") where Len(name) >= 10')
    assert out2.filter('attributes["x"].s = "hit"').count() == td.count()
    out3 = apply_statement(
        td, 'drop() where Substring(name, 0, 9) == "operation"')
    assert out3.count() == 0


def test_delete_key_matches_delete_path_form(spark):
    """delete_key(attributes, "k") — the upstream ottlfuncs spelling —
    is byte-equivalent to the engine's delete(attributes["k"])."""
    from otel_arrow_collector_spark.functions.ottl_parser import \
        apply_statements
    from otel_arrow_collector_spark.model import generate_traces
    df = generate_traces(spark, 4)
    a = apply_statements(df, ['delete_key(attributes, "http.method")'])
    b = apply_statements(df, ['delete(attributes["http.method"])'])
    assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))


# -- upstream ottlfuncs spellings (round-8 verdict ask #4: the delete_key
# lesson generalized — every spelling with semantics the engine already
# implements is accepted; everything else fails loudly at parse time) ----


def test_accepted_function_set_in_lock_step():
    from otel_arrow_collector_spark.functions.ottl_parser import (
        ACCEPTED_FUNCTIONS)
    assert ACCEPTED_FUNCTIONS == {
        "drop", "set", "delete", "delete_key", "delete_matching_keys",
        "keep_keys", "keep_matching_keys", "truncate_all", "limit",
        "replace_match", "replace_all_matches", "replace_pattern",
        "replace_all_patterns", "replace_wildcards",
        "group_by", "create_gauge",
    }
    # unknown spellings die AT PARSE TIME (the validate contract), with
    # the accepted set in the message
    with pytest.raises(OttlSyntaxError, match="accepted:"):
        parse_statement('delete_keys(attributes, "a")')
    with pytest.raises(OttlSyntaxError, match="unknown OTTL function"):
        parse_statement('flatten(attributes)')


def test_processing_md_example_statements_all_parse():
    """Every statement in the reference's own example config
    (docs/processing.md:150-266) parses."""
    examples = [
        'delete(attributes["http.request.header.authorization"])',
        'keep_keys(attributes, "http.method", "http.status_code")',
        'replace_match(attributes["http.target"], "/user/*/list/*", '
        '"/user/{userId}/list/{listId}")',
        'replace_match(name, "GET /user/*/list/*", '
        '"GET /user/{userId}/list/{listId}")',
        'replace_all_matches(attributes, "/user/*/list/*", '
        '"/user/{userId}/list/{listId}")',
        'delete(resource.attributes["process.command_line"])',
        'drop() where attributes["http.target"] = "/health"',
        'set(attributes["k8s_pod"], resource.attributes["k8s.pod.name"])',
        'group_by(trace_id, 2m)',
        'set(span_id, SpanID(0x0000000000000000))',
        'create_gauge("pod.cpu.utilized", read_gauge("pod.cpu.usage") / '
        'read_gauge("node.cpu.limit"))',
        'replace_wildcards("/user/*/list/*", "/user/{userId}/list/{listId}",'
        ' attributes["http.target"])',
    ]
    for st in examples:
        parse_statement(st)


def test_delete_matching_keys(td):
    out = apply_statement(td, 'delete_matching_keys(attributes, "^http\\\\.")')
    for r in out.select("attributes").collect():
        assert not any(k.startswith("http.") for k in r.attributes)
    out2 = apply_statement(td, 'keep_matching_keys(attributes, "^http\\\\.")')
    for r in out2.select("attributes").collect():
        assert set(r.attributes) == {"http.target"}


def test_replace_pattern_column_and_map(td):
    out = apply_statement(
        td, 'replace_pattern(attributes["http.target"], "/user/[0-9]+", '
            '"/user/{id}")')
    assert all(r.attributes["http.target"].s == "/user/{id}/list/2"
               for r in out.select("attributes").collect())
    out2 = apply_statement(td, 'replace_pattern(name, "^operation", "op")')
    assert {r.name for r in out2.select("name").collect()} == {"opA", "opB"}


def test_replace_all_patterns_value_and_key_modes(td):
    out = apply_statement(
        td, 'replace_all_patterns(attributes, "value", "/list/[0-9]+", '
            '"/list/{listId}")')
    assert all(r.attributes["http.target"].s == "/user/7/list/{listId}"
               for r in out.select("attributes").collect())
    out2 = apply_statement(
        td, 'replace_all_patterns(attributes, "key", "^http\\\\.", "url.")')
    for r in out2.select("attributes").collect():
        assert "url.target" in r.attributes
        assert "http.target" not in r.attributes
    with pytest.raises(OttlSyntaxError, match="key|value"):
        apply_statement(td, 'replace_all_patterns(attributes, "wat", '
                            '"a", "b")')


def test_replace_wildcards_is_pattern_first_replace_match(td):
    out = apply_statement(
        td, 'replace_wildcards("/user/*/list/*", '
            '"/user/{userId}/list/{listId}", attributes["http.target"])')
    assert all(r.attributes["http.target"].s == "/user/{userId}/list/{listId}"
               for r in out.select("attributes").collect())


def test_replace_pattern_nonstring_attr_is_noop(spark, td):
    """Upstream replace_pattern only rewrites string-valued targets; an
    int/bool/double-armed attribute must pass through untouched — not be
    overwritten with an all-null struct (the key-presence guard bug)."""
    df = spark.sql(
        "SELECT map('retries', named_struct("
        "  's', CAST(NULL AS STRING), 'i', CAST(3 AS BIGINT),"
        "  'd', CAST(NULL AS DOUBLE), 'b', CAST(NULL AS BOOLEAN),"
        "  'json', CAST(NULL AS STRING))) AS attributes, 'opA' AS name")
    out = apply_statement(
        df, 'replace_pattern(attributes["retries"], "3", "9")')
    r = out.select("attributes").collect()[0]
    assert r.attributes["retries"].i == 3
    assert r.attributes["retries"].s is None


def test_replace_all_patterns_key_collision_last_wins(td):
    """A key-mode regex that collapses two keys to one name must yield a
    single deterministic entry (last occurrence wins), not die under
    spark.sql.mapKeyDedupPolicy=EXCEPTION."""
    td2 = apply_statement(td, 'set(attributes["web.target"], "W")')
    out = apply_statement(
        td2,
        'replace_all_patterns(attributes, "key", "^(http|web)\\\\.", "url.")')
    for r in out.select("attributes").collect():
        assert set(r.attributes) == {"url.target"}
        assert r.attributes["url.target"].s == "W"


def test_parse_time_arity_fences():
    """validate only parses — wrong-arity editor calls must be
    OttlSyntaxError at parse time, never a bare IndexError at compile
    (the delete_key lesson generalized)."""
    for bad in ('replace_pattern(name, "x")',
                'replace_all_patterns(attributes, "key")',
                'replace_all_patterns(attributes, "key", "a", "b", "c")',
                'replace_wildcards("/a/*", "/b")',
                'replace_match(name, "x*")',
                'replace_all_matches(attributes, "x*")'):
        with pytest.raises(OttlSyntaxError, match="arguments"):
            parse_statement(bad)


def test_replace_match_nonstring_attr_is_noop(spark):
    """Same guard as replace_pattern: replace_match (and wildcards,
    which delegates to it) must not clobber typed attributes."""
    df = spark.sql(
        "SELECT map('retries', named_struct("
        "  's', CAST(NULL AS STRING), 'i', CAST(3 AS BIGINT),"
        "  'd', CAST(NULL AS DOUBLE), 'b', CAST(NULL AS BOOLEAN),"
        "  'json', CAST(NULL AS STRING))) AS attributes, 'opA' AS name")
    out = apply_statement(
        df, 'replace_match(attributes["retries"], "3*", "9")')
    r = out.select("attributes").collect()[0]
    assert r.attributes["retries"].i == 3
    assert r.attributes["retries"].s is None
