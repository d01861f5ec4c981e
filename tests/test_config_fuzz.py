"""Config-parsing contract sweep — the fenced_decoder discipline
applied to the YAML surface: an arbitrary (hostile or fat-fingered)
config handed to validation must either validate or raise ConfigError /
ResolveError with a message — never a raw KeyError / TypeError /
AttributeError escaping from the walk.  This is what `validate` exit-1
behavior is built on: a stack trace on bad YAML is a bug."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from otel_arrow_collector_spark.plans.confmap import ResolveError
from otel_arrow_collector_spark.plans.extensions import (
    normalize_service_layout, validate_extensions)
from otel_arrow_collector_spark.plans.pipeline import (ConfigError,
                                                       PipelineGraph)

_LEGAL = (ConfigError, ResolveError)

_KEY = st.one_of(
    st.sampled_from(["receivers", "processors", "exporters", "connectors",
                     "pipelines", "service", "extensions", "telemetry",
                     "kind", "where", "exprs", "path", "table", "name",
                     "send_batch_size", "limit_mib", "routes"]),
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz_/", min_size=1,
            max_size=10))

_SCALAR = st.one_of(st.none(), st.booleans(),
                    st.integers(min_value=-10**6, max_value=10**6),
                    st.text(alphabet="abcdefghijklmnopqrstuvwxyz ='${}:",
                            max_size=16))

_CFG = st.recursive(
    _SCALAR,
    lambda inner: st.one_of(
        st.lists(inner, max_size=3),
        st.dictionaries(_KEY, inner, max_size=4)),
    max_leaves=12)


def _check(call):
    try:
        call()
    except _LEGAL as e:
        assert str(e)                       # loud, with a message
    # success is equally legal; anything else propagates -> test fails


@settings(max_examples=300, deadline=None)
@given(cfg=_CFG)
def test_pipeline_graph_never_leaks_raw_exceptions(cfg):
    _check(lambda: PipelineGraph(cfg if isinstance(cfg, dict)
                                 else {"x": cfg}))


@settings(max_examples=300, deadline=None)
@given(cfg=_CFG)
def test_service_layout_lift_never_leaks(cfg):
    _check(lambda: normalize_service_layout(
        cfg if isinstance(cfg, dict) else {"service": cfg}))


@settings(max_examples=300, deadline=None)
@given(declared=_CFG, enabled=_CFG)
def test_extension_validation_never_leaks(declared, enabled):
    def call():
        d = declared if isinstance(declared, dict) else {}
        e = enabled if isinstance(enabled, list) else [enabled]
        validate_extensions(d, [x if isinstance(x, str) else str(x)
                                for x in e])
    _check(call)


def test_component_config_type_fences():
    """Regression pins for the leaks the sweep found: list sections,
    scalar component configs, and YAML-null configs."""
    import pytest

    with pytest.raises(ConfigError, match="must be a mapping of"):
        PipelineGraph({"receivers": [{}], "pipelines": {"p": {}}})
    for bad in (5, [], "x"):
        with pytest.raises(ConfigError, match="component config must"):
            PipelineGraph({"receivers": {"r": bad},
                           "pipelines": {"p": {}}})
    # YAML null (`r: ~`) normalizes to {} and walks cleanly
    with pytest.raises(ConfigError, match="table kind needs"):
        PipelineGraph({"receivers": {"r": None},
                       "exporters": {"e": {"kind": "null"}},
                       "pipelines": {"p": {"receivers": ["r"],
                                           "exporters": ["e"]}}
                       })
    with pytest.raises(ConfigError, match="component config must"):
        PipelineGraph({"pipelines": {"p": 7}})


@settings(max_examples=400, deadline=None)
@given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz()[]\"',. =!<>-_0123456789${}",
               max_size=40))
def test_ottl_statement_parser_never_leaks(text):
    """The transform processor's statement-text surface obeys the same
    contract: parse or OttlSyntaxError, never a raw exception."""
    from otel_arrow_collector_spark.functions.ottl_parser import (
        OttlSyntaxError, parse_statement)
    try:
        parse_statement(text)
    except OttlSyntaxError as e:
        assert str(e)


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz${}:/=.-_ \n'\"[]0123456789",
               max_size=40))
def test_confmap_resolve_never_leaks(text):
    """Any URI string — malformed YAML documents included — resolves or
    raises ResolveError; raw yaml.ParserError/ScannerError out of a
    provider is a bug (found by this sweep, fenced in _load_yaml)."""
    from otel_arrow_collector_spark.plans.confmap import resolve
    for uri in (text, "yaml:" + text):
        try:
            resolve(uri)
        except ResolveError as e:
            assert str(e)


@settings(max_examples=400, deadline=None)
@given(cfg=_CFG)
def test_telemetry_section_never_leaks(cfg):
    """telemetry: parsing obeys the contract too — arbitrary subsection
    types (logs: true, resource: -1, output_paths: 3) are ConfigErrors,
    and a bare-string output_paths means one path, never the
    list("stderr") character explosion."""
    from otel_arrow_collector_spark.plans.telemetry import parse_telemetry
    def call():
        parse_telemetry(cfg if isinstance(cfg, dict) else {"logs": cfg})
    _check(call)


def test_telemetry_output_paths_shapes():
    from otel_arrow_collector_spark.plans.pipeline import ConfigError
    from otel_arrow_collector_spark.plans.telemetry import parse_telemetry
    import pytest
    assert parse_telemetry(
        {"logs": {"output_paths": "stdout"}}).logs.output_paths == ["stdout"]
    assert parse_telemetry({"logs": {}}).logs.output_paths == ["stderr"]
    with pytest.raises(ConfigError, match="list of strings"):
        parse_telemetry({"logs": {"output_paths": 3}})


@settings(max_examples=400, deadline=None)
@given(st.data())
def test_ottl_wellformed_calls_never_leak(data):
    """Grammar-directed OTTL sweep: ACCEPTED function names with
    arbitrary argument/where shapes must parse or raise OttlSyntaxError
    (the arity-fence surface) — never IndexError out of an apply branch
    at compile time."""
    from otel_arrow_collector_spark.functions.ottl_parser import (
        ACCEPTED_FUNCTIONS, OttlSyntaxError, parse_statement)
    func = data.draw(st.sampled_from(sorted(ACCEPTED_FUNCTIONS)))
    args = data.draw(st.lists(st.sampled_from(
        ['name', '"x"', "'y'", '5', '2.5', 'attributes["k"]', '2m',
         '0x0a1b', 'attributes', 'resource.attributes["a.b"]', '"ut%"',
         'TraceID(0x00)', 'Concat("a", name)', '"key|value"']),
        max_size=6))
    where = data.draw(st.sampled_from(
        ["", ' where name == "a"', ' where attributes["k"] != "v"']))
    text = f"{func}({', '.join(args)}){where}"
    try:
        parse_statement(text)
    except OttlSyntaxError as e:
        assert str(e)
