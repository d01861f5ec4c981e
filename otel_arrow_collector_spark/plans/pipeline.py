"""YAML pipeline spec -> DAG -> compiled Spark plan.

Reference parity (/root/reference/service/internal/graph/graph.go):
- config declares receivers / processors / exporters / connectors by
  ``type/name`` component IDs, composed into typed pipelines
  (graph.go:69-165 createNodes, :200-221 createEdges)
- processors are per-pipeline instances; receivers and exporters are shared
  across pipelines (internal/sharedcomponent/sharedcomponent.go:17-73)
- connectors bridge the exporter end of one pipeline to the receiver end of
  another (connector/forwardconnector/forward.go:19-66); a router connector
  sends each batch to a chosen subset of downstream pipelines
  (internal/fanoutconsumer/logs.go:77-134)
- the graph is topologically sorted; cycles are rejected with an error
  listing the cycle (graph.go:386-424 cycleErr)
- fan-out to multiple exporters clones for mutating consumers
  (internal/fanoutconsumer/logs.go:24-75) — a no-op here: DataFrames are
  immutable, so the capabilities analysis (nodes.go:348-370) is vacuous

Component kinds: each component class has one table below
(``_RECEIVERS``, ``_PROCESSORS``, ``_EXPORTERS``, ``_CONNECTORS``) that
maps a kind to its config check and its builder, like the reference's
one factory per type serving ``components``, ``validate`` and a run
(otelcol/command_components.go:16-57, collector.go:209-219 DryRun).
``PipelineGraph(cfg)`` runs every declared component's check, Spark-free,
so ``validate``, ``Collector.dry_run``, ``start`` and ``reload`` reject
the same configs before anything is built; the builders then read keys
that are known to be present.

Spark mapping: each pipeline compiles to ONE DataFrame (receiver fan-in =
unionAll, processors = chained transforms); exporters materialize it.  A
shared receiver is the same DataFrame object reused — Catalyst reuses the
scan; no cache() is forced (at 100 TB, caching a source is wrong; exchange
reuse + scan sharing are the scale-safe defaults).

Batch-mode processor semantics:
- ``filter``         — OTTL drop-where (docs/processing.md:205-208)
- ``transform``      — OTTL-lite set/delete/keep/rename column ops
- ``project``        — explicit selectExpr
- ``batch``          — size-capped re-chunk (splittraces.go:11-66 semantics).
  Two layers, neither of which executes an extra job: in-plan, a REBALANCE
  hint lets AQE size partitions from runtime shuffle statistics (approximate,
  byte-targeted); at the sink boundary — where the reference's splitTraces
  caps the export request — ``maxRecordsPerFile`` enforces the HARD row cap
  per emitted file.  Time-based triggering only exists in streaming mode
  (../streaming, where ``size_capped_chunks`` does exact row chunking).
- ``memory_limiter`` — admission refusal above a row budget
  (memorylimiterprocessor/memorylimiter.go:170-224: refuse, do not drop).
  The check is deferred to ``run()`` (compile/dry_run stay metadata-only)
  and the checked DataFrame is persisted for the duration of the sink
  materialization, so admission + export share one execution of the
  upstream plan instead of scanning it twice.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from importlib import import_module
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession


class ConfigError(ValueError):
    """Invalid pipeline configuration (unknown reference, bad shape)."""


class CycleError(ConfigError):
    """Pipeline graph contains a cycle (graph.go:386-424 semantics)."""


class DataRefusedError(RuntimeError):
    """Admission control refused the batch (memorylimiter errDataRefused)."""


def _ids(section: Any, what: str) -> list[str]:
    if section is None:
        return []
    if not isinstance(section, list):
        raise ConfigError(f"{what} must be a list, got {type(section).__name__}")
    return [str(x) for x in section]


@dataclass
class Pipeline:
    name: str
    receivers: list[str]
    processors: list[str]
    exporters: list[str]


@dataclass
class CompiledPlan:
    """Compiled DAG: one DataFrame per pipeline + runnable exporters."""
    spark: SparkSession
    pipeline_dfs: dict[str, DataFrame]
    _sinks: list[tuple[str, str, Callable[[], Any]]] = field(default_factory=list)

    def df(self, pipeline: str) -> DataFrame:
        return self.pipeline_dfs[pipeline]

    def run(self) -> dict[str, Any]:
        """Materialize every exporter; returns {pipeline/exporter: result}.

        Mirrors graph start order semantics loosely: exporters are the only
        effectful nodes in batch mode, so running them is running the graph.
        """
        results: dict[str, Any] = {}
        for pipeline, exporter, thunk in self._sinks:
            results[f"{pipeline}/{exporter}"] = thunk()
        return results


# -- config checks -------------------------------------------------------------
# A check is ``check(kind, cfg)``: it raises ConfigError with the message
# that follows the component's ``<class> '<id>': `` prefix, and returns
# the config its builder reads.


def _any(kind: str, cfg: dict) -> dict:
    return cfg


def _needs(**messages: str) -> Callable[[str, dict], dict]:
    """Check that each key is present; ``messages`` maps a key to the
    text that follows the kind when it is missing."""
    def check(kind: str, cfg: dict) -> dict:
        for key, text in messages.items():
            if key not in cfg:
                raise ConfigError(f"{kind} {text}")
        return cfg
    return check


_PATH = _needs(path="kind needs a `path:`")
_ENDPOINT = _needs(endpoint="kind needs an `endpoint:`")


def _check_statements(kind: str, cfg: dict) -> dict:
    """Transform statement TEXT parses Spark-free: a syntax error is a
    config error, not a compile-time surprise."""
    stmts = cfg.get("statements")
    if stmts:
        from ..functions.ottl_parser import OttlSyntaxError, parse_statement
        if not isinstance(stmts, (list, tuple)):
            raise ConfigError("statements must be a list")
        for st in stmts:
            try:
                parse_statement(str(st))
            except OttlSyntaxError as e:
                raise ConfigError(
                    f"bad OTTL statement {st!r}: {e}") from None
    return cfg


def _check_limiter(kind: str, cfg: dict):
    """The full reference config surface (limit_mib / spike / percentage
    / check_interval) resolves at config time, like
    memorylimiterprocessor's construction errors; the builder gets the
    parsed spec."""
    from .memlimit import MemLimitConfigError, parse_memlimiter
    try:
        return parse_memlimiter(cfg)
    except MemLimitConfigError as e:
        raise ConfigError(str(e)) from None


def _check_push(kind: str, cfg: dict) -> dict:
    """Live OTLP push: an endpoint, and ``compress:`` as a bool (gzip
    sugar) or a named configcompression coding string — NEVER
    bool()-coerced, which would silently turn ``compress: zstd`` into
    gzip."""
    _ENDPOINT(kind, cfg)
    v = cfg.get("compress", False)
    if not isinstance(v, (bool, str)):
        raise ConfigError(f"compress must be a bool or a coding name, "
                          f"got {type(v).__name__}")
    return cfg


def _check_routes(kind: str, cfg: dict) -> dict:
    """Every route a mapping with a `where:`; each route's `pipelines:`
    and the `default:` lists of pipeline ids (returned as lists)."""
    routes = cfg.get("routes", [])
    if not isinstance(routes, (list, tuple)):
        raise ConfigError("routes must be a list")
    checked = []
    for i, r in enumerate(routes):
        if not isinstance(r, dict) or "where" not in r:
            raise ConfigError(f"routes[{i}] needs a mapping with a `where:`")
        checked.append({**r, "pipelines": _ids(r.get("pipelines"),
                                               f"routes[{i}].pipelines")})
    return {**cfg, "routes": checked,
            "default": _ids(cfg.get("default"), "default")}


# -- receivers: build(spark, rid, cfg, sources, sf_dir) -> DataFrame ----------

def _memory_receiver(spark, rid, cfg, sources, sf_dir) -> DataFrame:
    if rid not in sources:
        raise ConfigError(f"memory receiver {rid!r} needs a sources[{rid!r}] DataFrame")
    return sources[rid]


def _table_receiver(spark, rid, cfg, sources, sf_dir) -> DataFrame:
    from ..sources.tables import load_table
    base = cfg.get("sf_dir") or sf_dir
    if base is None:
        raise ConfigError(f"table receiver {rid!r} needs sf_dir")
    return load_table(spark, base, cfg["table"])


def _reader(module: str, fn: str, signal: str = "traces"):
    """Receiver over the files at ``path:``, read by
    ``sources.<module>.<fn>(spark, path, signal)``."""
    def build(spark, rid, cfg, sources, sf_dir) -> DataFrame:
        read = getattr(import_module(f"..sources.{module}", __package__), fn)
        return read(spark, cfg["path"], cfg.get("signal", signal))
    return build


# the http/grpc/arrow spool kinds read the live OTLP front doors' shared
# spool (sources/spool.py; receiver/otlpreceiver/otlp.go serves both
# protocols, and arrow.go:251-349 the OTel-Arrow stream loop)
_RECEIVERS = {
    "memory": (_any, _memory_receiver),
    "table": (_needs(table="kind needs a `table:` name"), _table_receiver),
    "parquet": (_PATH, lambda spark, rid, cfg, *_: spark.read.parquet(cfg["path"])),
    "json": (_PATH, _reader("otlp_json", "read_otlp_json", "logs")),
    "pb": (_PATH, _reader("otlp_pb", "read_otlp_pb")),
    "http_spool": (_PATH, _reader("spool", "read_spool")),
    "grpc_spool": (_PATH, _reader("spool", "read_spool")),
    "arrow_spool": (_PATH, _reader("spool", "read_arrow_spool")),
}


# -- processors: build(df, pid, cfg, ctx) -> DataFrame ------------------------

def _transform(df, pid, cfg, ctx) -> DataFrame:
    from ..functions.ottl import apply_ottl
    # `statements:` carries OTTL statement TEXT (the transform
    # processor's native config surface, docs/processing.md:147+);
    # the dict keys remain the declarative shorthand
    if cfg.get("statements"):
        from ..functions.ottl_parser import apply_statements
        df = apply_statements(df, list(cfg["statements"]))
    return apply_ottl(df, cfg)


def _batch(df, pid, cfg, ctx) -> DataFrame:
    # No count(), no extra job: AQE rebalances partitions from runtime
    # shuffle stats; the hard per-request row cap lands at the sink
    # boundary via maxRecordsPerFile (ctx["batch_size"]), which is where
    # splitTraces caps export requests.
    ctx["batch_size"] = int(cfg.get("send_batch_size", 8192))
    return df.hint("rebalance")


def _memory_limiter(df, pid, spec, ctx) -> DataFrame:
    # Deferred: recorded here, checked at run() against the chain
    # position the limiter occupies (not the final sink plan).
    ctx["gates"].append((pid, spec, df))
    return df


_PROCESSORS = {
    "filter": (_needs(where="needs `where:`"),
               lambda df, pid, cfg, ctx: df.filter(cfg["where"])),
    "project": (_needs(exprs="needs `exprs:`"),
                lambda df, pid, cfg, ctx: df.selectExpr(*cfg["exprs"])),
    "transform": (_check_statements, _transform),
    "batch": (_any, _batch),
    "memory_limiter": (_check_limiter, _memory_limiter),
}


# -- exporters: build(df, eid, cfg, ctx) -> thunk ------------------------------

def _console(df, eid, cfg, ctx):
    n = int(cfg.get("rows", 20))
    # logging exporter (logging_exporter.go:20-90): textual dump
    return lambda: df._jdf.showString(n, 40, False)


def _parquet_sink(df, eid, cfg, ctx):
    path, mode, cap = cfg["path"], cfg.get("mode", "overwrite"), ctx["batch_size"]

    def write() -> str:
        w = df.write.mode(mode)
        if cap:   # batch processor's hard per-file row cap
            w = w.option("maxRecordsPerFile", cap)
        w.parquet(path)
        return path
    return write


def _pb_sink(df, eid, cfg, ctx):
    from ..sources.otlp_pb import write_otlp_pb
    return lambda: write_otlp_pb(df, cfg["path"], cfg["signal"])


def _pusher(module: str, fn: str):
    """Live OTLP push by ``exporters.<module>.<fn>``: executor-side
    requests; the thunk returns the audit totals dict."""
    def build(df, eid, cfg, ctx):
        push = getattr(import_module(f"..exporters.{module}", __package__), fn)
        return lambda: push(
            df, cfg["endpoint"], cfg.get("signal", "traces"),
            token=cfg.get("token"), compress=cfg.get("compress", False),
            max_rows_per_request=int(cfg.get("max_rows_per_request", 8192)))
    return build


def _arrow_stream(df, eid, cfg, ctx):
    # live OTel-Arrow bidi stream push (export_arrow_stream): one
    # executor-side stream per partition, per-batch acks
    from ..exporters.grpc_exporter import export_arrow_stream

    def push() -> dict:
        rows = export_arrow_stream(
            df, cfg["endpoint"],
            payload_type=int(cfg.get("payload_type", 40)),
            token=cfg.get("token")).collect()
        return {"rows_sent": sum(r.rows_sent for r in rows),
                "n_batches": sum(r.n_batches for r in rows),
                "all_acked": all(r.all_acked for r in rows)}
    return push


_EXPORTERS = {
    "console": (_any, _console),
    "parquet": (_PATH, _parquet_sink),
    "pb": (_needs(path="kind needs a `path:`", signal="kind needs a `signal:`"),
           _pb_sink),
    # OTLP/HTTP POSTs (exporters/http_exporter.py) and unary gRPC Exports
    # over stdlib HTTP/2 (exporters/grpc_exporter.py)
    "http": (_check_push, _pusher("http_exporter", "export_http_now")),
    "grpc": (_check_push, _pusher("grpc_exporter", "export_grpc_now")),
    # consumertest.Sink analogue (consumer/consumertest/sink.go:28-56)
    "memory": (_any, lambda df, eid, cfg, ctx: df.collect),
    "null": (_any, lambda df, eid, cfg, ctx: df.count),
    "arrow_stream": (_ENDPOINT, _arrow_stream),
}


# -- connectors: build(cid, cfg, pipeline, dfs) -> [DataFrame] -----------------

def _route(cid, cfg, pipeline, dfs) -> list[DataFrame]:
    # route rows by predicate to named downstream pipelines
    routes = cfg["routes"]
    preds = [r["where"] for r in routes if pipeline in r["pipelines"]]
    if preds:
        return [df.filter(" OR ".join(f"({p})" for p in preds)) for df in dfs]
    if pipeline in cfg["default"]:
        neg = " AND ".join(f"NOT ({r['where']})" for r in routes)
        return [df.filter(neg) if neg else df for df in dfs]
    raise ConfigError(
        f"router {cid!r}: pipeline {pipeline!r} matches no route and "
        f"is not in default")


def _spanmetrics(cid, cfg, pipeline, dfs) -> list[DataFrame]:
    # traces -> RED duration histograms (the traces->metrics connector;
    # operators/spans.py span_red_metrics).  Output is
    # METRIC_POINT_SCHEMA, so the receiving metrics pipeline can apply
    # the full §2.7 machinery unchanged.
    from ..operators.spans import span_red_metrics
    return [span_red_metrics(df, cfg.get("latency_bounds_ms")) for df in dfs]


_CONNECTORS = {
    "forward": (_any, lambda cid, cfg, pipeline, dfs: dfs),
    "router": (_check_routes, _route),
    "spanmetrics": (_any, _spanmetrics),
}


# config section -> (component class, default kind, kind table); the
# `components` subcommand prints the table keys, like the reference's
# componentsOutput (otelcol/command_components.go:16-57)
_SECTIONS = {
    "receivers": ("receiver", "table", _RECEIVERS),
    "processors": ("processor", None, _PROCESSORS),
    "exporters": ("exporter", "memory", _EXPORTERS),
    "connectors": ("connector", "forward", _CONNECTORS),
}


class PipelineGraph:
    """Validated pipeline graph, compilable to Spark DataFrames."""

    def __init__(self, cfg: dict):
        def section(key: str) -> dict:
            # fence the section TYPE: `receivers: [x]` (a YAML list) or
            # any other non-mapping must surface as the validate-exit-1
            # contract, never a raw ValueError out of dict()
            val = cfg.get(key) or {}
            if not isinstance(val, dict):
                raise ConfigError(
                    f"{key}: must be a mapping of component ids, got "
                    f"{type(val).__name__}")
            out = {}
            for cid, ccfg in val.items():
                # each component config must be a mapping (or empty):
                # `receivers: {r: 5}` must be the validate contract,
                # not an AttributeError out of the kind walk; a YAML
                # null (`r: ~`) normalizes to {} so every downstream
                # membership/get walk sees a dict
                if ccfg is None:
                    ccfg = {}
                if not isinstance(ccfg, dict):
                    raise ConfigError(
                        f"{key}.{cid}: component config must be a "
                        f"mapping, got {type(ccfg).__name__}")
                out[cid] = ccfg
            return out

        self.receivers: dict[str, dict] = section("receivers")
        self.processors: dict[str, dict] = section("processors")
        self.exporters: dict[str, dict] = section("exporters")
        self.connectors: dict[str, dict] = section("connectors")
        pipes = section("pipelines")
        if not pipes:
            raise ConfigError("config must declare at least one pipeline")
        self.pipelines: dict[str, Pipeline] = {}
        for name, p in pipes.items():
            p = p or {}   # section() already fenced non-mapping configs
            self.pipelines[name] = Pipeline(
                name=name,
                receivers=_ids(p.get("receivers"), f"pipelines.{name}.receivers"),
                processors=_ids(p.get("processors"), f"pipelines.{name}.processors"),
                exporters=_ids(p.get("exporters"), f"pipelines.{name}.exporters"),
            )
        self._validate()
        # (section, id) -> (builder, checked config): every declared
        # component is checked here, before anything is built
        self._parts: dict[tuple[str, str], tuple[Callable, Any]] = {}
        for key, (what, default, table) in _SECTIONS.items():
            for cid, ccfg in getattr(self, key).items():
                kind = ccfg.get("kind", default)
                entry = table.get(kind) if isinstance(kind, str) else None
                if entry is None:
                    raise ConfigError(f"{what} {cid!r}: unknown kind {kind!r}")
                check, build = entry
                try:
                    self._parts[key, cid] = (build, check(kind, ccfg))
                except ConfigError as e:
                    raise ConfigError(f"{what} {cid!r}: {e}") from None

    @classmethod
    def from_yaml(cls, text: str) -> "PipelineGraph":
        import yaml
        cfg = yaml.safe_load(text)
        if not isinstance(cfg, dict):
            raise ConfigError("top-level config must be a mapping")
        return cls(cfg)

    # -- validation (graph.go:50-66 Build + createNodes reference checks) --

    def _validate(self) -> None:
        for name, p in self.pipelines.items():
            if not p.receivers:
                raise ConfigError(f"pipeline {name!r} must have at least one receiver")
            if not p.exporters:
                raise ConfigError(f"pipeline {name!r} must have at least one exporter")
            for r in p.receivers:
                if r not in self.receivers and r not in self.connectors:
                    raise ConfigError(
                        f"pipeline {name!r} references unknown receiver {r!r}")
            for pr in p.processors:
                if pr not in self.processors:
                    raise ConfigError(
                        f"pipeline {name!r} references unknown processor {pr!r}")
            for e in p.exporters:
                if e not in self.exporters and e not in self.connectors:
                    raise ConfigError(
                        f"pipeline {name!r} references unknown exporter {e!r}")
        # connectors must be used on BOTH ends (connector/connector.go factory
        # build fails when a connector has no matching receiver/exporter use)
        for c in self.connectors:
            as_exp = any(c in p.exporters for p in self.pipelines.values())
            as_rcv = any(c in p.receivers for p in self.pipelines.values())
            if as_exp != as_rcv:
                side = "exporter" if as_exp else "receiver"
                raise ConfigError(
                    f"connector {c!r} is used as {side} only; it must appear on "
                    f"both the exporter end of one pipeline and the receiver "
                    f"end of another")
        self._topo_order()  # raises CycleError

    def _pipeline_edges(self) -> dict[str, set[str]]:
        """pipeline -> downstream pipelines (via connectors)."""
        consumers_of: dict[str, list[str]] = {}
        for name, p in self.pipelines.items():
            for r in p.receivers:
                if r in self.connectors:
                    consumers_of.setdefault(r, []).append(name)
        edges: dict[str, set[str]] = {n: set() for n in self.pipelines}
        for name, p in self.pipelines.items():
            for e in p.exporters:
                if e in self.connectors:
                    edges[name].update(consumers_of.get(e, ()))
        return edges

    def _topo_order(self) -> list[str]:
        """Kahn topo-sort over pipelines; on failure, DFS extracts one cycle
        and names it in the error (cycleErr, graph.go:386-424)."""
        edges = self._pipeline_edges()
        indeg = {n: 0 for n in edges}
        for dsts in edges.values():
            for d in dsts:
                indeg[d] += 1
        queue = sorted(n for n, k in indeg.items() if k == 0)
        order: list[str] = []
        while queue:
            n = queue.pop(0)
            order.append(n)
            for d in sorted(edges[n]):
                indeg[d] -= 1
                if indeg[d] == 0:
                    queue.append(d)
        if len(order) == len(edges):
            return order
        # extract one cycle for the error message
        in_cycle = {n for n, k in indeg.items() if k > 0 and n not in order}
        start = sorted(in_cycle)[0]
        path, node = [start], start
        while True:
            node = sorted(d for d in edges[node] if d in in_cycle)[0]
            if node in path:
                cyc = path[path.index(node):] + [node]
                raise CycleError(
                    "cycle detected in pipeline graph: "
                    + " -> ".join(f"pipeline {p!r}" for p in cyc))
            path.append(node)

    # ------------------------- compilation -------------------------------

    def compile(self, spark: SparkSession,
                sources: dict[str, DataFrame] | None = None,
                sf_dir: str | None = None) -> CompiledPlan:
        """Build every pipeline's DataFrame in topological order.

        ``sources`` feeds ``kind: memory`` receivers; ``sf_dir`` is the base
        dir for ``kind: table`` receivers.
        """
        sources = sources or {}
        receiver_df: dict[str, DataFrame] = {}   # shared instances
        connector_inputs: dict[str, list[DataFrame]] = {}
        plan = CompiledPlan(spark=spark, pipeline_dfs={})

        for name in self._topo_order():
            p = self.pipelines[name]
            inputs: list[DataFrame] = []
            for r in p.receivers:
                if r in self.connectors:
                    dfs = connector_inputs.get(r)
                    if not dfs:
                        raise ConfigError(
                            f"connector {r!r} feeding pipeline {name!r} has "
                            f"no upstream output (check pipeline ordering)")
                    build, cfg = self._parts["connectors", r]
                    inputs.extend(build(r, cfg, name, dfs))
                else:
                    if r not in receiver_df:
                        build, cfg = self._parts["receivers", r]
                        receiver_df[r] = build(spark, r, cfg, sources, sf_dir)
                    inputs.append(receiver_df[r])
            if not inputs:
                raise ConfigError(f"pipeline {name!r} has no live inputs")
            df = inputs[0]
            for other in inputs[1:]:   # fan-in (MoveAndAppendTo, slice.go:103)
                df = df.unionByName(other)
            # per-pipeline compile context: batch size cap for the sink
            # boundary + deferred memory-limiter gates (run-time admission)
            ctx = {"batch_size": None, "gates": []}
            for pr in p.processors:    # per-pipeline processor instances
                build, cfg = self._parts["processors", pr]
                df = build(df, pr, cfg, ctx)
            plan.pipeline_dfs[name] = df
            for e in p.exporters:      # fan-out (fanoutconsumer; clone-free)
                if e in self.connectors:
                    connector_inputs.setdefault(e, []).append(df)
                else:
                    build, cfg = self._parts["exporters", e]
                    plan._sinks.append(
                        (name, e,
                         self._gated(build(df, e, cfg, ctx), ctx["gates"])))
        return plan

    @staticmethod
    def _gated(thunk, gates):
        """Wrap a sink thunk with run-time memory-limiter admission.

        The gate DataFrame is persisted across admission + export so the
        upstream plan executes once: the limit(n+1) admission scan fills
        the cache, and the sink's materialization (whose plan contains the
        same subtree) reads it back via InMemoryRelation substitution."""
        if not gates:
            return thunk

        def run():
            from .memlimit import estimate_row_bytes
            for _, _, gdf in gates:
                gdf.persist()
            try:
                for pid, spec, gdf in gates:
                    if spec.max_rows is not None:
                        limit = spec.max_rows
                        # refusal (not truncation): errDataRefused
                        if gdf.limit(limit + 1).count() > limit:
                            raise DataRefusedError(
                                f"memory_limiter {pid!r}: input exceeds "
                                f"{limit} rows; data refused (retry "
                                f"upstream)")
                        continue
                    # bytes budget: sampled avg row size x admitted rows
                    # vs the soft limit (limit - spike), the reference's
                    # refusal threshold (memorylimiter.go:315-317)
                    soft = spec.soft_limit_bytes
                    n = gdf.count()
                    avg = estimate_row_bytes(gdf.limit(256).collect(),
                                             gdf.schema)
                    est = int(avg * n)
                    # >= : aboveSoftLimit refuses AT the threshold
                    # (memorylimiter.go:315 Alloc >= limit - spike)
                    if est >= soft:
                        raise DataRefusedError(
                            f"memory_limiter {pid!r}: estimated input "
                            f"{est} B exceeds soft limit {soft} B "
                            f"(limit - spike); data refused (retry "
                            f"upstream)")
                return thunk()
            finally:
                for _, _, gdf in gates:
                    gdf.unpersist()
        return run
