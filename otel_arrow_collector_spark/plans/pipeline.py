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
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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


# Factory inventory — every component type the graph compiler can build
# (the `components` CLI subcommand dumps this, like the reference's
# componentsOutput of otelcol/command_components.go:16-57; keep these in
# lock-step with the dispatch in _build_receiver/_apply_processor/
# _sink_thunk/_connector_out below).
RECEIVER_KINDS = ("memory", "table", "parquet", "json", "pb",
                  "http_spool", "grpc_spool", "arrow_spool")
PROCESSOR_KINDS = ("filter", "project", "transform", "batch",
                   "memory_limiter")
EXPORTER_KINDS = ("console", "parquet", "pb", "http", "grpc", "memory",
                  "null", "arrow_stream")
CONNECTOR_KINDS = ("forward", "router", "spanmetrics")
EXTENSION_KINDS = ("file_storage", "zpages", "bearer_token_auth", "nop")


def _compress_cfg(cfg: dict, eid: str):
    """Exporter ``compress:`` config: bool (gzip sugar) or a named
    configcompression coding string — NEVER bool()-coerced, which would
    silently turn ``compress: zstd`` into gzip."""
    v = cfg.get("compress", False)
    if isinstance(v, bool):
        return v
    if isinstance(v, str):
        return v
    raise ConfigError(f"exporter {eid!r}: compress must be a bool or a "
                      f"coding name, got {type(v).__name__}")


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

    def validate_kinds(self) -> None:
        """Config-time component validation without a SparkSession — the
        `validate` subcommand's depth (command_validate.go DryRun parses
        and validates, it never starts components): every declared
        component's kind must be a registered factory, per-kind required
        keys must be present, and the memory_limiter budget must resolve
        (its construction errors are config errors in the reference)."""
        for rid, cfg in self.receivers.items():
            kind = (cfg or {}).get("kind", "table")
            if kind not in RECEIVER_KINDS:
                raise ConfigError(f"receiver {rid!r}: unknown kind {kind!r}")
            if kind == "table" and "table" not in cfg:
                raise ConfigError(f"receiver {rid!r}: table kind needs "
                                  f"a `table:` name")
            if kind in ("parquet", "json", "pb", "http_spool",
                        "grpc_spool", "arrow_spool") and "path" not in cfg:
                raise ConfigError(f"receiver {rid!r}: {kind} kind needs "
                                  f"a `path:`")
        for pid, cfg in self.processors.items():
            kind = (cfg or {}).get("kind")
            if kind not in PROCESSOR_KINDS:
                raise ConfigError(f"processor {pid!r}: unknown kind {kind!r}")
            if kind == "filter" and "where" not in cfg:
                raise ConfigError(f"processor {pid!r}: filter needs `where:`")
            if kind == "project" and "exprs" not in cfg:
                raise ConfigError(f"processor {pid!r}: project needs `exprs:`")
            if kind == "transform" and cfg.get("statements"):
                # statement TEXT parses Spark-free: a syntax error must
                # be the validate contract, not a compile-time surprise
                from ..functions.ottl_parser import (OttlSyntaxError,
                                                     parse_statement)
                stmts = cfg["statements"]
                if not isinstance(stmts, (list, tuple)):
                    raise ConfigError(f"processor {pid!r}: statements "
                                      f"must be a list")
                for st in stmts:
                    try:
                        parse_statement(str(st))
                    except OttlSyntaxError as e:
                        raise ConfigError(
                            f"processor {pid!r}: bad OTTL statement "
                            f"{st!r}: {e}") from None
            if kind == "memory_limiter":
                from .memlimit import MemLimitConfigError, parse_memlimiter
                try:
                    parse_memlimiter(cfg)
                except MemLimitConfigError as e:
                    raise ConfigError(f"processor {pid!r}: {e}") from None
        for eid, cfg in self.exporters.items():
            kind = (cfg or {}).get("kind", "memory")
            if kind not in EXPORTER_KINDS:
                raise ConfigError(f"exporter {eid!r}: unknown kind {kind!r}")
            if kind in ("parquet", "pb") and "path" not in cfg:
                raise ConfigError(f"exporter {eid!r}: {kind} kind needs "
                                  f"a `path:`")
            if kind == "pb" and "signal" not in cfg:
                # the sink thunk defers cfg["signal"] into its lambda,
                # so without this check `validate` would pass a config
                # that dies with a raw KeyError at export time
                raise ConfigError(f"exporter {eid!r}: pb kind needs "
                                  f"a `signal:`")
            if kind in ("http", "grpc", "arrow_stream") \
                    and "endpoint" not in cfg:
                raise ConfigError(f"exporter {eid!r}: {kind} kind needs "
                                  f"an `endpoint:`")
        for cid, cfg in self.connectors.items():
            kind = (cfg or {}).get("kind", "forward")
            if kind not in CONNECTOR_KINDS:
                raise ConfigError(f"connector {cid!r}: unknown kind {kind!r}")
            if kind == "router":
                routes = cfg.get("routes", [])
                if not isinstance(routes, (list, tuple)):
                    raise ConfigError(f"connector {cid!r}: routes must "
                                      f"be a list")
                for i, r in enumerate(routes):
                    if not isinstance(r, dict) or "where" not in r:
                        # compile reads r["where"] — a malformed route
                        # must fail validate, not KeyError at compile
                        raise ConfigError(
                            f"connector {cid!r}: routes[{i}] needs a "
                            f"mapping with a `where:`")

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
        connector_inputs: dict[str, list[tuple[str, DataFrame]]] = {}
        plan = CompiledPlan(spark=spark, pipeline_dfs={})

        for name in self._topo_order():
            p = self.pipelines[name]
            inputs: list[DataFrame] = []
            for r in p.receivers:
                if r in self.connectors:
                    inputs.extend(self._connector_out(r, name, connector_inputs))
                else:
                    if r not in receiver_df:
                        receiver_df[r] = self._build_receiver(
                            spark, r, sources, sf_dir)
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
                df = self._apply_processor(df, pr, ctx)
            plan.pipeline_dfs[name] = df
            for e in p.exporters:      # fan-out (fanoutconsumer; clone-free)
                if e in self.connectors:
                    connector_inputs.setdefault(e, []).append((name, df))
                else:
                    plan._sinks.append(
                        (name, e,
                         self._build_sink(df, self.exporters[e], e, ctx)))
        return plan

    # -- component builders ------------------------------------------------

    def _build_receiver(self, spark, rid: str, sources, sf_dir) -> DataFrame:
        cfg = self.receivers[rid]
        kind = cfg.get("kind", "table")
        if kind == "memory":
            if rid not in sources:
                raise ConfigError(f"memory receiver {rid!r} needs a sources[{rid!r}] DataFrame")
            return sources[rid]
        if kind == "table":
            from ..sources.tables import load_table
            base = cfg.get("sf_dir") or sf_dir
            if base is None:
                raise ConfigError(f"table receiver {rid!r} needs sf_dir")
            return load_table(spark, base, cfg["table"])
        if kind == "parquet":
            return spark.read.parquet(cfg["path"])
        if kind == "json":
            from ..sources.otlp_json import read_otlp_json
            return read_otlp_json(spark, cfg["path"], cfg.get("signal", "logs"))
        if kind == "pb":
            from ..sources.otlp_pb import read_otlp_pb
            return read_otlp_pb(spark, cfg["path"], cfg.get("signal", "traces"))
        if kind in ("http_spool", "grpc_spool", "arrow_spool"):
            # the live OTLP front doors' shared spool (sources/spool.py;
            # receiver/otlpreceiver/otlp.go serves both protocols, and
            # arrow.go:251-349 the OTel-Arrow stream loop)
            from ..sources import spool
            read = (spool.read_arrow_spool if kind == "arrow_spool"
                    else spool.read_spool)
            return read(spark, cfg["path"], cfg.get("signal", "traces"))
        raise ConfigError(f"receiver {rid!r}: unknown kind {kind!r}")

    def _apply_processor(self, df: DataFrame, pid: str, ctx: dict) -> DataFrame:
        cfg = self.processors[pid]
        kind = cfg.get("kind")
        if kind == "filter":
            return df.filter(cfg["where"])
        if kind == "project":
            return df.selectExpr(*cfg["exprs"])
        if kind == "transform":
            from ..functions.ottl import apply_ottl
            # `statements:` carries OTTL statement TEXT (the transform
            # processor's native config surface, docs/processing.md:147+);
            # the dict keys remain the declarative shorthand
            if cfg.get("statements"):
                from ..functions.ottl_parser import apply_statements
                df = apply_statements(df, list(cfg["statements"]))
            return apply_ottl(df, cfg)
        if kind == "batch":
            # No count(), no extra job: AQE rebalances partitions from
            # runtime shuffle stats; the hard per-request row cap lands at
            # the sink boundary via maxRecordsPerFile (ctx["batch_size"]),
            # which is where splitTraces caps export requests.
            ctx["batch_size"] = int(cfg.get("send_batch_size", 8192))
            return df.hint("rebalance")
        if kind == "memory_limiter":
            # Deferred: recorded here, checked at run() against the chain
            # position the limiter occupies (not the final sink plan).
            # The full reference config surface (limit_mib / spike /
            # percentage / check_interval) is validated HERE, at config
            # time, like memorylimiterprocessor's construction errors.
            from .memlimit import MemLimitConfigError, parse_memlimiter
            try:
                spec = parse_memlimiter(cfg)
            except MemLimitConfigError as e:
                raise ConfigError(f"processor {pid!r}: {e}") from None
            ctx["gates"].append((pid, spec, df))
            return df
        raise ConfigError(f"processor {pid!r}: unknown kind {kind!r}")

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

    def _build_sink(self, df: DataFrame, cfg: dict, eid: str,
                    ctx: dict | None = None):
        ctx = ctx or {"batch_size": None, "gates": []}
        thunk = self._sink_thunk(df, cfg, eid, ctx)
        return self._gated(thunk, ctx["gates"])

    def _sink_thunk(self, df: DataFrame, cfg: dict, eid: str, ctx: dict):
        kind = cfg.get("kind", "memory")
        if kind == "console":
            n = int(cfg.get("rows", 20))

            def console() -> str:
                # logging exporter (logging_exporter.go:20-90): textual dump
                return df._jdf.showString(n, 40, False)
            return console
        if kind == "parquet":
            path = cfg["path"]
            mode = cfg.get("mode", "overwrite")
            cap = ctx.get("batch_size")

            def write() -> str:
                w = df.write.mode(mode)
                if cap:   # batch processor's hard per-file row cap
                    w = w.option("maxRecordsPerFile", cap)
                w.parquet(path)
                return path
            return write
        if kind == "pb":
            from ..sources.otlp_pb import write_otlp_pb
            return lambda: write_otlp_pb(df, cfg["path"], cfg["signal"])
        if kind == "http":
            # live OTLP/HTTP push (exporters/http_exporter.py): executor-
            # side POSTs; returns the audit totals dict
            from ..exporters.http_exporter import export_http_now
            return lambda: export_http_now(
                df, cfg["endpoint"], cfg.get("signal", "traces"),
                token=cfg.get("token"),
                # configcompression: bool OR a named coding (zstd/zlib/
                # deflate) — bool() would silently degrade every named
                # coding to gzip
                compress=_compress_cfg(cfg, eid),
                max_rows_per_request=int(
                    cfg.get("max_rows_per_request", 8192)))
        if kind == "grpc":
            # live OTLP/gRPC push (exporters/grpc_exporter.py): executor-
            # side unary Exports over stdlib HTTP/2
            from ..exporters.grpc_exporter import export_grpc_now
            return lambda: export_grpc_now(
                df, cfg["endpoint"], cfg.get("signal", "traces"),
                token=cfg.get("token"),
                compress=_compress_cfg(cfg, eid),
                max_rows_per_request=int(
                    cfg.get("max_rows_per_request", 8192)))
        if kind == "memory":
            # consumertest.Sink analogue (consumer/consumertest/sink.go:28-56)
            return lambda: df.collect()
        if kind == "null":
            return lambda: df.count()
        if kind == "arrow_stream":
            # live OTel-Arrow bidi stream push (export_arrow_stream):
            # one executor-side stream per partition, per-batch acks
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
        raise ConfigError(f"exporter {eid!r}: unknown kind {kind!r}")

    def _connector_out(self, cid: str, pipeline: str,
                       connector_inputs) -> list[DataFrame]:
        cfg = self.connectors[cid]
        kind = cfg.get("kind", "forward")
        inputs = connector_inputs.get(cid, [])
        if not inputs:
            raise ConfigError(
                f"connector {cid!r} feeding pipeline {pipeline!r} has no "
                f"upstream output (check pipeline ordering)")
        if kind == "forward":
            return [df for _, df in inputs]
        if kind == "router":
            # route rows by predicate to named downstream pipelines
            routes = cfg.get("routes", [])
            preds = [r["where"] for r in routes
                     if pipeline in _ids(r.get("pipelines"), "router.pipelines")]
            if preds:
                return [df.filter(" OR ".join(f"({p})" for p in preds))
                        for _, df in inputs]
            default = _ids(cfg.get("default"), "router.default")
            if pipeline in default:
                neg = " AND ".join(f"NOT ({r['where']})" for r in routes)
                return [df.filter(neg) if neg else df for _, df in inputs]
            raise ConfigError(
                f"router {cid!r}: pipeline {pipeline!r} matches no route and "
                f"is not in default")
        if kind == "spanmetrics":
            # traces -> RED duration histograms (the traces->metrics
            # connector; operators/spans.py span_red_metrics).  Output is
            # METRIC_POINT_SCHEMA, so the receiving metrics pipeline can
            # apply the full §2.7 machinery unchanged.
            from ..operators.spans import span_red_metrics
            bounds = cfg.get("latency_bounds_ms")
            return [span_red_metrics(df, bounds) for _, df in inputs]
        raise ConfigError(f"connector {cid!r}: unknown kind {kind!r}")
