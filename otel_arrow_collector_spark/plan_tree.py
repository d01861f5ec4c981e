"""Structural reader of Spark plans: the one place the engine, its tests
and its tools learn a plan's shape.

:func:`read` walks a plan through py4j into a small tree of
:class:`Node` objects.  Each node records its operator class, its
children and the fields the design claims are about (join type and
build side, exchange partitioning, scan filters and read schema, window
keys, aggregate modes), with every expression rendered as its Catalyst
``sql`` string, so no caller parses ``explain`` text.

- For a DataFrame it reads ``queryExecution().executedPlan()``: AQE's
  initial plan before an action, its final plan after one.  Any other
  Catalyst ``TreeNode`` (an analyzed logical plan, say) is read as is.
- Wrapper nodes are transparent: whole-stage codegen, input adapters,
  the adaptive root, query stages, reused exchanges and subquery
  holders.  The walk descends into ``InMemoryRelation`` cached plans
  (as the child of their scan) and into subqueries.
- Each node is recorded once.  A reused exchange or subquery resolves
  to the node of the one it reuses, and every scan of one cached
  relation shares the node of its cached plan; :meth:`Node.walk` visits
  a shared node once.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.sql import DataFrame

#: wrappers that add nothing to a plan's shape -> the method reaching
#: the wrapped plan
_TRANSPARENT = {
    "WholeStageCodegenExec": "child",
    "InputAdapter": "child",
    "AdaptiveSparkPlanExec": "executedPlan",
    "ShuffleQueryStageExec": "plan",
    "BroadcastQueryStageExec": "plan",
    "TableCacheQueryStageExec": "plan",
    "ResultQueryStageExec": "plan",
    "ReusedExchangeExec": "child",
    "SubqueryExec": "child",
    "SubqueryBroadcastExec": "child",
    "SubqueryAdaptiveBroadcastExec": "child",
    "ReusedSubqueryExec": "plan",
}
#: operators that can be reached from more than one place in one plan
_SHARED = {"ShuffleExchangeExec", "BroadcastExchangeExec"}
_AGGREGATES = {"HashAggregate", "ObjectHashAggregate", "SortAggregate"}
_KEYED_JOINS = {"BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin"}
_BUILD_SIDED = {"BroadcastHashJoin", "ShuffledHashJoin",
                "BroadcastNestedLoopJoin"}


@dataclass(eq=False, repr=False)
class Node:
    """One plan operator.

    ``name`` is the class name without its ``Exec`` suffix
    (``BroadcastHashJoin``, ``ShuffleExchange``, ``FileSourceScan``,
    ``Window``).  Fields that do not apply to the operator stay empty.
    """
    cls: str                                  # fully qualified class
    children: tuple[Node, ...] = ()
    subqueries: tuple[Node, ...] = ()
    exprs: tuple[str, ...] = ()               # the node's own expressions
    #: join keys (left then right), exchange partitioning keys, window
    #: partition keys or aggregate grouping keys
    keys: tuple[str, ...] = ()
    join_type: str | None = None              # "INNER", "LEFT SEMI", ...
    build_side: str | None = None             # "left" / "right"
    partitioning: str | None = None           # "hash", "single", ...
    aggs: tuple[tuple[str, str], ...] = ()    # (mode, aggregate sql)
    pushed_filters: tuple[str, ...] = ()
    partition_filters: tuple[str, ...] = ()
    read_schema: tuple[tuple[str, str], ...] = ()   # (column, type)
    paths: tuple[str, ...] = ()

    @property
    def name(self) -> str:
        simple = self.cls.rsplit(".", 1)[-1]
        return simple[:-4] if simple.endswith("Exec") else simple

    @property
    def is_join(self) -> bool:
        return self.name.endswith("Join") or self.name == "CartesianProduct"

    @property
    def is_shuffle(self) -> bool:
        """A data-moving exchange (a broadcast ships the small side)."""
        return self.name == "ShuffleExchange"

    def __repr__(self) -> str:
        return f"<{self.name}>"

    def walk(self) -> Iterator[Node]:
        """Pre-order over the node, its children and its subqueries;
        a shared node is visited once."""
        seen: set[int] = set()
        stack = [self]
        while stack:
            node = stack.pop()
            if id(node) in seen:
                continue
            seen.add(id(node))
            yield node
            stack.extend(reversed(node.children + node.subqueries))

    def find(self, *names: str) -> list[Node]:
        """Every node (this one included) whose ``name`` is in ``names``."""
        return [n for n in self.walk() if n.name in names]

    def count(self, *names: str) -> int:
        return len(self.find(*names))

    def joins(self) -> list[Node]:
        return [n for n in self.walk() if n.is_join]

    def exchanges(self) -> list[Node]:
        """The shuffle exchanges."""
        return [n for n in self.walk() if n.is_shuffle]

    def python_nodes(self) -> list[Node]:
        """Operators that run Python workers (UDFs, ``mapInPandas``)."""
        return [n for n in self.walk() if ".execution.python." in n.cls]

    def scans(self) -> list[Node]:
        """The file scans."""
        return self.find("FileSourceScan")

    def windows(self) -> list[Node]:
        return self.find("Window")


def read(plan) -> Node:
    """The tree of a DataFrame's executed plan, or of a JVM Catalyst
    ``TreeNode`` (a logical or physical plan)."""
    if isinstance(plan, DataFrame):
        plan = plan._jdf.queryExecution().executedPlan()
    return _Walker().node(plan)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _sql(exprs) -> tuple[str, ...]:
    return tuple(e.sql() for e in _seq(exprs))


class _Walker:
    def __init__(self):
        self._memo: dict[int, Node] = {}

    def _shared(self, j, build) -> Node:
        key = SparkContext._jvm.System.identityHashCode(j)
        if key not in self._memo:
            self._memo[key] = build()
        return self._memo[key]

    def node(self, j) -> Node:
        cls = j.getClass().getName()
        simple = cls.rsplit(".", 1)[-1]
        unwrap = _TRANSPARENT.get(simple)
        if unwrap is not None:
            return self.node(getattr(j, unwrap)())
        if simple in _SHARED:
            return self._shared(j, lambda: self._build(cls, j))
        return self._build(cls, j)

    def _cached(self, j) -> Node:
        return self._shared(j, lambda: self.node(j))

    def _build(self, cls: str, j) -> Node:
        node = Node(cls,
                    children=tuple(self.node(c) for c in _seq(j.children())),
                    subqueries=tuple(self._cached(s)
                                     for s in _seq(j.subqueries())),
                    exprs=_sql(j.expressions()))
        name = node.name
        if name == "InMemoryTableScan":
            node.children = (self._cached(j.relation().cachedPlan()),)
        elif name in _KEYED_JOINS:
            node.keys = _sql(j.leftKeys()) + _sql(j.rightKeys())
        elif name == "ShuffleExchange":
            part = j.outputPartitioning()
            kind = part.getClass().getSimpleName().rstrip("$")
            node.partitioning = re.sub(r"Partition(ing)?$", "", kind).lower()
            if node.partitioning in ("hash", "range"):
                node.keys = _sql(part.children())
        elif name == "BroadcastExchange":
            node.partitioning = "broadcast"
        elif name in ("Window", "WindowGroupLimit"):
            node.keys = _sql(j.partitionSpec())
        elif name in _AGGREGATES:
            node.keys = _sql(j.groupingExpressions())
            node.aggs = tuple((a.mode().toString(), a.sql())
                              for a in _seq(j.aggregateExpressions()))
        elif name == "FileSourceScan":
            node.pushed_filters = tuple(
                f.toV2().describe() for f in _seq(j.pushedDownFilters()))
            node.partition_filters = _sql(j.partitionFilters())
            node.read_schema = tuple(
                (f["name"], f["type"] if isinstance(f["type"], str)
                 else f["type"]["type"])
                for f in json.loads(j.requiredSchema().json())["fields"])
            node.paths = tuple(p.toString() for p in
                               _seq(j.relation().location().rootPaths()))
        if node.is_join:
            node.join_type = j.joinType().sql()
            if name in _BUILD_SIDED:
                side = j.buildSide().getClass().getSimpleName()
                node.build_side = "left" if "Left" in side else "right"
        return node
