"""OTLP row-model batches cross the Spark/Python boundary through the one
Arrow <-> row bridge (``otlp_pb.batch_to_rows`` / ``rows_to_batch``).

Converting a whole record batch row by row (``batch.to_pylist()``, then
reshaping every cell, or ``RecordBatch.from_pylist(rows)``) cost more
CPU per span than the wire codec itself.  Under ``sources/`` and
``exporters/`` only the bridge may convert a whole batch; single columns
(``batch.column(i).to_pylist()``) and the one-row audit batches an
export stage yields are fine.  ``sources/otap.py`` converts OTel-Arrow
payload tables, a flat schema of their own, on the driver.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "otel_arrow_collector_spark"
SCOPE = ("sources", "exporters")
ALLOWED_FILES = {"sources/otap.py"}
BRIDGE = {("sources/otlp_pb.py", "_py_values")}


def _is_column(node: ast.AST) -> bool:
    return (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "column")


def _offenders(path: Path, rel: str) -> list[str]:
    """Whole-batch conversions in one module (``rel``: its path under
    the package)."""
    hits = []

    def visit(fn: ast.AST, where: str):
        columns = {t.id for node in ast.walk(fn)
                   if isinstance(node, ast.Assign) and _is_column(node.value)
                   for t in node.targets if isinstance(t, ast.Name)}
        for node in ast.walk(fn):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)):
                continue
            recv, name = node.func.value, node.func.attr
            if name == "to_pylist" and not (
                    _is_column(recv) or (isinstance(recv, ast.Name)
                                         and recv.id in columns)):
                hits.append(f"{rel}:{node.lineno} ({where}): whole-batch "
                            "to_pylist()")
            if name == "from_pylist" and not (
                    node.args and isinstance(node.args[0], ast.List)
                    and len(node.args[0].elts) == 1):
                hits.append(f"{rel}:{node.lineno} ({where}): from_pylist "
                            "of more than one row")

    for node in ast.parse(path.read_text()).body:
        where = getattr(node, "name", "module")
        if (rel, where) not in BRIDGE:
            visit(node, where)
    return hits


def test_only_the_bridge_converts_whole_batches():
    hits = [h for sub in SCOPE for path in sorted((PKG / sub).glob("*.py"))
            if (rel := str(path.relative_to(PKG))) not in ALLOWED_FILES
            for h in _offenders(path, rel)]
    assert not hits, "\n".join(hits)


def test_plainify_stays_deleted():
    hits = [f"{path.relative_to(REPO)}:{no}"
            for path in sorted(PKG.rglob("*.py"))
            for no, line in enumerate(path.read_text().splitlines(), 1)
            if "_plainify" in line]
    assert not hits, "\n".join(hits)


def test_the_guard_sees_the_replaced_conversions(tmp_path):
    """The row-wise conversions the bridge replaced are caught; a single
    column and a one-row audit batch are not."""
    src = tmp_path / "probe.py"
    src.write_text(
        "def send(batches, rows, pa, schema):\n"
        "    for batch in batches:\n"
        "        recs = batch.to_pylist()\n"
        "        col = batch.column(0)\n"
        "        ok = col.to_pylist() + batch.column(1).to_pylist()\n"
        "    yield pa.RecordBatch.from_pylist(rows, schema=schema)\n"
        "    yield pa.RecordBatch.from_pylist([{'n': len(rows)}])\n")
    hits = _offenders(src, "exporters/probe.py")
    assert [h.split(":")[1].split()[0] for h in hits] == ["3", "6"]
