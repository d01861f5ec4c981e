"""Small driver-built relations go through ``session.local_frame``.

``spark.createDataFrame(python_rows, schema)`` parallelizes the rows
into a ``PythonRDD``: every action that reads the frame starts Python
workers, and its ``LogicalRDD`` reports ``sizeInBytes = 9.2e18``, so a
join against it needs a hand-placed broadcast hint.  ``local_frame``
builds the same rows through Arrow into a sized ``LocalRelation``.
Under the engine package only ``local_frame`` itself calls
``createDataFrame(``.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "otel_arrow_collector_spark"
HELPER = ("session.py", "local_frame")
PROBE = re.compile(r"\bcreateDataFrame\(")


def _offenders(path: Path, rel: str) -> list[str]:
    """``createDataFrame(`` calls in one module outside the helper."""
    hits, where = [], "module"
    for no, line in enumerate(path.read_text().splitlines(), 1):
        if m := re.match(r"def (\w+)", line):
            where = m.group(1)
        if PROBE.search(line) and (rel, where) != HELPER:
            hits.append(f"{rel}:{no} ({where}): {line.strip()}")
    return hits


def test_only_local_frame_creates_dataframes_from_rows():
    hits = [h for path in sorted(PKG.rglob("*.py"))
            for h in _offenders(path, str(path.relative_to(PKG)))]
    assert not hits, "\n".join(hits)


def test_the_guard_sees_a_python_row_relation(tmp_path):
    """A ``createDataFrame`` of Python rows is caught, in a function or
    at module level; only ``session.local_frame``'s own call is not."""
    src = tmp_path / "probe.py"
    src.write_text(
        "EMPTY = spark.createDataFrame([], 'x long')\n"
        "def offsets(spark, rows):\n"
        "    return F.broadcast(spark.createDataFrame(rows, 'k long'))\n"
        "def local_frame(spark, rows, schema):\n"
        "    return spark.createDataFrame(rows, schema)\n")

    def lines(rel):
        return [h.split(":")[1].split()[0] for h in _offenders(src, rel)]
    assert lines("operators/probe.py") == ["1", "3", "5"]
    assert lines("session.py") == ["1", "3"]
