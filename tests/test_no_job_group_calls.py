"""Query runs are measured through ``query_run``, nowhere else.

A sweep or tool with its own job group, status-tracker read or event
log re-implements the record ``query_run`` keeps, and its numbers drift
from everyone else's.  Under the engine package, ``tools/`` and
``bench.py`` only ``query_run.py`` sets job groups, reads Spark's status
tracker or store, or turns the event log on.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ALLOWED = {"otel_arrow_collector_spark/query_run.py"}
PROBE = re.compile(r"setJobGroup\(|statusTracker\(|statusStore\("
                   r"|spark\.eventLog\.enabled")


def test_only_query_run_measures_query_runs():
    paths = [REPO / "bench.py"] + [
        path for top in ("otel_arrow_collector_spark", "tools")
        for path in sorted((REPO / top).rglob("*.py"))]
    hits = [
        f"{path.relative_to(REPO)}:{no}: {line.strip()}"
        for path in paths
        if str(path.relative_to(REPO)) not in ALLOWED
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if PROBE.search(line)]
    assert not hits, "\n".join(hits)
