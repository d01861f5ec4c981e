"""Plans are read through ``plan_tree``, never as text.

A pin or a tool that matches ``explain`` text passes or fails for the
wrong reason when an operator is renamed or an attribute reworded, and
the formatted text prints every node twice.  Only the structural reader
and the human-facing profiling tool's plan dump may render a plan as
text.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ALLOWED = {"otel_arrow_collector_spark/plan_tree.py",
           "tools/query_profile.py", "tests/test_no_plan_text.py"}
PLAN_TEXT = re.compile(
    r"explainString\("
    r"|treeString"
    r"|(queryExecution|[pP]lan|analyzed|logical)\(\)[\w().]*\.toString\(\)")


def test_no_plan_text_reads():
    hits = [
        f"{path.relative_to(REPO)}:{no}: {line.strip()}"
        for top in ("otel_arrow_collector_spark", "tests", "tools")
        for path in sorted((REPO / top).rglob("*.py"))
        if str(path.relative_to(REPO)) not in ALLOWED
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if PLAN_TEXT.search(line)]
    assert not hits, "\n".join(hits)
