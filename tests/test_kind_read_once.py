"""A component's ``kind`` is read from its config in one place.

Each component class declares its kinds once, in its kind table in
``plans/pipeline.py``, and ``PipelineGraph.__init__`` looks a
component's kind up there with its class's default.  The kinds used to
be read in eight places (the ``validate`` walk and each builder's
dispatch), each with its own copy of the default and of the list of
kinds, and the copies drifted: ``dry_run`` and ``start`` skipped checks
that only ``validate`` ran.  A second read would be a new copy.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
KIND_READ = re.compile(r"""\.get\(\s*["']kind["']|\[\s*["']kind["']\s*\]""")


def test_kind_is_read_once_under_plans():
    top = REPO / "otel_arrow_collector_spark" / "plans"
    hits = [
        f"{path.relative_to(REPO)}:{no}: {line.strip()}"
        for path in sorted(top.rglob("*.py"))
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if KIND_READ.search(line)]
    assert len(hits) == 1, "\n".join(hits)
