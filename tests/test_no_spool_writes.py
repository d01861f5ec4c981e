"""Spooled files are written, named, counted and read only in
``sources/spool.py``.

The receivers and the storage extension each used to carry their own
temp + fsync + rename code, and the copies drifted: each receiver
numbered its files from zero, so a restarted receiver, or a second one
on the same spool, replaced files it had already acked.  A durable write
anywhere else would be a new copy.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ALLOWED = {"otel_arrow_collector_spark/sources/spool.py"}
DURABLE_WRITE = re.compile(r"os\.fsync\(|os\.rename\(")


def test_no_fsync_or_rename_outside_spool():
    top = REPO / "otel_arrow_collector_spark"
    hits = [
        f"{path.relative_to(REPO)}:{no}: {line.strip()}"
        for path in sorted(top.rglob("*.py"))
        if str(path.relative_to(REPO)) not in ALLOWED
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if DURABLE_WRITE.search(line)]
    assert not hits, "\n".join(hits)
