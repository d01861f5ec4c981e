"""Summaries the benchmark reports: medians, the tail-percentile rule,
peak resident memory of the process tree, and execution totals from
Spark's event log."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading

#: candidate tail percentiles, highest first
TAIL_LADDER = (99.9, *map(float, range(99, 49, -1)))


def nearest_rank(sorted_vals: list[float], pct: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    k = max(1, math.ceil(pct / 100.0 * len(sorted_vals)))
    return sorted_vals[k - 1]


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) for the highest percentile of
    :data:`TAIL_LADDER` that has at least ten samples beyond it.  With
    fewer than 20 samples no percentile qualifies and the maximum is
    reported as percentile 100."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        raise ValueError("tail of no samples")
    for pct in TAIL_LADDER:
        if n - math.ceil(pct / 100.0 * n) >= 10:
            return nearest_rank(vals, pct), pct, n
    return vals[-1], 100.0, n


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


# ------------------------------------------------------------ host steal

def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from ``/proc/stat``.
    Steal is time a virtual CPU was ready to run while the hypervisor ran
    something else; it slows every figure the benchmark measures."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


# ---------------------------------------------------------------- memory

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # ppid is the 2nd field after the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> tuple[int, int]:
    """Resident set size of ``root`` and its descendants, split into
    (everything but Spark's Python workers, the Python workers).  The
    worker count follows Spark's task scheduling, not the program, so
    it is kept apart."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    sizes = [0, 0]
    todo = [(root, 0)]
    while todo:
        pid, side = todo.pop()
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark.daemon" in fh.read():
                    side = 1
            with open(f"/proc/{pid}/statm") as fh:
                sizes[side] += int(fh.read().split()[1]) * page
        except OSError:
            continue
        todo.extend((k, side) for k in kids.get(pid, ()))
    return sizes[0], sizes[1]


class PeakRss:
    """Background sampler of the process tree's resident memory: peak of
    the processes the benchmark and engine start (``peak``) and, apart,
    peak of Spark's Python workers (``workers_peak``)."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root, self.interval_s = root, interval_s
        self.peak = self.workers_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="perfbench-rss")

    def _sample(self) -> None:
        main, workers = tree_rss_bytes(self.root)
        self.peak = max(self.peak, main)
        self.workers_peak = max(self.workers_peak, workers)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return False


# ------------------------------------------------------------- event log

_ZERO = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_read_bytes": 0,
         "shuffle_write_bytes": 0, "spill_bytes": 0, "task_cpu_s": 0.0,
         "task_run_s": 0.0, "gc_s": 0.0}


def event_log_totals(log_dir: str) -> dict[str, dict]:
    """Execution totals per job group from the Spark event log files
    under ``log_dir`` (key ``""`` collects jobs outside any group)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    paths = sorted(os.path.join(dp, f) for dp, _, fs in os.walk(log_dir)
                   for f in fs if not f.startswith((".", "appstatus")))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    for s in ev.get("Stage IDs", []):
                        stage_group[s] = grp
                    _bucket(out, grp)["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    _bucket(out, stage_group.get(sid, ""))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    _add_task(_bucket(out, stage_group.get(ev["Stage ID"],
                                                           "")),
                              ev.get("Task Metrics") or {})
    return out


def _add_task(b: dict, m: dict) -> None:
    rd = m.get("Shuffle Read Metrics") or {}
    wr = m.get("Shuffle Write Metrics") or {}
    b["tasks"] += 1
    b["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                + rd.get("Local Bytes Read", 0))
    b["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
    b["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                         + m.get("Disk Bytes Spilled", 0))
    b["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    b["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
    b["gc_s"] += m.get("JVM GC Time", 0) / 1e3


def _bucket(out: dict, grp: str) -> dict:
    if grp not in out:
        out[grp] = dict(_ZERO)
    return out[grp]


def sum_totals(groups: dict[str, dict]) -> dict:
    tot = dict(_ZERO)
    for v in groups.values():
        for k in tot:
            tot[k] += v[k]
    return tot
