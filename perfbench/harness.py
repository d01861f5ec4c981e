"""Shared run context: process age, the per-run work directory inside the
checkout, the SparkSession every workload starts the same way, and the
result record printed as the benchmark's last line."""

from __future__ import annotations

import json
import os
import shutil
import sys
from dataclasses import dataclass, field

from .trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.01")
WORK_BASE = os.path.join(ROOT, ".perfbench_work")
#: local[N] cores, capped so the benchmark stays small on shared hosts
CORES = max(1, min(4, os.cpu_count() or 1))


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


@dataclass
class Result:
    """What a workload measured: end-to-end samples, per-layer values and
    the operation tally.  ``report`` lines are printed before the JSON."""
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    report: list[tuple[str, float, str, str]] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)

    def note(self, name: str, value: float, unit: str, detail: str = ""):
        """A report line: named metric with unit and sample detail."""
        self.report.append((name, value, unit, detail))

    def finish(self, setup_s: float, op_p50_ms: float, op_tail_ms: float,
               pass_s: float) -> None:
        """The end-to-end record every workload prints (peak memory is
        added by the entry point, which samples it)."""
        self.e2e.update({"setup_s": (setup_s, "s"),
                         "pass_s": (pass_s, "s"),
                         "op_p50_ms": (op_p50_ms, "ms"),
                         "op_tail_ms": (op_tail_ms, "ms")})
        self.note("setup_s", setup_s, "s", "process start -> warmed up")


class Context:
    def __init__(self, workload: str, seed: int, traced: bool):
        self.workload, self.seed, self.traced = workload, seed, traced
        self.work = os.path.join(WORK_BASE, f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.event_dir = os.path.join(self.work, "eventlog")
        self.tracer = Tracer(f"{workload}-seed{seed}") if traced else None
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        """The engine's own session factory, with every scratch path kept
        inside the work directory; the event log is on in traced runs."""
        tmp = self.path("tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
        from otel_arrow_collector_spark.session import get_spark
        conf = {
            "spark.driver.extraJavaOptions":
                f"-Xlog:disable -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            os.makedirs(self.event_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.event_dir,
                         "spark.eventLog.compress": "false"})
        self.spark = get_spark(f"perfbench-{self.workload}",
                               master=f"local[{CORES}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def set_group(self, group: str, desc: str = "") -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(group, desc)

    def stop_spark(self) -> None:
        """Stop the session, then the JVM it launched, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()      # the JVM exits on EOF
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    def cleanup(self) -> None:
        if self.tracer is not None:
            out = os.path.join(WORK_BASE, "traces")
            os.makedirs(out, exist_ok=True)
            self.tracer.write(os.path.join(
                out, f"{self.workload}-seed{self.seed}.jsonl"))
        shutil.rmtree(self.work, ignore_errors=True)


def emit(res: Result, traced: bool) -> None:
    """Report lines, then the one-line JSON record (always last)."""
    for name, value, unit, detail in res.report:
        print(f"  {name:<34} {value:>14.6g} {unit:<8} {detail}")
    for p in res.problems:
        print(f"  FAILED: {p}")
    metrics = res.layers if traced else res.e2e
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
