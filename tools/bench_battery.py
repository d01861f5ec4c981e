"""Round-closing bench battery: N independent bench.py invocations
(fresh JVM each), recording every run plus the per-query MIN across
runs — the host shows ±20-30% noise waves, so min-across-invocations is
the comparable steady-state figure (bench.py's own min-of-2 only spans
one invocation).

    python tools/bench_battery.py <out.json> <n_runs> [cpus]

``cpus`` defaults to $SPARK_GRAFT_CPUS, else this host's CPU count; the
corpus is bench.py's $SPARK_GRAFT_SF_DIR (default sf0.1).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    out_path, n_runs = sys.argv[1], int(sys.argv[2])
    cpus = sys.argv[3] if len(sys.argv) > 3 else os.environ.get(
        "SPARK_GRAFT_CPUS", str(os.cpu_count()))
    runs = []
    for i in range(n_runs):
        env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
        p = subprocess.run([sys.executable, os.path.join(REPO, "bench.py")],
                           env=env, capture_output=True, text=True)
        line = p.stdout.strip().splitlines()[-1]
        rec = json.loads(line)
        runs.append(rec)
        print(f"run {i + 1}: total={rec['value']}")
    mins = {}
    for r in runs:
        for k, v in r["queries"].items():
            mins[k] = min(mins.get(k, float("inf")), v)
    agg = {
        "cpus": cpus,
        "n_invocations": n_runs,
        "totals_per_invocation": [r["value"] for r in runs],
        "total_min_per_query": round(sum(mins.values()), 3),
        "queries_min": {k: round(v, 3) for k, v in sorted(mins.items())},
        "runs": runs,
    }
    with open(out_path, "w") as f:
        json.dump(agg, f, indent=1)
    print(json.dumps({"out": out_path,
                      "total_min_per_query": agg["total_min_per_query"],
                      "totals": agg["totals_per_invocation"]}))


if __name__ == "__main__":
    main()
