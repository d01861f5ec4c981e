"""Engine benchmark: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q01_...": sec, ...}, "sf": 0.1}

Results are materialized with .collect() — every query returns a small
(aggregated / limited) result set by design, so collect measures execution,
not driver-side data shipping.

Timing discipline: each query runs twice and reports the FASTER run
("runs_per_query": 2, "timing": "min").  Rationale: (a) the comparison
target (BASELINE.md) is the reference's *sustained* throughput, so
steady-state execution — not one-off plan-compile/JIT cost — is the
apples-to-apples number; (b) the host shows multi-second noisy-neighbor
spikes that land on a random query in single-shot mode (observed: the same
query 23.0s in one sweep, 0.5s in the next).  Min-of-2 removes that
lottery while still executing every plan end-to-end both times.

Each run is one ``query_run`` record.  Beside the headline, the line
carries ``total_sec_cold`` (the sum of every query's first run,
substrate builds included) and ``jobs_warm`` / ``stages_warm`` (the
Spark jobs and stages of every query's second run).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from otel_arrow_collector_spark import query_run
    spark, queries, sf_dir = query_run.open_sweep("bench")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    records = {name: [query_run.run(spark, name, fn, sf_dir)
                      for _ in range(2)]
               for name, fn in sorted(queries.items())}
    timings = {name: round(min(r.wall_s for r in rs), 3)
               for name, rs in records.items()}
    total = round(sum(timings.values()), 3)

    # Codec throughput vs BASELINE.md's spans/s rows (docs/performance.md:
    # 36-43): single-thread OTLP/pb decode+encode of the golden span
    # shape; the Spark ingest path runs this inside mapInArrow across all
    # partitions, so the distributed rate is ~cores x this number.
    from otel_arrow_collector_spark.model import generate_traces
    from otel_arrow_collector_spark.sources.otlp_pb import (decode_request,
                                                            encode_request)
    rows = [r.asDict(recursive=True)
            for r in generate_traces(spark, 1000).collect()]
    body = encode_request(rows, "traces")

    def one_run() -> int:
        t0, n = time.perf_counter(), 0
        while time.perf_counter() - t0 < 0.5:
            decode_request(body, "traces")
            n += len(rows)
        return int(n / (time.perf_counter() - t0))

    # Three interleaved runs: this host shows 30k<->50k swings between
    # single shots, so report the median (reproducible headline) next to
    # the max (peak) — BENCH cross-round comparisons should use median.
    runs = sorted(one_run() for _ in range(3))

    # OTel-Arrow ingest throughput: the fork's headline path.  Encode the
    # golden spans once as an OTAP payload set; the timed loop is the
    # RECEIVER side — stateful incremental IPC decode (ArrowStreamState)
    # of a long-lived stream of 1000-span batches.
    import io as _io

    import pyarrow as _pa

    from otel_arrow_collector_spark.sources import otap
    from otel_arrow_collector_spark.sources.arrow_service import \
        ArrowStreamState
    payloads = otap.encode_spans(rows)
    main = next(t for _s, pt, t in payloads if pt == otap.SPANS)

    def arrow_run() -> int:
        sink = _io.BytesIO()
        w = _pa.ipc.new_stream(sink, main.schema)
        state = ArrowStreamState(max_stream_bytes=1 << 30)
        t0, n = time.perf_counter(), 0
        while time.perf_counter() - t0 < 0.5:
            w.write_table(main)
            frag = sink.getvalue()
            sink.seek(0)
            sink.truncate(0)
            state.consume("spans", frag)
            n += main.num_rows
        return int(n / (time.perf_counter() - t0))

    arrow_runs = sorted(arrow_run() for _ in range(3))

    # The driver records only a window of this line, so the headline
    # numbers (total + slowest-10 + codec throughput) appear BOTH first
    # and last — whichever side a truncation keeps, they survive.
    slowest10 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    headline = {
        "n_queries": len(timings),
        "total_sec": total,
        "slowest10": slowest10,
        "pb_decode_spans_per_sec_1thread": runs[-1],
        "pb_decode_spans_per_sec_1thread_median": runs[1],
        "arrow_ingest_spans_per_sec_1thread_median": arrow_runs[1],
    }
    print(json.dumps({
        "metric": "declared_queries_total_time",
        "value": total,
        "unit": "sec",
        "head": headline,
        "queries": timings,
        "sf": sf,
        "runs_per_query": 2,
        "timing": "min",
        "total_sec_cold": round(sum(rs[0].wall_s
                                    for rs in records.values()), 3),
        "jobs_warm": sum(rs[1].jobs for rs in records.values()),
        "stages_warm": sum(rs[1].stages for rs in records.values()),
        **headline,
    }))


if __name__ == "__main__":
    main()
