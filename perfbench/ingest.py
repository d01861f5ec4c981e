"""otlp-ingest: an open loop of OTLP/gRPC Exports and OTel-Arrow stream
batches into a live receiver, then a relay pipeline over its spool.

A pass has three phases:

1. *Fixed mix.*  Unary Exports (``grpc_exporter.grpc_call``, one fresh
   connection each) of ``MIX_SPANS`` spans at ``MIX_RATE``/s, while one
   ``ArrowStreamClient`` sends Arrow batches at ``ARROW_RATE``/s.  The
   gated ack latencies come from this phase.
2. *Rate ladder.*  Unary Exports of ``LADDER_SPANS`` spans at each rate
   of ``LADDER`` in turn.  The requests are large enough that the
   receiver (one interpreter, so one core for decoding) saturates inside
   the ladder, well before the generator's cap of ``CONNS`` connections
   over the ~45 ms ack floor.
3. *Relay.*  ``PipelineGraph`` compiles ``grpc_spool`` + ``arrow_spool``
   receivers -> OTTL ``transform`` -> ``batch`` -> ``grpc`` exporter into
   a second receiver (the sink), and runs it.  The sink must then hold
   exactly the span ids the first receiver acknowledged.

The schedule never waits for the receiver: each request is timed from
when it was due (so waiting for a free connection counts in its
latency), and the generator's lateness (dispatch minus due time) is
recorded.  The receiver and the sink run in child processes
(``collector_child.py``), so the generator and Spark share no
interpreter with them.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from time import perf_counter as now

from . import gen, layers
from .harness import CORES, Context, Result, process_age_s
from .stats import median, nearest_rank, tail

#: fixed mix: unary Exports/s, seconds (measured pass, warm-up), spans
#: per Export; Arrow batches are sent during the mix only
MIX_RATE, MIX_S, WARMUP_MIX_S, MIX_SPANS = 20, 2.0, 0.5, 100
ARROW_RATE, SPANS_PER_BATCH = 20, 100
#: unary-Export rate ladder (requests/s), seconds per rung, spans per
#: Export
LADDER = (20, 35, 50)
RUNG_S = 0.4
LADDER_SPANS = 1000
#: generator concurrency cap: connections in flight
CONNS = CORES
#: a rung is sustained when every ack of it comes within this (a rung
#: has at most 20 Exports, too few for a tail percentile)
ACK_LIMIT_MS = 250.0
#: past this p99 dispatch lateness the generator, not the receiver, set
#: the pace: the rung is not sustained and a whole run is invalid
GEN_LATE_LIMIT_MS = 0.5 * ACK_LIMIT_MS

_EXPORT_PATH = "/opentelemetry.proto.collector.trace.v1.TraceService/Export"
_CHILD = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "collector_child.py")


class _Child:
    """A receiver process: start, read its port, stop, read counters."""

    def __init__(self, spool: str, traced: bool):
        os.makedirs(spool, exist_ok=True)
        self.spool = spool
        self.proc = subprocess.Popen(
            [sys.executable, _CHILD, spool, "1" if traced else "0"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.port = None

    def ready(self) -> int:
        if self.port is None:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError("receiver process exited before listening")
            self.port = json.loads(line)["port"]
        return self.port

    def snapshot(self) -> dict:
        """The receiver's counters and timers so far."""
        self.proc.stdin.write("snap\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())

    def stop(self) -> dict:
        try:
            self.proc.stdin.write("stop\n")
            self.proc.stdin.flush()
            line = self.proc.stdout.readline()
            self.proc.wait(timeout=30)
            return json.loads(line) if line else {}
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait(timeout=30)


def _schedule(mix_s: float, ladder: bool) -> list[tuple[float, int]]:
    """(due offset s, phase) of every unary Export of a pass: phase 0 is
    the fixed mix, phase i the ladder's i-th rung."""
    out = [(k / MIX_RATE, 0) for k in range(int(MIX_RATE * mix_s))]
    t0 = mix_s
    for i, rate in enumerate(LADDER if ladder else (), start=1):
        out += [(t0 + k / rate, i) for k in range(int(rate * RUNG_S))]
        t0 += RUNG_S
    return out


def _payloads(rng: random.Random, sched, mix_s: float
              ) -> tuple[list, list]:
    """Seeded Export bodies for a schedule and the Arrow batches of its
    fixed mix, each with its span ids."""
    pb = [gen.pb_requests(rng, 1, LADDER_SPANS if phase else MIX_SPANS)[0]
          for _, phase in sched]
    arrow = gen.arrow_fragments(rng, int(ARROW_RATE * mix_s),
                                SPANS_PER_BATCH)
    return pb, arrow


def _open_loop(host: str, port: int, sched, pb, arrow) -> dict:
    """Run one pass's schedule; returns per-request records."""
    from otel_arrow_collector_spark.exporters.grpc_exporter import (
        ArrowStreamClient, grpc_call)
    from otel_arrow_collector_spark.sources.arrow_service import \
        PAYLOAD_SPANS
    pb_recs: list[dict] = []
    arrow_recs: list[dict] = []
    lock = threading.Lock()
    t0 = now() + 0.05

    def unary(i: int, due: float, phase: int, late: float):
        start = now()
        rec = {"phase": phase, "due": due, "late": late, "ok": False,
               "queued": start - due - late, "ids": pb[i][1]}
        try:
            grpc_call(host, port, _EXPORT_PATH, pb[i][0], timeout_s=30)
            rec["ok"] = True
        except Exception as e:        # refused or broken: counted failed
            rec["error"] = f"{type(e).__name__}: {e}"[:200]
        end = now()
        rec["ack"], rec["service"] = end - due, end - start
        with lock:
            pb_recs.append(rec)

    def arrow_loop():
        client = ArrowStreamClient(host, port, timeout_s=30)
        try:
            for i, (frag, ids) in enumerate(arrow):
                due = t0 + i / ARROW_RATE
                delay = due - now()
                if delay > 0:
                    time.sleep(delay)
                start = now()
                rec = {"ok": False, "ids": ids}
                try:
                    st = client.send_batch(i + 1, [("spans", PAYLOAD_SPANS,
                                                    frag)])
                    rec["ok"] = st["status_code"] == 0
                    if not rec["ok"]:
                        rec["error"] = st["status_message"]
                except Exception as e:
                    rec["error"] = f"{type(e).__name__}: {e}"[:200]
                end = now()
                rec["ack"], rec["service"] = end - due, end - start
                arrow_recs.append(rec)
        finally:
            client.close()

    arrow_thread = threading.Thread(target=arrow_loop, name="arrow-gen")
    with ThreadPoolExecutor(max_workers=CONNS) as pool:
        arrow_thread.start()
        futures = []
        for i, (off, phase) in enumerate(sched):
            due = t0 + off
            delay = due - now()
            if delay > 0:
                time.sleep(delay)
            futures.append(pool.submit(unary, i, due, phase, now() - due))
        for f in futures:
            f.result()
    arrow_thread.join()
    return {"pb": pb_recs, "arrow": arrow_recs}


def _rung_ok(recs: list[dict]) -> bool:
    """Sustained: every request acked within the limit, generator on
    time, and latency in the last third not above the first third's."""
    if not recs or not all(r["ok"] for r in recs):
        return False
    recs = sorted(recs, key=lambda r: r["due"])
    acks = [r["ack"] * 1e3 for r in recs]
    lates = sorted(r["late"] * 1e3 for r in recs)
    third = max(1, len(acks) // 3)
    return (max(acks) <= ACK_LIMIT_MS
            and nearest_rank(lates, 99) <= GEN_LATE_LIMIT_MS
            and median(acks[-third:]) <= 2 * median(acks[:third]) + 10)


def _relay(spark, spool: str, sink_port: int):
    from otel_arrow_collector_spark.plans.pipeline import PipelineGraph
    return PipelineGraph({
        "receivers": {
            "otlp/pb": {"kind": "grpc_spool", "path": spool,
                        "signal": "traces"},
            "otlp/arrow": {"kind": "arrow_spool", "path": spool,
                           "signal": "traces"}},
        "processors": {
            "transform/tag": {"kind": "transform", "statements": [
                'set(attributes["relay"], "perfbench")']},
            "batch": {"kind": "batch", "send_batch_size": 512}},
        "exporters": {
            "otlp/sink": {"kind": "grpc", "signal": "traces",
                          "endpoint": f"grpc://127.0.0.1:{sink_port}",
                          "max_rows_per_request": 4096}},
        "pipelines": {"traces": {
            "receivers": ["otlp/pb", "otlp/arrow"],
            "processors": ["transform/tag", "batch"],
            "exporters": ["otlp/sink"]}},
    })


def _sink_ids(sink_spool: str) -> Counter:
    from otel_arrow_collector_spark.sources.otlp_pb import decode_request
    ids: Counter = Counter()
    d = os.path.join(sink_spool, "traces_pb")
    for name in os.listdir(d):
        if name.endswith(".pb"):
            with open(os.path.join(d, name), "rb") as fh:
                ids.update(r["span_id"]
                           for r in decode_request(fh.read(), "traces"))
    return ids


def _spool_bytes(spool: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(spool) for f in fs)


def _empty_spool(spool: str) -> None:
    """Drop spooled files between passes; keep the receiver's dirs."""
    for dp, _, fs in os.walk(spool):
        for f in fs:
            os.unlink(os.path.join(dp, f))
    shutil.rmtree(os.path.join(spool, "arrow"), ignore_errors=True)


def run(ctx: Context, res: Result) -> None:
    spool, sink_spool = ctx.path("spool"), ctx.path("sink")
    rcv = _Child(spool, ctx.traced)
    sink = _Child(sink_spool, False)
    try:
        info = _run(ctx, res, rcv, sink)
    finally:
        stats = rcv.stop()
        sink.stop()
    # the measured pass only: the warm-up's figures are subtracted
    warm = info["warmup"]
    counters, timers = (
        {k: v - warm[part].get(k, 0) for k, v in stats[part].items()}
        for part in ("counters", "timers"))
    refused = sum(v for k, v in counters.items() if k.startswith("refused"))
    accepted = (counters.get("accepted_traces", 0)
                + counters.get("accepted_arrow_traces", 0))
    res.note("sources.accepted", accepted, "count", "requests + batches")
    res.note("sources.refused", refused, "count")
    if ctx.traced:
        wall = info["loop_wall"]
        info["layers"].update({
            "sources.accepted": accepted,
            "sources.refused": refused,
            "sources.pb_decode_share":
                timers.get("decode_request_s", 0.0) / wall,
            "sources.arrow_consume_share":
                timers.get("consume_s", 0.0) / wall,
        })
        n_pb = max(1, timers.get("decode_request_n", 0))
        n_ar = max(1, timers.get("consume_n", 0))
        dec_ms = timers.get("decode_request_s", 0.0) / n_pb * 1e3
        con_ms = timers.get("consume_s", 0.0) / n_ar * 1e3
        res.note("sources.pb_decode_ms", dec_ms, "ms",
                 f"mean of {n_pb}, mix and ladder")
        res.note("sources.arrow_consume_ms", con_ms, "ms", f"mean of {n_ar}")
        res.note("sources.ack_residual_ms", info["pb_service_ms"] - dec_ms,
                 "ms", "mean unary service time - decode")
        layers.fill(ctx, res, info["relay_s"], lambda g: g.startswith("m:"),
                    info["layers"])


def _run(ctx: Context, res: Result, rcv: _Child, sink: _Child) -> dict:
    spark = ctx.start_spark()
    rng = random.Random(ctx.seed)
    host, port = "127.0.0.1", rcv.ready()
    sink_port = sink.ready()
    tr = ctx.tracer

    def one_pass(tag: str, sched, pb, arrow) -> tuple[dict, float, dict]:
        t_loop = now()
        recs = _open_loop(host, port, sched, pb, arrow)
        loop_wall = now() - t_loop
        spooled = _spool_bytes(rcv.spool)
        ctx.set_group(f"{tag}:relay", "relay")
        t = now()
        if tr is None:
            plan = _relay(spark, rcv.spool, sink_port).compile(spark)
            out = plan.run()["traces/otlp/sink"]
        else:
            with tr.span("relay"):
                with tr.span(layers.BUILDER):
                    plan = _relay(spark, rcv.spool, sink_port).compile(spark)
                with tr.span(layers.PLAN):
                    plan.df("traces")._jdf.queryExecution().executedPlan()
                with tr.span(layers.RUN):
                    out = plan.run()["traces/otlp/sink"]
        relay_s = now() - t
        want = Counter(i for r in recs["pb"] + recs["arrow"] if r["ok"]
                       for i in r["ids"])
        got = _sink_ids(sink.spool)
        out.update(spool_bytes=spooled, loop_wall=loop_wall,
                   sink_ok=got == want, n_spans=sum(want.values()))
        _empty_spool(rcv.spool)
        _empty_spool(sink.spool)
        return recs, relay_s, out

    # warm-up pass: a shorter fixed mix and a relay, thrown away (but
    # checked)
    warm_sched = _schedule(WARMUP_MIX_S, False)
    _, _, out = one_pass("w", warm_sched,
                         *_payloads(rng, warm_sched, WARMUP_MIX_S))
    res.attempted += 1
    if not out["sink_ok"]:
        res.fail("warm-up relay: sink span ids differ from the acked ids")
    warmup = rcv.snapshot()
    setup_s = process_age_s()
    if tr is not None:
        tr.spans.clear()

    # the one measured pass: fixed mix, ladder, relay
    sched = _schedule(MIX_S, True)
    recs, relay_s, out = one_pass("m", sched, *_payloads(rng, sched, MIX_S))
    for kind in ("pb", "arrow"):
        for r in recs[kind]:
            res.attempted += 1
            if not r["ok"]:
                res.fail(f"{kind} request: {r.get('error')}")
    res.attempted += 1
    if not out["sink_ok"] or out["rows_sent"] != out["n_spans"]:
        res.fail("relay: sink span ids differ from the acked ids")

    # gated: the mean of the Exports' and the Arrow batches' own median
    # and tail over the fixed mix (two distributions, so a pooled median
    # would jump between them)
    mix = {"pb": [r["ack"] * 1e3 for r in recs["pb"]
                  if r["ok"] and r["phase"] == 0],
           "arrow": [r["ack"] * 1e3 for r in recs["arrow"] if r["ok"]]}
    p50s, tails = [], []
    for name, lat in mix.items():
        t_v, t_p, t_n = tail(lat)
        p50s.append(median(lat))
        tails.append(t_v)
        res.note(f"{name}_ack_p50_ms", p50s[-1], "ms", f"fixed mix, n={t_n}")
        res.note(f"{name}_ack_tail_ms", t_v, "ms",
                 f"fixed mix, p{t_p:g}, n={t_n}")
    res.finish(setup_s, sum(p50s) / 2, sum(tails) / 2, relay_s)
    sustained = 0
    for i, rate in enumerate(LADDER, start=1):
        rung = [r for r in recs["pb"] if r["phase"] == i]
        ok = _rung_ok(rung)
        if ok and sustained == i - 1:
            sustained = i
        acks = [r["ack"] * 1e3 for r in rung]
        t_v, t_p, t_n = tail(acks)
        res.note(f"rung.{rate}_req_s", median(acks), "ms",
                 f"ack p50; p{t_p:g} {t_v:.1f} ms, max connection wait "
                 f"{max(r['queued'] for r in rung) * 1e3:.1f} ms, n={t_n}, "
                 + ("sustained" if ok else "not sustained"))
    spans_s = LADDER[sustained - 1] * LADDER_SPANS if sustained else 0
    res.note("ingest_spans_per_s", spans_s, "spans/s",
             f"highest sustained rung of {LADDER} req/s x "
             f"{LADDER_SPANS} spans, ack limit {ACK_LIMIT_MS:g} ms")
    res.note("spool_to_result_s", relay_s, "s", "relay compile + run")
    late = sorted(r["late"] * 1e3 for r in recs["pb"])
    late_p99 = nearest_rank(late, 99)
    res.note("gen.late_p99_ms", late_p99, "ms", f"n={len(late)}")
    res.note("gen.late_max_ms", late[-1], "ms", f"n={len(late)}")
    # a late generator makes the latencies invalid, not the outputs wrong
    res.note("gen.run_valid", float(late_p99 <= GEN_LATE_LIMIT_MS), "bool",
             f"p99 lateness within {GEN_LATE_LIMIT_MS:g} ms")
    ctx.stop_spark()
    service = [r["service"] * 1e3 for r in recs["pb"]]
    return {"relay_s": relay_s, "loop_wall": out["loop_wall"],
            "warmup": warmup,
            "pb_service_ms": sum(service) / len(service),
            "layers": {
                "sources.spool_bytes": out["spool_bytes"],
                "exporters.requests": out["n_requests"],
                "exporters.attempts": out["n_attempts"],
                "exporters.rows_sent": out["rows_sent"],
                "gen.late_share": sum(1 for x in late if x > 10) / len(late),
            }}
