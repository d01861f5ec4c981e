"""client.Info surface (reference client/client.go:86-151): both live
receivers can record the peer address + auth principal per request, and
ingest exposes them as first-class metadata columns — which then feed
the metadata-keyed sharded batcher exactly like the reference's
batch-processor metadata_keys consume client metadata.
"""

import http.client
import os

import pytest

from pyspark.sql import functions as F

from otel_arrow_collector_spark.exporters.grpc_exporter import grpc_call
from otel_arrow_collector_spark.model import generate_traces
from otel_arrow_collector_spark.sources.grpc_receiver import OtlpGrpcReceiver
from otel_arrow_collector_spark.sources.http_receiver import OtlpHttpReceiver
from otel_arrow_collector_spark.sources.otlp_pb import encode_request

TRACES_PATH = "/opentelemetry.proto.collector.trace.v1.TraceService/Export"


def _body(spark, n=4):
    rows = [r.asDict(recursive=True)
            for r in generate_traces(spark, n).collect()]
    return encode_request(rows, "traces")


def test_grpc_client_info_columns(spark, tmp_path):
    r = OtlpGrpcReceiver(str(tmp_path / "spool"), token="s3cr3t",
                         record_client_info=True)
    host, port = r.start()
    try:
        body = _body(spark)
        # two separate connections -> two distinct peer addresses
        grpc_call(host, port, TRACES_PATH, body, token="s3cr3t")
        grpc_call(host, port, TRACES_PATH, body, token="s3cr3t")
        df = r.read_spool(spark, "traces", client_info=True)
        rows = df.select("client_addr", "client_principal").collect()
        assert len(rows) == 8
        addrs = {x.client_addr for x in rows}
        assert len(addrs) == 2
        assert all(a.startswith("127.0.0.1:") for a in addrs)
        assert {x.client_principal for x in rows} == {"bearer"}
        # default read path is unchanged (no client columns)
        assert "client_addr" not in r.read_spool(spark, "traces").columns
    finally:
        r.stop()


def test_grpc_client_info_off_by_default(spark, tmp_path):
    r = OtlpGrpcReceiver(str(tmp_path / "spool"))
    host, port = r.start()
    try:
        grpc_call(host, port, TRACES_PATH, _body(spark))
        # flat spool layout, and client_info read yields NULL markers
        d = os.path.join(str(tmp_path / "spool"), "traces_pb")
        assert any(f.startswith("req-") for f in os.listdir(d))
        df = r.read_spool(spark, "traces", client_info=True)
        assert df.where(F.col("client_addr").isNull()).count() == df.count()
    finally:
        r.stop()


def test_http_client_info_columns(spark, tmp_path):
    r = OtlpHttpReceiver(str(tmp_path / "spool"), record_client_info=True)
    host, port = r.start()
    try:
        body = _body(spark)
        for _ in range(2):
            conn = http.client.HTTPConnection(host, port, timeout=10)
            conn.request("POST", "/v1/traces", body,
                         {"Content-Type": "application/x-protobuf"})
            assert conn.getresponse().status == 200
            conn.close()
        df = r.read_spool(spark, "traces", client_info=True)
        rows = df.select("client_addr", "client_principal").collect()
        assert len(rows) == 8
        assert len({x.client_addr for x in rows}) == 2
        assert {x.client_principal for x in rows} == {"anonymous"}
    finally:
        r.stop()


@pytest.mark.slow
def test_pipeline_shards_on_client_addr(spark, tmp_path):
    """The done-criterion from VERDICT r5: client.addr flows from the
    live receiver through ingest into the metadata-keyed batcher — one
    shard per client, counts exact."""
    from otel_arrow_collector_spark.streaming.sharding import \
        MetadataShardedBatcher

    r = OtlpGrpcReceiver(str(tmp_path / "spool"), record_client_info=True)
    host, port = r.start()
    try:
        body = _body(spark)            # 4 spans per request
        for _ in range(4):             # 4 connections = 4 distinct peers
            grpc_call(host, port, TRACES_PATH, body)
        ingested = (r.read_spool(spark, "traces", client_info=True)
                    .select("client_addr", "name"))
        addr_counts = {x.client_addr: x["count"] for x in
                       ingested.groupBy("client_addr").count().collect()}
        assert sorted(addr_counts.values()) == [4, 4, 4, 4]

        src = str(tmp_path / "src")
        ingested.write.parquet(src)
        stream = (spark.readStream
                  .schema(spark.read.parquet(src).schema).parquet(src))
        batcher = MetadataShardedBatcher(
            ["client_addr"], send_batch_size=4, cardinality_limit=10,
            flush_timeout_ms=3_600_000)
        out = []
        q = batcher.run(stream, sink=lambda pdf: out.append(pdf),
                        checkpoint=str(tmp_path / "ck"))
        q.awaitTermination(120)
        import pandas as pd
        emitted = pd.concat(out)
        got = emitted.groupby("client_addr").batch_rows.sum().to_dict()
        assert {a: int(n) for a, n in got.items()} == addr_counts
        assert emitted.complete.all()
    finally:
        r.stop()
