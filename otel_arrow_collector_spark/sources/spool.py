"""The spool: the on-disk hand-off between the live OTLP front doors
and Spark.  This module is its only owner; both receivers, the pipeline
compiler's ``*_spool`` receivers, ``read_otlp_pb``'s client-info columns
and the storage extension go through it.

Layout under one spool directory::

    {signal}_json/req-….json        one OTLP/JSON request doc per line
    {signal}_pb/req-….pb            one OTLP/pb Export request per file
    {signal}_pb/client_addr=<a>/client_principal=<p>/req-….pb
                                    the same, recorded per client
                                    (client.Info, client/client.go:86-151)
    arrow/{ptype:03d}/batch-….parquet
                                    one OTel-Arrow record batch per file,
                                    by payload type (main and aux tables)

Files are written once and never change after they become visible: a
write goes to a hidden temp file in the target directory, is flushed and
fsync'd, and is then renamed into place, so a reader (Spark skips names
starting with ``.``) sees a whole file or none.  A request is acked only
afterwards — the ack-after-persist rule of the reference's persistent
queue (persistent_storage.go:278-345).  Each :class:`Writer` names its
files ``{prefix}-{seq:08d}-{tag}`` with a random per-writer tag, so
receivers that restart on, or share, one spool never replace each
other's unconsumed files.  Structured Streaming's file source keys
progress by path, so a reused name would also be skipped there.
"""

from __future__ import annotations

import itertools
import os
import re
import secrets
from urllib.parse import quote, unquote

from ..session import local_frame
from .arrow_service import PAYLOAD_SIGNAL

SIGNALS = ("traces", "logs", "metrics")

#: signal -> its main OTel-Arrow payload type, whose directory holds the
#: signal's own table
ARROW_MAIN = {signal: ptype for ptype, signal in PAYLOAD_SIGNAL.items()}

_CLIENT = re.compile(r"client_addr=([^/]+)/client_principal=([^/]+)/")


def signal_dir(spool_dir: str, signal: str, wire: str) -> str:
    return os.path.join(spool_dir, f"{signal}_{wire}")


def arrow_dir(spool_dir: str, ptype: int) -> str:
    return os.path.join(spool_dir, "arrow", f"{ptype:03d}")


def client_of(path: str | None) -> tuple[str | None, str | None]:
    """(client_addr, client_principal) of a spooled file's path; NULLs
    for a file spooled without the per-client directories."""
    m = _CLIENT.search(path or "")
    return (unquote(m.group(1)), unquote(m.group(2))) if m else (None, None)


def write_durable(path: str, data) -> None:
    """Make ``path`` hold ``data`` (bytes or any buffer), all or nothing:
    temp file in the same directory, flush, fsync, atomic rename.  The
    temp file is removed if any step fails."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".tmp-{name}")
    try:
        with open(tmp, "wb") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, path)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def count_files(d: str) -> int:
    """Spooled files under ``d``: per-client directories are descended,
    not counted, and hidden temp files are writes still in flight.  A
    flat directory costs one scan."""
    try:
        with os.scandir(d) as it:
            return sum(count_files(e.path) if e.is_dir() else 1
                       for e in it if not e.name.startswith("."))
    except FileNotFoundError:
        return 0


class Writer:
    """One receiver's write side of the spool, for the wire formats it
    accepts (``("json", "pb")`` over HTTP, ``("pb",)`` over gRPC)."""

    def __init__(self, spool_dir: str, wires: tuple[str, ...]):
        self.spool_dir, self.wires = spool_dir, wires
        self._tag = secrets.token_hex(6)
        # next() on a count is atomic under the GIL, as for threading's
        # own thread-name counter
        self._seq = itertools.count()
        for s in SIGNALS:
            for w in wires:
                os.makedirs(signal_dir(spool_dir, s, w), exist_ok=True)

    def _name(self, prefix: str, ext: str) -> str:
        return f"{prefix}-{next(self._seq):08d}-{self._tag}.{ext}"

    def pending(self, signal: str) -> int:
        """Occupancy that backpressure reads: files not yet consumed."""
        return sum(count_files(signal_dir(self.spool_dir, signal, w))
                   for w in self.wires)

    def arrow_pending(self, ptype: int) -> int:
        return count_files(arrow_dir(self.spool_dir, ptype))

    def write_request(self, payload: bytes, signal: str, wire: str,
                      client: tuple[str, str] | None = None) -> None:
        """Persist one decoded request.  ``client`` (addr, principal)
        nests a pb file per client; the JSON spool stays flat (its
        line-oriented streaming reader has no per-file metadata)."""
        d = signal_dir(self.spool_dir, signal, wire)
        if wire == "json":
            payload += b"\n"
        elif client is not None:
            addr, principal = client
            d = os.path.join(d, f"client_addr={quote(addr, safe='')}",
                             f"client_principal={quote(principal, safe='')}")
            os.makedirs(d, exist_ok=True)
        write_durable(os.path.join(d, self._name("req", wire)), payload)

    def write_arrow(self, batch, ptype: int) -> None:
        """Persist one decoded Arrow record batch as parquet under its
        payload type's directory.  Aux payload types (attrs, events,
        links) spool alongside the main tables so Spark can reassemble
        the OTAP set (sources/otap.py)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        d = arrow_dir(self.spool_dir, ptype)
        os.makedirs(d, exist_ok=True)
        sink = pa.BufferOutputStream()
        pq.write_table(pa.Table.from_batches([batch]), sink)
        write_durable(os.path.join(d, self._name("batch", "parquet")),
                      sink.getvalue())


# -- Spark ingest -------------------------------------------------------------

def read_spool(spark, spool_dir: str, signal: str,
               client_info: bool = False):
    """Ingest one signal's OTLP spool (both wire formats) into the row
    model — also the pipeline compiler's ``kind: http_spool`` /
    ``grpc_spool`` receiver.  Works on any receiver fleet's shared spool,
    server running or not.  ``client_info=True`` adds ``client_addr``/
    ``client_principal`` columns (NULL for the JSON spool, which records
    no per-file peer metadata)."""
    from .otlp_json import read_otlp_json
    from .otlp_pb import _SCHEMAS, read_otlp_pb
    json_dir = signal_dir(spool_dir, signal, "json")
    pb_dir = signal_dir(spool_dir, signal, "pb")
    parts = []
    if count_files(json_dir):
        j = read_otlp_json(spark, json_dir, signal)
        parts.append(_null_client(j) if client_info else j)
    if count_files(pb_dir):
        parts.append(read_otlp_pb(spark, pb_dir, signal,
                                  client_info=client_info))
    if not parts:
        empty = local_frame(spark, [], _SCHEMAS[signal])
        return _null_client(empty) if client_info else empty
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _null_client(df):
    """NULL ``client_addr``/``client_principal`` columns, for rows read
    without per-file peer metadata."""
    from pyspark.sql import functions as F
    return (df.withColumn("client_addr", F.lit(None).cast("string"))
              .withColumn("client_principal", F.lit(None).cast("string")))


def stream_spool(spark, spool_dir: str, signal: str):
    """CONTINUOUS ingest of the JSON spool as a Structured Streaming file
    source: new-file discovery is Spark's native streaming contract, so a
    receiver fleet appending to shared storage feeds one streaming query
    with checkpointed exactly-once progress (the ack-after-persist rule on
    the write side + the WAL on the read side compose into the reference's
    persistent-queue semantics end to end).

    JSON wire only: the line-oriented text source streams naturally; pb
    spools are batch-ingested via :func:`read_spool` (binaryFile has no
    streaming reader in this engine's scope)."""
    from .otlp_json import _READERS
    if signal not in _READERS:
        raise NotImplementedError(
            f"streaming spool ingest for signal {signal!r} "
            f"(supported: {sorted(_READERS)})")
    raw = (spark.readStream.text(signal_dir(spool_dir, signal, "json"))
                .withColumnRenamed("value", "json"))
    return _READERS[signal](raw)


def read_arrow_spool(spark, spool_dir: str, signal: str):
    """Spark view over a main signal's Arrow-stream spool — also the
    pipeline compiler's ``kind: arrow_spool`` receiver.  Before the
    first batch is spooled it is empty, in the signal's row-model
    schema, so a relay's union with the OTLP spool still resolves."""
    d = arrow_dir(spool_dir, ARROW_MAIN[signal])
    if not count_files(d):
        from .otlp_pb import _SCHEMAS
        return local_frame(spark, [], _SCHEMAS[signal])
    return spark.read.parquet(d)


def stream_arrow_spool(spark, spool_dir: str, signal: str, schema=None):
    """CONTINUOUS ingest of a main signal's Arrow-stream spool as a
    Structured Streaming parquet source — the same new-file-discovery
    contract as :func:`stream_spool`: the bidi stream's ack-after-spool
    rule composes with the streaming WAL into end-to-end at-least-once
    with checkpointed progress.  The parquet streaming source needs a
    schema up front; by default it is taken from the already-spooled
    files (pass ``schema`` to start a query before the first batch
    arrives)."""
    d = arrow_dir(spool_dir, ARROW_MAIN[signal])
    if schema is None:
        schema = spark.read.parquet(d).schema
    return spark.readStream.schema(schema).parquet(d)


def read_arrow_payloads(spark, spool_dir: str) -> dict[int, object]:
    """All spooled Arrow payload tables keyed by payload type — the
    input to ``otap.assemble_spans_df``."""
    base = os.path.join(spool_dir, "arrow")
    if not os.path.isdir(base):
        return {}
    return {int(name): spark.read.parquet(os.path.join(base, name))
            for name in sorted(os.listdir(base))}
