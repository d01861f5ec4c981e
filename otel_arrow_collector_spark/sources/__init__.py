"""Sources & sinks: parquet relational loader, OTLP/JSON codec, Arrow IPC.

Reference parity: receivers/exporters in
/root/reference/receiver/otlpreceiver and /root/reference/exporter
(otlp.go, json.go, pb.go) — re-expressed as Spark read/write paths.
"""

from .http_receiver import OtlpHttpReceiver
from .spool import read_spool
from .tables import TABLE_NAMES, load_table, load_tables, register_views

__all__ = ["TABLE_NAMES", "load_table", "load_tables", "register_views",
           "OtlpHttpReceiver", "read_spool"]
