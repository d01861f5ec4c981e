"""Streaming KMV theta sketch — the stateful twin of the batch theta
queries in ``operators/sketches.py``.

KMV is mergeable by construction: the bottom-K set of a union is the
bottom-K of the merged bottom-K sets, so a per-set state holding the
sorted bottom-THETA_K distinct 48-bit hashes (a distinct merge on the
keyed-merge operator, ``keyed_merge``, cut to ``keep=THETA_K``) folds
micro-batches by set union + truncation, and after batch k the state is
EXACTLY the batch operator's ``kept`` relation over the concatenation
of batches 1..k (pinned by the batch-equivalence test).  Duplicate
arrivals of a user hash to the same value, so re-delivery cannot skew
the sketch — the idempotence HLL gets from register MAX, KMV gets from
set semantics.  State size is <= THETA_K hashes per set regardless of
stream length.

The hash is the SAME SQL expression the batch side uses
(``_theta_hash_sql``), evaluated in the stateless pre-state projection,
so stream and batch cannot diverge on hashing (the 48-bit md5
polynomial is itself pinned against hashlib in tests/test_hll_cms.py).

Reference analogue: arrival-order stateful processing (SURVEY §2.9);
the sketch itself is an engine-added scale operator.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.sketches import (THETA_K, THETA_RANGE, _theta_hash_sql)
from .keyed_merge import keyed_merge_stream

OUT_SCHEMA = StructType([
    StructField("event_type", StringType()),
    StructField("n_kept", LongType()),
    StructField("th", LongType()),
    StructField("est", LongType()),
])


def _emit(key, kept: pd.DataFrame) -> pd.DataFrame:
    n = len(kept)
    if n >= THETA_K:
        th = int(kept["hv"].iloc[THETA_K - 1])
        est = (THETA_K - 1) * THETA_RANGE // th
    else:
        th, est = THETA_RANGE, n
    return pd.DataFrame({"event_type": [key[0]],
                         "n_kept": [n], "th": [th], "est": [est]})


def theta_stream(events: DataFrame, key_col: str = "user_id",
                 set_col: str = "event_type") -> DataFrame:
    """Streaming theta sketch per ``set_col`` group: each batch emits
    an update-mode snapshot (set, n_kept, th, est) with the batch
    operator's exact threshold/estimate rules — th is the K-th
    smallest retained hash once saturated (else the full range), est
    is (K-1) * 2^48 // th saturated, else the exact kept count."""
    rows = events.select(
        F.col(set_col).alias("skey"),
        F.expr(_theta_hash_sql(key_col, "STRING")).cast("long")
         .alias("hv"))
    return keyed_merge_stream(rows, ["skey"], ["hv"], None, _emit,
                              OUT_SCHEMA, keep=THETA_K)
