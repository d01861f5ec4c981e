"""Streaming weighted sample — the stateful twin of
``operators/sampling.sample_weighted``.

Per-stratum state is the k smallest distinct (priority, doc_id) pairs
seen so far (priority = md5_28bit // weight, the same integer
A-ES-style key as the batch operator): a distinct merge on the
keyed-merge operator (``keyed_merge``) cut to ``keep=k``.  Keeping the
k-minimum of a pure function of each row is order-independent, so
after any number of micro-batches the state equals the batch window
top-k over the same rows — the batch-equivalence test pins exact
equality — and a re-delivered row is a set-semantics no-op.  State is
k pairs per stratum, constant no matter how much data flows through:
the streaming form of weighted sampling WITHOUT replacement.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.sampling import WEIGHTED_K, _hexint_sql
from .keyed_merge import keyed_merge_stream

OUT_SCHEMA = StructType([
    StructField("lang", StringType()),
    StructField("doc_id", LongType()),
    StructField("priority", LongType()),
])


def py_priority(doc_id: int, n_chars: int) -> int:
    """Python twin of the operator's md5-priority expression."""
    h = hashlib.md5(f"wgt:{doc_id}".encode()).hexdigest()
    return int(h[:7], 16) // max(n_chars, 1)


def weighted_sample_stream(docs: DataFrame,
                           k: int = WEIGHTED_K) -> DataFrame:
    """Streaming per-stratum weighted top-k: each batch folds its rows
    into the k-minimum state and emits the current sample snapshot."""
    hv = _hexint_sql("md5('wgt:' || CAST(doc_id AS STRING))", 7,
                     "substring")
    keyed = docs.select(
        "lang", "doc_id",
        F.expr(f"CAST({hv} DIV greatest(n_chars, 1) AS BIGINT)")
        .alias("priority"))

    def emit(key, best: pd.DataFrame) -> pd.DataFrame:
        return best.assign(lang=key[0])[["lang", "doc_id", "priority"]]

    return keyed_merge_stream(keyed, ["lang"], ["priority", "doc_id"],
                              None, emit, OUT_SCHEMA, keep=k)
