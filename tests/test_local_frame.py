"""``session.local_frame``: small driver-built relations as sized
``LocalRelation``s, built through Arrow.

The helper must give the optimizer a real size (so the join policy
broadcasts it without a hint), be read without any Spark job, and pass
every double bit for bit: the IVF centroid model and the PQ codebook
go through it, and their parity with the DuckDB oracle is exact.
"""

from __future__ import annotations

import math
import struct

from otel_arrow_collector_spark import plan_tree, query_run
from otel_arrow_collector_spark.session import local_frame

#: 1/3, negative zero, the smallest subnormal, NaN
DOUBLES = (1 / 3, -0.0, 5e-324, float("nan"))


def _bits(x: float) -> str:
    return struct.pack(">d", x).hex()


def test_plan_is_a_sized_local_relation(spark):
    df = local_frame(spark, [(i, float(i)) for i in range(8)],
                     "k long, v double")
    opt = df._jdf.queryExecution().optimizedPlan()
    assert opt.nodeName() == "LocalRelation"
    size = int(opt.stats().sizeInBytes())
    assert 0 < size < 1 << 20          # a LogicalRDD reports 2**63 - 1


def test_reading_runs_no_job(spark):
    df = local_frame(spark, [(1, "a"), (2, "b")], "k long, s string")
    with query_run.job_group(spark, "local_frame-read") as tag:
        rows = df.collect()
    assert [tuple(r) for r in rows] == [(1, "a"), (2, "b")]
    assert query_run.read_group(spark, tag).jobs == 0


def test_doubles_round_trip_bit_exactly(spark):
    df = local_frame(spark, [(x, list(DOUBLES)) for x in DOUBLES],
                     "v double, vs array<double>")
    rows = df.collect()
    assert [_bits(r.v) for r in rows] == [_bits(x) for x in DOUBLES]
    for r in rows:
        assert [_bits(x) for x in r.vs] == [_bits(x) for x in DOUBLES]
    assert math.isnan(rows[3].v)


def test_empty_rows_keep_the_schema(spark):
    df = local_frame(spark, [], "node long, lbl long")
    assert df.collect() == []
    assert df.columns == ["node", "lbl"]
    assert plan_tree.read(df).find("LocalTableScan")


def test_nulls_and_dict_rows(spark):
    """Nulls at every level; dict rows (the telemetry generators) may
    leave out fields, which read as null."""
    ddl = ("k long, vs array<double>, m map<string, long>, "
           "st struct<a: string, b: long>")
    tup = local_frame(spark, [(None, None, None, None),
                              (1, [None, 2.0], {"x": None}, (None, 3))], ddl)
    assert [tuple(r) for r in tup.collect()] == [
        (None, None, None, None), (1, [None, 2.0], {"x": None}, (None, 3))]
    dct = local_frame(spark, [{"k": 1, "st": {"a": "z"}}, {"vs": [1.5]}], ddl)
    got = [r.asDict(recursive=True) for r in dct.collect()]
    assert got == [
        {"k": 1, "vs": None, "m": None, "st": {"a": "z", "b": None}},
        {"k": None, "vs": [1.5], "m": None, "st": None}]
