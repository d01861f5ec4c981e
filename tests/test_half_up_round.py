"""Pin the `_half_up` rewrite: floor(v + 0.5) must equal
F.round(v).cast("long") ROW BY ROW for every expression the operators
feed it (relational._half_up's equivalence contract).  A future corpus
change that introduces exact negative .5 ties (the only divergence
class) fails here loudly instead of silently flipping cents."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_BENCH, SF_GATE, SF_SMALL


def _mismatches(df, exprs: dict) -> dict:
    aggs = [F.sum(F.when(F.round(e) != F.floor(e + F.lit(0.5)), 1)
                  .otherwise(0)).alias(k) for k, e in exprs.items()]
    return df.agg(*aggs).collect()[0].asDict()


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_GATE, SF_BENCH])
def test_half_up_equals_round_everywhere(spark, sf_dir):
    from otel_arrow_collector_spark.sources.tables import load_table
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice")
    disc, tax, qty = F.col("l_discount"), F.col("l_tax"), F.col("l_quantity")
    bad = _mismatches(li, {
        "price_c": price * 100,
        "disc_c": price * (F.lit(1) - disc) * 100,
        "charge_c": price * (F.lit(1) - disc) * (F.lit(1) + tax) * 100,
        "val_c": qty * price * 100,
        "qty_c": qty * 100,
        "disc_pct": disc * 100,
        "disc_bp": disc * 10000,
        "rev_c": price * disc * 100,
    })
    assert not any(bad.values()), bad
    o = load_table(spark, sf_dir, "orders")
    bad = _mismatches(o, {"otp_c": F.col("o_totalprice") * 100})
    assert not any(bad.values()), bad
    for tbl, col in (("customer", "c_acctbal"), ("supplier", "s_acctbal"),
                     ("part", "p_retailprice")):
        t = load_table(spark, sf_dir, tbl)
        bad = _mismatches(t, {f"{col}_c": F.col(col) * 100})
        assert not any(bad.values()), (tbl, bad)
    ev = load_table(spark, sf_dir, "events")
    bad = _mismatches(ev, {"v_c": F.col("value") * 100,
                           "v_micro": F.col("value") * 1000000})
    assert not any(bad.values()), bad


def test_negative_money_has_no_half_ties(spark):
    """The only theoretical divergence (negative exact .5) cannot occur:
    scaled money lands on integers.  Assert the scaled acctbal fraction
    is never exactly 0.5 in magnitude."""
    from otel_arrow_collector_spark.sources.tables import load_table
    c = load_table(spark, SF_GATE, "customer")
    v = F.col("c_acctbal") * 100
    frac = v - F.floor(v)
    n = c.filter(frac == F.lit(0.5)).count()
    assert n == 0
