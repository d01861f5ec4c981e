"""Bucketed co-located joins: the equi-join on the bucket key must plan
without a shuffle Exchange on the bucketed sides."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from otel_arrow_collector_spark import plan_tree
from otel_arrow_collector_spark.sources import load_table
from otel_arrow_collector_spark.sources.bucketing import (read_bucketed,
                                                          write_bucketed)
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def bucketed_lineitem(spark):
    d = tempfile.mkdtemp(prefix="bucketed_li_")
    li = load_table(spark, SF_SMALL, "lineitem") \
        .select("l_orderkey", "l_linenumber", "l_quantity")
    write_bucketed(li, d, "test_lineitem_bucketed", ["l_orderkey"], 8)
    yield read_bucketed(spark, "test_lineitem_bucketed")
    spark.sql("DROP TABLE IF EXISTS test_lineitem_bucketed")
    shutil.rmtree(d, ignore_errors=True)


def test_bucketed_self_join_is_shuffle_free(spark, bucketed_lineitem):
    """With broadcast disabled (the 100 TB case: both sides too big), the
    bucketed self-join AND the follow-up same-key aggregate plan with zero
    shuffle exchanges — bucket co-location carries through the chain."""
    lb = bucketed_lineitem
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (lb.alias("a").join(lb.alias("b"), "l_orderkey")
               .groupBy("l_orderkey").count())
        assert not plan_tree.read(j).exchanges()
        assert j.count() > 0   # and it actually runs
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")


def test_unbucketed_same_join_shuffles(spark):
    li = load_table(spark, SF_SMALL, "lineitem") \
        .select("l_orderkey", "l_linenumber", "l_quantity")
    j = (li.alias("a").join(li.alias("b"), "l_orderkey", "inner")
           .select("l_orderkey"))
    # force a non-broadcast plan the way the 100 TB case would resolve
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert plan_tree.read(j).exchanges()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")


def test_round_robin_repartition_is_a_shuffle(spark):
    """``repartition(n)`` plans a round-robin exchange, which moves every
    row like a hash exchange does (a text match on hash/range/single
    partitioning used to miss it)."""
    assert not plan_tree.read(spark.range(1000)).exchanges()
    [e] = plan_tree.read(spark.range(1000).repartition(4)).exchanges()
    assert e.partitioning == "roundrobin"


def test_bucketed_join_matches_unbucketed_results(spark, bucketed_lineitem):
    li = load_table(spark, SF_SMALL, "lineitem") \
        .select("l_orderkey", "l_linenumber", "l_quantity")
    want = (li.alias("a").join(li.alias("b"), "l_orderkey").count())
    got = (bucketed_lineitem.alias("a")
           .join(bucketed_lineitem.alias("b"), "l_orderkey").count())
    assert got == want
