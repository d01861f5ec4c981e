"""plan_tree: each walker fact the plan pins rely on is reported on a
plan built to show it — and flips when the plan regresses."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from otel_arrow_collector_spark import plan_tree
from otel_arrow_collector_spark.sources import load_table
from tests.conftest import SF_SMALL


def _build_scan(join) -> str:
    """The table the build side of a hash join scans."""
    build = join.children[0 if join.build_side == "left" else 1]
    [scan] = build.scans()
    return scan.paths[0].rsplit("/", 1)[-1]


def test_forced_broadcast_of_the_fact_flips_the_build_side(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    orders = load_table(spark, SF_SMALL, "orders")
    on = li.l_orderkey == orders.o_orderkey
    [good] = plan_tree.read(li.join(F.broadcast(orders), on)).joins()
    [bad] = plan_tree.read(F.broadcast(li).join(orders, on)).joins()
    assert (good.build_side, _build_scan(good)) == ("right", "orders.parquet")
    assert (bad.build_side, _build_scan(bad)) == ("left", "lineitem.parquet")


def test_python_udf_filter_is_not_pushed(spark):
    ev = load_table(spark, SF_SMALL, "events")
    is_error = F.udf(lambda t: t == "error", "boolean")
    jvm = plan_tree.read(ev.filter(F.col("event_type") == "error"))
    udf = plan_tree.read(ev.filter(is_error("event_type")))
    assert "event_type = 'error'" in jvm.scans()[0].pushed_filters
    assert not jvm.python_nodes()
    assert [n.name for n in udf.python_nodes()] == ["BatchEvalPython"]
    assert not any("event_type" in f for f in udf.scans()[0].pushed_filters)


def test_repartition_one_puts_the_window_on_one_partition(spark):
    ev = load_table(spark, SF_SMALL, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    keyed = plan_tree.read(ev.withColumn("r", F.row_number().over(w)))
    single = plan_tree.read(
        ev.repartition(1).withColumn("r", F.row_number().over(w)))
    for p in (keyed, single):
        [win] = p.windows()
        assert win.keys == ("user_id",)
    assert [(e.partitioning, e.keys) for e in keyed.exchanges()] == [
        ("hash", ("user_id",))]
    [sort] = single.find("Window")[0].children
    assert sort.name == "Sort" and [
        c.partitioning for c in sort.children] == ["single"]


def test_cross_join_is_reported_as_a_join(spark):
    a = spark.range(10)
    b = spark.range(5).withColumnRenamed("id", "j")
    [cart] = plan_tree.read(
        a.crossJoin(b.hint("shuffle_replicate_nl"))).joins()
    assert (cart.name, cart.join_type) == ("CartesianProduct", "INNER")
    [bnlj] = plan_tree.read(a.crossJoin(b)).joins()
    assert (bnlj.name, bnlj.join_type, bnlj.build_side) == (
        "BroadcastNestedLoopJoin", "CROSS", "right")
    [keyed] = plan_tree.read(a.join(b, a.id == b.j)).joins()
    assert keyed.name == "BroadcastHashJoin" and keyed.keys == ("id", "j")


def test_walk_descends_into_cached_plans_and_subqueries(spark):
    ev = load_table(spark, SF_SMALL, "events")
    cached = ev.groupBy("event_type").count().cache()
    try:
        both = cached.alias("a").join(cached.alias("b"), "event_type")
        p = plan_tree.read(both)
        # the cached plan is one node, read once for both scan sites
        [a, b] = p.find("InMemoryTableScan")
        assert a.children[0] is b.children[0]
        assert p.count("FileSourceScan") == 1
        assert ("Partial", "count(1)") in {
            a for n in p.find("HashAggregate") for a in n.aggs}
    finally:
        cached.unpersist()
    sub = plan_tree.read(spark.sql(
        "SELECT id FROM range(100)"
        " WHERE id > (SELECT max(id) FROM range(10))"))
    [filt] = sub.find("Filter")
    assert filt.subqueries[0].find("HashAggregate")
    assert sub.count("Range") == 2


def test_final_plan_counts_a_reused_exchange_once(spark):
    agg = spark.range(1000).withColumn("k", F.col("id") % 7) \
        .groupBy("k").count()
    df = agg.unionAll(agg)
    assert len(plan_tree.read(df).exchanges()) == 2     # initial plan
    df.collect()
    final = plan_tree.read(df)
    assert [(e.partitioning, e.keys) for e in final.exchanges()] == [
        ("hash", ("k",))]
    [left, right] = final.find("Union")[0].children
    assert left.find("ShuffleExchange")[0] is right.find("ShuffleExchange")[0]

