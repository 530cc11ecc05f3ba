"""Bucketed layout: co-located joins skip the shuffle entirely."""

import pytest

from pyspark.sql import functions as F

from etl_ender_turing_spark.sources.readers import read_table
from etl_ender_turing_spark.sources.warehouse import (
    cobucketed_join,
    write_bucketed,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    li = read_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice")
    o = read_table(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus")
    write_bucketed(li, "li_b", ["l_orderkey"], 8, path=f"{wh}/li_b")
    write_bucketed(o.withColumnRenamed("o_orderkey", "l_orderkey"),
                   "o_b", ["l_orderkey"], 8, path=f"{wh}/o_b")
    yield spark
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")


def test_cobucketed_join_has_no_exchange(bucketed):
    spark = bucketed
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = cobucketed_join(spark, "li_b", "o_b", ["l_orderkey"])
        j.collect()
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in final
        assert "Exchange" not in final, final[:800]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_cobucketed_join_correct(bucketed):
    spark = bucketed
    j = cobucketed_join(spark, "li_b", "o_b", ["l_orderkey"])
    li = read_table(spark, SF, "lineitem")
    o = read_table(spark, SF, "orders")
    expect = li.join(o, li.l_orderkey == o.o_orderkey).count()
    assert j.count() == expect


def test_upsert_bucketed_keeps_layout_and_merges(spark, tmp_path):
    from etl_ender_turing_spark.sources.warehouse import upsert_bucketed

    wh = str(tmp_path)
    b1 = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d1")],
        "k long, v string, updated string")
    b2 = spark.createDataFrame(
        [(2, "B", "d2"), (4, "d", "d2")], "k long, v string, updated string")
    dim = spark.createDataFrame([(i, f"n{i}") for i in range(1, 5)],
                                "k long, name string")
    try:
        upsert_bucketed(spark, b1, "f_b", ["k"], 8, order_col="updated",
                        path=f"{wh}/f_b")
        upsert_bucketed(spark, b2, "f_b", ["k"], 8, order_col="updated",
                        path=f"{wh}/f_b")
        got = {(r.k, r.v) for r in spark.table("f_b").collect()}
        assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}

        # the merged table still joins shuffle-free against a co-bucketed one
        from etl_ender_turing_spark.sources.warehouse import (
            cobucketed_join, write_bucketed,
        )
        write_bucketed(dim, "d_b", ["k"], 8, path=f"{wh}/d_b")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = cobucketed_join(spark, "f_b", "d_b", ["k"])
            j.collect()
            final = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in final, final[:800]
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS f_b")
        spark.sql("DROP TABLE IF EXISTS d_b")


def test_upsert_bucketed_empty_batch_touches_nothing(spark, tmp_path):
    """An empty batch returns after the batch's one pass: no bucket file
    is rewritten, and a missing table is not created."""
    import os
    import time

    from etl_ender_turing_spark.sources.warehouse import upsert_bucketed

    path = str(tmp_path / "e_b")
    rows = spark.createDataFrame([(i, f"v{i}", "d1") for i in range(100)],
                                 "k long, v string, updated string")
    empty = rows.limit(0)

    def files():
        return {os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
                for d, _, fs in os.walk(path) for f in fs}

    try:
        upsert_bucketed(spark, empty, "e_missing", ["k"], 4,
                        order_col="updated", path=str(tmp_path / "e_missing"))
        assert not spark.catalog.tableExists("e_missing")
        assert not os.path.exists(tmp_path / "e_missing")

        upsert_bucketed(spark, rows, "e_b", ["k"], 4, order_col="updated",
                        path=path)
        before = files()
        assert before
        time.sleep(0.05)
        upsert_bucketed(spark, empty, "e_b", ["k"], 4, order_col="updated",
                        path=path)
        assert files() == before
        assert spark.table("e_b").count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS e_b")
        spark.sql("DROP TABLE IF EXISTS e_missing")


def test_surrogate_key_join_equals_guid_join(spark):
    from etl_ender_turing_spark.sources.warehouse import with_surrogate_key

    left = spark.createDataFrame(
        [(f"{i:032x}", i) for i in range(200)], "sid string, v long")
    right = spark.createDataFrame(
        [(f"{i:032x}", i * 10) for i in range(0, 200, 2)], "sid string, w long")
    ls, rs = with_surrogate_key(left, "sid"), with_surrogate_key(right, "sid")
    # surrogate drives the join, GUID equality verifies (collision-safe)
    j = ls.join(rs, (ls.sid_sk == rs.sid_sk) & (ls.sid == rs.sid)) \
          .select(ls.sid, "v", "w")
    expect = left.join(right, "sid").count()
    assert j.count() == expect == 100
    # surrogate is deterministic across frames
    both = ls.select("sid", "sid_sk").union(rs.select("sid", "sid_sk"))
    assert both.distinct().count() == both.select("sid").distinct().count()


def test_dynamic_partition_pruning_engages(spark, tmp_path):
    """At 100 TB the fact table is date-partitioned and dim-side filters
    must prune fact partitions AT RUNTIME (DPP) — the scan subquery shows
    a dynamicpruning expression instead of reading every partition."""
    from pyspark.sql import functions as F

    from etl_ender_turing_spark.sources.readers import read_table

    ev = read_table(spark, "/root/testdata/sf0.001", "events")
    fact_path = str(tmp_path / "events_by_day")
    (ev.withColumn("day", F.to_date("ts"))
     .write.mode("overwrite").partitionBy("day").parquet(fact_path))
    fact = spark.read.parquet(fact_path)
    # independent dim with a SELECTIVE filter on its side: the DPP
    # pattern (fact.partition_col = dim.key AND dim.filter)
    import datetime as dt
    all_days = [r["day"] for r in fact.select("day").distinct().collect()]
    dim = spark.createDataFrame(
        [(d, i % 2) for i, d in enumerate(sorted(all_days))],
        "day date, flag int")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled",
                   "true")
    j = (fact.join(dim.filter(F.col("flag") == 1), "day")
         .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")))
    assert j.count() > 0
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
