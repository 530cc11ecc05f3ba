"""lineage_cut — the conf-switched lineage-cut barrier
(functions/barrier.py). Local mode must behave exactly like
localCheckpoint (plan truncated, same rows); storage mode must produce
identical rows through a fault-tolerant parquet round-trip; any other
mode must be rejected. Operators call the helper everywhere a
multi-consumer or iterative plan is cut, so these properties are what
keeps the local bench and a cluster deployment running the same code."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_ender_turing_spark.functions.barrier import (
    _DIR_CONF, _MODE_CONF, clear_shared_cuts, lineage_cut, shared_cut)


def _demo(spark):
    return (spark.range(100)
            .select(F.col("id"), (F.col("id") % 7).alias("k"))
            .groupBy("k").agg(F.count(F.lit(1)).alias("n")))


def test_local_mode_truncates_lineage(spark):
    df = _demo(spark)
    cut = lineage_cut(df)
    # localCheckpoint truncates the logical plan: the analyzed plan of
    # the cut frame no longer contains the aggregate
    assert "LogicalRDD" in cut._jdf.queryExecution().analyzed().toString()
    assert sorted(r["n"] for r in cut.collect()) == \
        sorted(r["n"] for r in df.collect())


def test_storage_mode_round_trips(spark, tmp_path):
    df = _demo(spark)
    spark.conf.set(_MODE_CONF, "storage")
    spark.conf.set(_DIR_CONF, str(tmp_path))
    try:
        cut = lineage_cut(df)
        # the barrier is a parquet write + read-back: the cut frame's
        # plan is a file scan rooted under the configured dir
        scan = cut._jdf.queryExecution().analyzed().toString()
        assert "Relation" in scan and "parquet" in scan
        files = cut.inputFiles()
        assert files and all(str(tmp_path) in f for f in files)
        assert sorted((r["k"], r["n"]) for r in cut.collect()) == \
            sorted((r["k"], r["n"]) for r in df.collect())
    finally:
        spark.conf.unset(_MODE_CONF)
        spark.conf.unset(_DIR_CONF)


def test_unknown_mode_is_rejected(spark):
    """Only ``local`` and ``storage`` exist: a retired mode or a typo
    must fail loudly, never fall back to the non-fault-tolerant local
    barrier on a cluster."""
    df = _demo(spark)
    for bad in ("none", "storge"):
        spark.conf.set(_MODE_CONF, bad)
        try:
            with pytest.raises(ValueError) as exc:
                lineage_cut(df)
        finally:
            spark.conf.unset(_MODE_CONF)
        msg = str(exc.value)
        assert _MODE_CONF in msg and repr(bad) in msg
        assert "'local'" in msg and "'storage'" in msg


def test_shared_cut_is_keyed_by_plan(spark, tmp_path):
    """Separately built frames with the same plan share ONE cut; a
    different plan gets its own; clearing drops them all."""
    spark.range(50).write.parquet(str(tmp_path / "t"))

    def build(m):
        return (spark.read.parquet(str(tmp_path / "t"))
                .select((F.col("id") % m).alias("k")).distinct())
    clear_shared_cuts()
    a = shared_cut(build(5))
    assert shared_cut(build(5)) is a
    assert shared_cut(build(6)) is not a
    assert sorted(r.k for r in a.collect()) == list(range(5))
    clear_shared_cuts()
    assert shared_cut(build(5)) is not a
    clear_shared_cuts()


def test_operator_matches_across_modes(spark):
    """A representative multi-consumer operator (the ER cluster
    fixpoint, which cuts per round) returns identical rows in local and
    storage barrier modes."""
    from etl_ender_turing_spark.operators.dedup import duplicate_clusters
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        ["doc_a", "doc_b"])
    local_rows = sorted(map(tuple, duplicate_clusters(pairs).collect()))
    spark.conf.set(_MODE_CONF, "storage")
    try:
        storage_rows = sorted(map(tuple,
                                  duplicate_clusters(pairs).collect()))
    finally:
        spark.conf.unset(_MODE_CONF)
    assert local_rows == storage_rows
