"""conform() drift auditing (Load.py:94-110 parity) and MERGE upsert
semantics (Load.py:101-162 parity, set-based)."""

import pytest
import os

from pyspark.sql import functions as F, types as T

from etl_ender_turing_spark.operators import conform, dedup_latest, upsert_parquet
from etl_ender_turing_spark.operators import upsert as up
from etl_ender_turing_spark.operators.upsert import merge_dataframes, merge_sql
from etl_ender_turing_spark.schemas import TABLES, schema_of


def test_conform_drops_extras_fills_missing_casts(spark):
    df = spark.createDataFrame(
        [(1, "A", "extra", "2024-01-01 10:00:00")],
        "id int, name string, junk string, deactivated_at string")
    out = conform(df, schema_of("agents"), "agents")
    assert out.columns == [f.name for f in schema_of("agents").fields]
    row = out.collect()[0]
    assert row.id == 1
    assert "junk" not in out.columns
    assert isinstance(out.schema["id"].dataType, T.LongType)      # cast int->long
    assert isinstance(out.schema["deactivated_at"].dataType, T.TimestampType)
    assert row.is_active is None                                   # null-filled


def test_conform_is_projection_only_no_shuffle(spark):
    df = spark.createDataFrame([(1, "A")], "id int, name string")
    out = conform(df, schema_of("labels"), "labels")
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_conform_odd_names(spark):
    """Column names with a backtick, a dot and a space are plain names:
    kept, cast and NULL-filled like any other."""
    odd = "o`d.d n"
    df = spark.createDataFrame([(1, "x")], T.StructType([
        T.StructField(f"{odd}.id", T.IntegerType()),
        T.StructField(f"{odd}.junk", T.StringType())]))
    nested = T.StructType([T.StructField(f"{odd}.x", T.LongType(), False)])
    target = T.StructType([
        T.StructField(f"{odd}.id", T.LongType()),
        T.StructField(f"{odd}.missing", T.TimestampType()),
        T.StructField(f"{odd}.nested", nested),
        T.StructField(f"{odd}.map", T.MapType(T.StringType(), nested))])
    out = conform(df, target, "odd")
    assert out.schema == target
    assert [tuple(r) for r in out.collect()] == [(1, None, None, None)]


def test_dedup_latest_keeps_most_recent(spark):
    df = spark.createDataFrame(
        [(1, "old", "2024-01-01"), (1, "new", "2024-01-02"), (2, "x", "2024-01-01")],
        "id int, v string, updated string")
    out = {(r.id, r.v) for r in dedup_latest(df, ["id"], "updated").collect()}
    assert out == {(1, "new"), (2, "x")}


def test_dedup_latest_stable_across_partitioning(spark):
    """No order_col → tie-break must be content-derived, not layout-derived
    (monotonically_increasing_id picks different keepers per layout)."""
    rows = [(i % 5, f"v{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "id int, v string")
    a = {tuple(r) for r in dedup_latest(df.repartition(1), ["id"]).collect()}
    b = {tuple(r) for r in dedup_latest(df.repartition(13), ["id"]).collect()}
    assert a == b and len(a) == 5


def test_upsert_swap_leaves_no_debris(spark, tmp_path):
    path = os.path.join(str(tmp_path), "swap")
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    upsert_parquet(spark, df, path, ["id"])
    upsert_parquet(spark, df, path, ["id"])   # exercises the rename-aside path
    assert os.path.exists(path)
    assert not os.path.exists(path + "._old")
    assert not os.path.exists(path + "._staging")


def test_recover_swap_restores_parked_table(spark, tmp_path):
    """Crash window inside the swap (after rename(path, ._old), before
    rename(._staging, path)): the live table is parked at '._old' with
    nothing at path. recover_swap must rename it back — and the next
    upsert must see the full prior state (regression for the silent
    members-table reset)."""
    path = os.path.join(str(tmp_path), "t")
    df1 = spark.createDataFrame([(1, "a")], "id int, v string")
    upsert_parquet(spark, df1, path, ["id"])
    # simulate the crash: table parked aside, a half-written staging left
    os.rename(path, path + "._old")
    os.makedirs(path + "._staging")
    up.recover_swap(path)
    assert os.path.exists(path)
    assert not os.path.exists(path + "._old")
    assert not os.path.exists(path + "._staging")
    assert {tuple(r) for r in spark.read.parquet(path).collect()} == {(1, "a")}
    # and the next upsert merges against the RECOVERED state, not scratch
    df2 = spark.createDataFrame([(2, "b")], "id int, v string")
    os.rename(path, path + "._old")          # crash again, then upsert directly
    upsert_parquet(spark, df2, path, ["id"])
    out = {tuple(r) for r in spark.read.parquet(path).collect()}
    assert out == {(1, "a"), (2, "b")}


def test_recover_swap_drops_stale_old_and_staging(spark, tmp_path):
    """Crash in the FINAL window (path already promoted, '._old' not yet
    dropped): recovery must keep the promoted table and clear debris."""
    path = os.path.join(str(tmp_path), "t")
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    upsert_parquet(spark, df, path, ["id"])
    os.makedirs(path + "._old")
    os.makedirs(path + "._staging")
    up.recover_swap(path)
    assert os.path.exists(path)
    assert not os.path.exists(path + "._old")
    assert not os.path.exists(path + "._staging")


def test_merge_update_insert_keep(spark):
    tgt = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    src = spark.createDataFrame([(2, "B"), (3, "c")], "id int, v string")
    out = {(r.id, r.v) for r in merge_dataframes(tgt, src, ["id"]).collect()}
    assert out == {(1, "a"), (2, "B"), (3, "c")}


def test_upsert_parquet_idempotent(spark, tmp_path):
    path = os.path.join(str(tmp_path), "t")
    src = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")],
                                "id int, v string")
    upsert_parquet(spark, src, path, ["id"])
    n1 = spark.read.parquet(path).count()
    upsert_parquet(spark, src, path, ["id"])
    n2 = spark.read.parquet(path).count()
    assert n1 == n2 == 2   # intra-batch dedup + idempotent re-run


def test_registry_has_21_tables_with_keys():
    assert len(TABLES) == 21
    for spec in TABLES.values():
        assert spec.unique_key, spec.name
        assert set(spec.unique_key) <= {f.name for f in spec.schema.fields}
        for col, ref in spec.fks.items():
            rt, rc = ref.split(".")
            assert rt in TABLES and rc in {f.name for f in TABLES[rt].schema.fields}


def test_merge_sql_shape():
    sql = merge_sql("sessions", ("id",), ("type", "duration"))
    assert sql.startswith("MERGE INTO sessions t USING _source s ON t.id = s.id")
    assert "WHEN MATCHED THEN UPDATE SET t.type = s.type" in sql


def test_partitioned_upsert_touches_only_batch_partitions(spark, tmp_path):
    import glob
    import os

    from etl_ender_turing_spark.operators.upsert import upsert_parquet_partitioned

    path = os.path.join(str(tmp_path), "fact")
    day1 = [(1, "2024-06-01", "a"), (2, "2024-06-01", "b")]
    day2 = [(3, "2024-06-02", "c"), (4, "2024-06-02", "d")]
    df = spark.createDataFrame(day1 + day2, "id int, day string, v string")
    touched = upsert_parquet_partitioned(spark, df, path, ["id"], "day")
    assert sorted(touched) == ["2024-06-01", "2024-06-02"]

    day1_files = {f: os.path.getmtime(f)
                  for f in glob.glob(f"{path}/day=2024-06-01/*.parquet")}
    assert day1_files

    # batch updates day 2 only: one changed row, one new row
    batch = spark.createDataFrame(
        [(3, "2024-06-02", "C!"), (5, "2024-06-02", "e")],
        "id int, day string, v string")
    touched = upsert_parquet_partitioned(spark, batch, path, ["id"], "day")
    assert touched == ["2024-06-02"]

    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "b", 3: "C!", 4: "d", 5: "e"}

    # day-1 partition is byte-identical untouched files
    for f, mtime in day1_files.items():
        assert os.path.getmtime(f) == mtime, f


def test_partitioned_upsert_idempotent(spark, tmp_path):
    import os

    from etl_ender_turing_spark.operators.upsert import upsert_parquet_partitioned

    path = os.path.join(str(tmp_path), "fact_idem")
    batch = spark.createDataFrame(
        [(1, "2024-06-01", "a"), (2, "2024-06-02", "b")],
        "id int, day string, v string")
    upsert_parquet_partitioned(spark, batch, path, ["id"], "day")
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    upsert_parquet_partitioned(spark, batch, path, ["id"], "day")
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert before == after and len(after) == 2


def test_empty_batch_short_circuit(spark, tmp_path):
    """Reference parity (run-et-etl.py:54-60): empty input loads nothing —
    and crucially never rewrites the existing table."""
    import glob
    import os

    from etl_ender_turing_spark.operators.upsert import (
        upsert_parquet,
        upsert_parquet_partitioned,
    )

    df = spark.createDataFrame([(1, "2024-06-01", "a")],
                               "id int, day string, v string")
    empty = df.filter("id < 0")

    flat = os.path.join(str(tmp_path), "flat")
    upsert_parquet(spark, df, flat, ["id"])
    files = {f: os.path.getmtime(f) for f in glob.glob(f"{flat}/*.parquet")}
    upsert_parquet(spark, empty, flat, ["id"])
    assert {f: os.path.getmtime(f) for f in glob.glob(f"{flat}/*.parquet")} == files

    part = os.path.join(str(tmp_path), "part")
    assert upsert_parquet_partitioned(spark, empty, part, ["id"], "day") == []
    assert not os.path.exists(part)       # a missing table stays missing
    upsert_parquet_partitioned(spark, df, part, ["id"], "day")
    assert upsert_parquet_partitioned(spark, empty, part, ["id"], "day") == []
    assert spark.read.parquet(part).count() == 1


def test_partitioned_upsert_keeps_null_partition_rows(spark, tmp_path):
    """A batch that touches the NULL partition merges with its rows instead
    of overwriting them, and reports None among the touched values."""
    from etl_ender_turing_spark.operators.upsert import upsert_parquet_partitioned

    path = os.path.join(str(tmp_path), "fact")
    schema = "id int, region string, v string"
    first = spark.createDataFrame([(1, None, "a"), (2, "eu", "b")],
                                  schema)
    assert upsert_parquet_partitioned(spark, first, path, ["id"], "region") \
        == ["eu", None]
    batch = spark.createDataFrame([(3, None, "c")], schema)
    assert upsert_parquet_partitioned(spark, batch, path, ["id"], "region") \
        == [None]
    got = {(r.id, r.region, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, None, "a"), (2, "eu", "b"), (3, None, "c")}


def test_partitioned_upsert_leaves_session_conf_alone(spark, tmp_path,
                                                       monkeypatch):
    """Dynamic partition overwrite is an option of the one write, never a
    session conf flip that concurrent writers in the session could see."""
    from pyspark.sql.conf import RuntimeConfig

    from etl_ender_turing_spark.operators.upsert import upsert_parquet_partitioned

    path = os.path.join(str(tmp_path), "fact")
    df = spark.createDataFrame(
        [(1, "2024-06-01", "a"), (2, "2024-06-02", "b")],
        "id int, day string, v string")
    calls = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        calls.append((key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    upsert_parquet_partitioned(spark, df, path, ["id"], "day")
    batch = spark.createDataFrame([(2, "2024-06-02", "B")],
                                  "id int, day string, v string")
    assert upsert_parquet_partitioned(spark, batch, path, ["id"], "day") \
        == ["2024-06-02"]
    assert calls == []
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B"}


def test_upsert_schema_evolution(spark, tmp_path):
    """evolve_schema=True: source-added columns join the table (NULL for
    old rows), source-dropped columns survive as NULL on merged rows;
    default (off) raises on drift instead of silently reshaping."""
    import pytest

    path = os.path.join(str(tmp_path), "evo")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    upsert_parquet(spark, b1, path, ["id"])

    b2 = spark.createDataFrame([(2, 9.5), (3, 1.5)], "id int, score double")
    with pytest.raises(Exception):      # drift without opt-in fails loudly
        upsert_parquet(spark, b2, path, ["id"])
    upsert_parquet(spark, b2, path, ["id"], evolve_schema=True)

    rows = {r.id: r for r in spark.read.parquet(path).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].v == "a" and rows[1].score is None      # old row, new col
    assert rows[2].v is None and rows[2].score == 9.5      # replaced by src
    assert rows[3].v is None and rows[3].score == 1.5      # inserted


@pytest.mark.skipif(not up.delta_available(), reason="delta-spark not installed")
def test_delta_merge_equals_parquet_upsert(spark, tmp_path):
    """Executed MERGE INTO: overlapping batches through upsert_delta must
    converge to exactly what upsert_parquet produces (same dedup, same
    update-else-insert semantics)."""
    b1 = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k long, v string, ts long")
    b2 = spark.createDataFrame([(2, "B", 30), (3, "c", 40)], "k long, v string, ts long")
    dpath, ppath = str(tmp_path / "delta_t"), str(tmp_path / "parq_t")
    for b in (b1, b2):
        up.upsert_delta(spark, b, dpath, ("k",), order_col="ts")
        up.upsert_parquet(spark, b, ppath, ("k",), order_col="ts")
    got = {tuple(r) for r in spark.read.format("delta").load(dpath).collect()}
    want = {tuple(r) for r in spark.read.parquet(ppath).collect()}
    assert got == want and len(got) == 3


def test_delta_guard_reports_unavailable_cleanly(spark):
    # in this container delta-spark is absent: the guard must say so and
    # upsert_delta must raise ImportError (callers fall back to parquet)
    if up.delta_available():
        pytest.skip("delta present; executed path covered above")
    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ImportError):
        up.upsert_delta(spark, df, "/tmp/never-written", ("k",))


def test_reconcile_buckets_match_planted_drift(spark):
    from etl_ender_turing_spark.operators.conform import reconcile
    a = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, None)],
        "k long, v double")
    b = spark.createDataFrame(
        [(2, 20.0), (3, 31.0), (4, None), (5, 50.0)],
        "k long, v double")
    r = reconcile(a, b, ["k"]).first()
    # 1 only in a; 5 only in b; 2 equal (k=2, and k=4 null==null
    # null-safe); 3 changed
    assert (r.n_only_a, r.n_only_b, r.n_equal, r.n_changed) == (1, 1, 2, 1)


def test_compaction_collapses_micro_files_preserving_rows(spark, tmp_path):
    from etl_ender_turing_spark.sources.maintenance import (
        compact_parquet, table_file_stats,
    )
    path = str(tmp_path / "accreted")
    # simulate streaming-epoch accretion: 40 single-row appends
    for i in range(40):
        (spark.range(i * 10, i * 10 + 10).toDF("v")
         .coalesce(1).write.mode("append").parquet(path))
    n0, _ = table_file_stats(path)
    assert n0 >= 40
    before = spark.read.parquet(path).count()
    stats = compact_parquet(spark, path, target_mb=128)
    assert stats["files_after"] == 1 and stats["files_before"] == n0
    assert spark.read.parquet(path).count() == before == 400
