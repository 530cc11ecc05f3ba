"""End-to-end pipeline tests: fixtures → transform → 20 tables → sync.

Invariant-based golden checks (SURVEY §5): row conservation through
explodes, unique-key integrity per declared constraint, default-user
injection, drop-list absence, datetime edge handling, idempotent re-sync,
incremental == full convergence.
"""

import gc
import hashlib
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from etl_ender_turing_spark.pipeline import raw_fixture_tables, transform_all
from etl_ender_turing_spark.pipeline.sync import (
    load_tables, read_watermark, sync_incremental, sync_period,
    write_watermark,
)
from etl_ender_turing_spark.schemas import TABLES, schema_of
from etl_ender_turing_spark.session import count_py4j_calls


@pytest.fixture(scope="module")
def raw(spark):
    return raw_fixture_tables(spark)


@pytest.fixture(scope="module")
def tables(spark, raw):
    return transform_all(raw, spark)


def test_all_21_tables_produced(tables):
    assert set(tables) == set(TABLES)
    assert "sessions_transcripts" in tables


def test_schemas_match_registry(tables):
    for name, df in tables.items():
        want = [(f.name, f.dataType) for f in TABLES[name].schema.fields]
        got = [(f.name, f.dataType) for f in df.schema.fields]
        assert got == want, name


def test_unique_keys_hold(tables):
    for name, df in tables.items():
        key = list(TABLES[name].unique_key)
        assert df.count() == df.select(*key).distinct().count(), name


def test_explode_row_conservation(raw, tables):
    # count(child rows) == sum(size(source arrays)) — no row loss/dup
    src = raw["sessions"]
    checks = {
        "sessions_categories": F.size("categories"),
        "sessions_crm_statuses": F.size("crm_statuses"),
        "sessions_reviewers": F.size("reviewers"),
        "sessions_comments": F.size("comments"),
        "sessions_summaries": F.size("summary"),
    }
    for table, sz in checks.items():
        expected = src.select(F.sum(F.greatest(sz, F.lit(0))).alias("n")) \
                      .collect()[0]["n"]
        assert tables[table].count() == expected, table


def test_two_level_conservation(raw, tables):
    expected = raw["sessions"].select(F.explode("tags").alias("t")) \
        .select(F.sum(F.size("t.match"))).collect()[0][0]
    assert tables["sessions_tags"].count() == expected
    expected_scores = raw["sessions"].filter(F.col("scores").isNotNull()) \
        .select(F.explode("scores").alias("s")) \
        .select(F.sum(F.size("s.point_scores"))).collect()[0][0]
    assert tables["sessions_scores"].count() == expected_scores


def test_default_user_injected_once(spark, raw, tables):
    assert tables["users"].filter("id = 0").count() == 1
    assert tables["users"].count() == raw["users"].count() + 1
    # exact value parity with the reference's et_default_user
    # (ETL/Transform.py:20-27)
    row = tables["users"].filter("id = 0").collect()[0]
    assert row.full_name == "Ender Turing"
    assert row.email == "ender.turing@enderturing.com"
    assert row.is_active is False and row.is_superuser is False
    assert str(row.invite_expires) == "1900-01-01 00:00:00"
    # idempotence: transform again, still exactly one id=0
    again = transform_all(raw, spark)
    assert again["users"].filter("id = 0").count() == 1


def _has_python_rdd(df):
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def test_raw_frames_are_jvm_resident(raw):
    """The extract crosses into the JVM once: no raw frame's lineage
    holds a Python RDD (a createDataFrame over a Python list), so no
    later job over it runs a Python worker."""
    assert [n for n, df in raw.items() if _has_python_rdd(df)] == []


def _json_rows(df):
    # maps (sessions.duration_details) rule out exceptAll; JSON strings
    # compare every field, nested ones included
    return sorted(r[0] for r in df.select(F.to_json(F.struct("*"))).collect())


def test_raw_frames_match_fresh_create(spark, raw):
    """The Arrow route changes how the raw rows reach the JVM, not what
    they are: each frame keeps the declared schema and rows of a fresh
    createDataFrame over the generator's list."""
    from etl_ender_turing_spark.pipeline.fixtures import _DDL, _GENERATORS

    assert list(raw) == list(_GENERATORS)
    for name, gen in _GENERATORS.items():
        fresh = spark.createDataFrame(gen(), _DDL[name])
        assert raw[name].schema == fresh.schema, name
        assert _json_rows(raw[name]) == _json_rows(fresh), name


def test_transformed_users_are_jvm_resident(spark, raw):
    """users reads the Arrow-backed raw frame and a default row built
    from JVM literals: no Python worker in any job that loads it."""
    assert not _has_python_rdd(transform_all(raw, spark)["users"])


def test_transform_build_round_trip_budget(spark, raw):
    """Building the transform plan runs no job; its driver cost is Py4J
    round trips. Projections built as SQL text make ~0.5-1k per warm
    build; one Column object per projected column made ~9.3k."""
    transform_all(raw, spark)   # warm: raw schemas fetched, JVM classes loaded
    gc.collect()                # drop earlier builds' JVM handles first
    with count_py4j_calls(spark) as n:
        transform_all(raw, spark)
    assert n.calls <= 2500, n.calls


def _digest(df):
    """(rows, sha256 of the schema JSON, sha256 of the sorted to_json
    rows), each hash cut to 16 hex digits."""
    rows = _json_rows(df)
    return (len(rows),
            hashlib.sha256(df.schema.json().encode()).hexdigest()[:16],
            hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16])


# every transform_all table over the fixtures, as the per-column Column
# projections built them; the SQL-text projections must reproduce them
PINNED = {
    "agent_group_associations": (26, "00c797c9d5492ac8", "d80a57f60bdc0317"),
    "agents": (20, "46e56724dd89351e", "9338541894fdb299"),
    "categories": (15, "c056e80d7371941b", "64f160795c70d466"),
    "category_labels": (20, "a9a48eb128009123", "4b8aafaa41bdaf99"),
    "groups": (5, "ce3ff8f8dccaadbe", "773b7c256810c7ae"),
    "labels": (8, "64f9f3d8ff61f1d7", "5dc1ce397152dfd7"),
    "scorecard_categories": (12, "9a1c08e99f9fa213", "ae94e4c94be933c2"),
    "scorecard_points": (60, "d778a69b34b538ab", "2792a22b2c1eeb2b"),
    "scorecards": (3, "2a9944765ad186a3", "b06e6cd92cb42de3"),
    "sessions": (300, "e17032d01e8f3c81", "119481aa10572f2f"),
    "sessions_categories": (240, "23acb2f8a84b981f", "330cf37685aeeed7"),
    "sessions_comments": (50, "a68de8494e254dfa", "c6c548c7c96ee9bf"),
    "sessions_crm_statuses": (258, "126b3233715bbe88", "353a2909d602fa49"),
    "sessions_reviewers": (100, "015ec349eef2cdfd", "45753f6a9c719178"),
    "sessions_scores": (411, "018e759dc791b8a6", "ce463fc89d00c0b1"),
    "sessions_summaries": (150, "3c9c51500a3dc9f1", "9151325bde6e0cc9"),
    "sessions_tags": (450, "970da6acd4c99a73", "21392b62d8b84eba"),
    "sessions_transcripts": (1032, "7012c47ddbf96c96", "455a9ff20d34620b"),
    "tag_labels": (23, "d700f00db0fad56c", "d02a9fb23896b310"),
    "tags": (30, "1f8494c3673c8e87", "2529762b65ffd376"),
    "users": (11, "2541fdd6a0941c70", "45684231da0b802b"),
}

# the tables that change when the raw sessions are cut to one day, as
# the daily sync cuts them (2024-06-02)
PINNED_DAILY = {
    "sessions": (100, "e17032d01e8f3c81", "77b63495f37236f3"),
    "sessions_categories": (80, "23acb2f8a84b981f", "947d52196651369f"),
    "sessions_comments": (0, "a68de8494e254dfa", "e3b0c44298fc1c14"),
    "sessions_crm_statuses": (86, "126b3233715bbe88", "e6e99b0a69bde399"),
    "sessions_reviewers": (0, "015ec349eef2cdfd", "e3b0c44298fc1c14"),
    "sessions_scores": (135, "018e759dc791b8a6", "4dafbd71bbe2403a"),
    "sessions_summaries": (50, "3c9c51500a3dc9f1", "dcf548c338466bd1"),
    "sessions_tags": (150, "970da6acd4c99a73", "b5630b62ba7aa9fb"),
}


def test_transform_outputs_pinned(spark, raw, tables):
    """Every table keeps its exact schema (nullability included) and
    rows, on the full fixture window and on the one-day cut."""
    assert {n: _digest(df) for n, df in tables.items()} == PINNED
    day = "2024-06-02"
    daily = transform_all({**raw, "sessions": raw["sessions"].filter(
        F.col("start_dt").substr(1, 10).between(day, day))}, spark)
    assert {n: _digest(daily[n]) for n in PINNED_DAILY} == PINNED_DAILY


def test_transcript_metrics_match_declared_session_columns(spark, raw, tables):
    """Recomputing words_count_*/silence/duration from fixture utterances
    reproduces the sessions table's declared values exactly — the
    round-trip validation for the sessions_transcripts wiring (SURVEY
    §2.5; reference stubs the table at schema.py:495-498)."""
    from etl_ender_turing_spark.pipeline.metrics import transcript_metrics

    tm = transcript_metrics(raw["transcripts"], agent_channel="agent_channel")
    declared = tables["sessions"].select(
        F.col("id").alias("session_id"),
        *[F.col(c).alias(f"decl_{c}")
          for c in ("words_count_agent", "words_count_client",
                    "words_count_both", "silence", "duration")])
    joined = declared.join(tm, "session_id", "inner")
    n = joined.count()
    assert n == raw["transcripts"].count() and n > 200
    bad = joined.filter(
        (F.col("decl_words_count_agent") != F.col("words_count_agent"))
        | (F.col("decl_words_count_client") != F.col("words_count_client"))
        | (F.col("decl_words_count_both") != F.col("words_count_both"))
        | (F.abs(F.col("decl_silence") - F.col("silence")) > 1e-9)
        | (F.abs(F.col("decl_duration") - F.col("duration")) > 1e-9))
    assert bad.count() == 0


def test_transcripts_table_shape(raw, tables):
    tt = tables["sessions_transcripts"]
    # 4 utterances per transcribed session, ordinal key starts at 0
    assert tt.count() == raw["transcripts"].count() * 4
    assert tt.groupBy("session_id").count().filter("count != 4").count() == 0
    assert tt.filter("utterance_id NOT BETWEEN 0 AND 3").count() == 0


def test_dropped_columns_absent(tables):
    assert "end_dt" not in tables["sessions"].columns
    assert "phone_number_aliases" not in tables["agents"].columns
    assert "color" not in tables["labels"].columns
    assert "team_ids" not in tables["scorecards"].columns
    assert "tags" not in tables["sessions"].columns       # exploded source


def test_datetime_edges(tables):
    # out-of-bounds association date -> 1900 default
    oob = tables["agent_group_associations"].filter(
        "agent_id = 7 and start_dt = timestamp'1900-01-01 00:00:00'")
    assert oob.count() == 1
    # malformed start_dt rows (i % 37 == 0) were regex-salvaged, not nulled
    assert tables["sessions"].filter("start_dt is null").count() == 0


def test_derived_columns(tables):
    row = tables["sessions"].filter(F.col("caller_prev_session_id").isNotNull()) \
        .select("id", "et_link", "start_date", "start_time").first()
    assert row.et_link.endswith(f"session_id={row.id}")
    assert len(row.start_date) == 10 and len(row.start_time) == 5


def test_sync_period_and_idempotency(spark, raw, tmp_path):
    wh = str(tmp_path / "wh")
    counts1 = sync_period(spark, raw, wh, "2024-06-01", "2024-06-02")
    sessions_n = spark.read.parquet(os.path.join(wh, "sessions")).count()
    assert counts1["sessions"] == sessions_n > 0
    # day-3 sessions excluded by the date filter
    assert spark.read.parquet(os.path.join(wh, "sessions")) \
        .filter("start_date = '2024-06-03'").count() == 0
    # re-sync same period: nothing changes
    sync_period(spark, raw, wh, "2024-06-01", "2024-06-02")
    assert spark.read.parquet(os.path.join(wh, "sessions")).count() == sessions_n


@pytest.fixture(scope="module")
def full_sync(spark, raw, tmp_path_factory):
    """Days 1-3 synced into a fresh warehouse, shared read-only by the
    tests below: (warehouse path, rows synced per table)."""
    wh = str(tmp_path_factory.mktemp("full"))
    return wh, sync_period(spark, raw, wh, "2024-06-01", "2024-06-03")


def test_sync_counts_match_loaded_rows(spark, full_sync):
    """Round-1 ADVICE bug: for non-partitioned tables the reported sync
    count came from the empty-check's take(1) scan (always 1). Counts must
    equal the rows actually loaded into a fresh warehouse."""
    wh, counts = full_sync
    multi = 0
    for t, n in counts.items():
        loaded = spark.read.parquet(os.path.join(wh, t)).count()
        assert n == loaded, f"{t}: reported {n} != loaded {loaded}"
        multi += loaded > 1
    assert multi >= 5   # the bug pinned every non-partitioned count at 1


def test_incremental_converges_to_full(spark, raw, full_sync, tmp_path):
    wh_full = full_sync[0]
    wh_inc = str(tmp_path / "inc")

    # incremental: day 1-2 first, then watermark-driven catch-up through day 3
    sync_period(spark, raw, wh_inc, "2024-06-01", "2024-06-02")
    write_watermark(spark, wh_inc, datetime(2024, 6, 2, 23, 59, 59))
    sync_period(spark, raw, wh_inc, "2024-06-03", "2024-06-03")
    sync_incremental(spark, raw, wh_inc, "2024-06-03")

    def comparable(df):
        # set ops reject MAP columns — serialize them to sorted JSON first
        return df.select(*[
            F.to_json(F.map_entries(c)).alias(c)
            if isinstance(df.schema[c].dataType, MapType) else F.col(c)
            for c in df.columns
        ])

    for t in ("sessions", "sessions_scores", "sessions_reviewers"):
        full = spark.read.parquet(os.path.join(wh_full, t))
        inc = spark.read.parquet(os.path.join(wh_inc, t))
        assert full.count() == inc.count(), t
        assert comparable(full).exceptAll(comparable(inc)).count() == 0, t

    wm = read_watermark(spark, wh_inc)
    assert wm == datetime(2024, 6, 3)


# a flat table and the date-partitioned fact, with the column each batch
# varies (the key is "id" for both)
LOAD_TABLES = [("labels", "text"), ("sessions", "type")]


def _batch(spark, table, col, rows):
    """A ``table`` batch of (id, ``col`` value, start_date) rows, every
    other column NULL."""
    schema = schema_of(table)
    out = []
    for i, v, day in rows:
        row = dict.fromkeys(schema.fieldNames())
        row.update({"id": i if table != "sessions" else str(i), col: v})
        if table == "sessions":
            row["start_date"] = day
        out.append(tuple(row[c] for c in schema.fieldNames()))
    return spark.createDataFrame(out, schema)


def _files(path):
    return {os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
            for d, _, names in os.walk(path) for f in names}


@pytest.mark.parametrize("table,col", LOAD_TABLES)
def test_load_tables_evaluates_each_batch_row_once(spark, tmp_path, table, col):
    """One pass per batch: emptiness, touched partitions, the merge and
    the write all read one cut, so a batch row is computed once per
    load_tables call, on a missing table and on an existing one."""
    wh = str(tmp_path / "wh")
    rows = [(1, "a", "2024-06-01"), (2, "b", "2024-06-01"),
            (3, "c", "2024-06-02")]
    for attempt in range(2):
        acc = spark.sparkContext.accumulator(0)

        def tick(v):
            acc.add(1)
            return v

        batch = _batch(spark, table, col, rows)
        counted = batch.withColumn(col, F.udf(tick, "string")(col))
        assert load_tables(spark, {table: counted}, wh) == {table: 3}
        assert acc.value == 3, (attempt, acc.value)
    assert spark.read.parquet(os.path.join(wh, table)).count() == 3


@pytest.mark.parametrize("table,col", LOAD_TABLES)
def test_load_tables_empty_batch_touches_nothing(spark, tmp_path, table, col):
    """An empty batch syncs 0 rows, creates no missing table and leaves an
    existing one byte-identical."""
    wh = str(tmp_path / "wh")
    path = os.path.join(wh, table)
    empty = _batch(spark, table, col, []).filter(F.lit(False))
    assert load_tables(spark, {table: empty}, wh) == {table: 0}
    assert not os.path.exists(path)

    load_tables(spark, {table: _batch(spark, table, col,
                                      [(1, "a", "2024-06-01")])}, wh)
    before = _files(path)
    assert before
    assert load_tables(spark, {table: empty}, wh) == {table: 0}
    assert _files(path) == before


@pytest.mark.parametrize("table,col", LOAD_TABLES)
def test_load_tables_counts_rows_before_dedup(spark, tmp_path, table, col):
    """Rows synced means batch rows as received: a duplicated key counts
    twice, while the table keeps one row per key."""
    wh = str(tmp_path / "wh")
    batch = _batch(spark, table, col, [(1, "a", "2024-06-01"),
                                       (1, "b", "2024-06-01"),
                                       (2, "c", "2024-06-02")])
    assert load_tables(spark, {table: batch}, wh) == {table: 3}
    loaded = spark.read.parquet(os.path.join(wh, table))
    assert loaded.count() == 2
    assert loaded.select("id").distinct().count() == 2


def test_updated_category_pull_is_dim_bounded(spark):
    """The watermark-driven category-id collect must stay metadata-sized:
    within the reference's 9,999-per-tenant cap it returns the ids; past
    the cap it must FAIL LOUDLY (limit + assert), never ship an unbounded
    list to the driver."""
    import pytest

    from etl_ender_turing_spark.pipeline.sync import _updated_category_ids

    wm = datetime(2024, 6, 1)
    small = spark.range(50).select(
        F.col("id"), F.lit("2024-06-02 00:00:00").alias("updated_at"))
    assert len(_updated_category_ids(small, wm)) == 50
    # one past the cap -> loud failure, and the limit() means the failed
    # attempt still never collected more than _DIM_CAP rows
    big = spark.range(10_000).select(
        F.col("id"), F.lit("2024-06-02 00:00:00").alias("updated_at"))
    with pytest.raises(AssertionError, match="dimension cap"):
        _updated_category_ids(big, wm)


def test_guarded_semi_join_reviewers(tables):
    # 'reviewers,true' semantics: every sessions_scores row belongs to a
    # session; manual scores only exist where reviewers reviewed
    scored = tables["sessions_scores"].select("session_id").distinct()
    sess = tables["sessions"].select(F.col("id").alias("session_id"))
    orphans = scored.join(sess, "session_id", "left_anti")
    assert orphans.count() == 0
