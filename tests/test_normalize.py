"""Flatten/explode semantics pinned to pd.json_normalize(record_path=...)
behavior (SURVEY §2.4): inner explode, parent-key carry, renames,
projection, two-level with meta from both levels."""

from etl_ender_turing_spark.operators import FlattenSpec, flatten, flatten_two_level


def _sessions(spark):
    return spark.createDataFrame(
        [
            ("s1", [{"id": 7, "is_verified": True}, {"id": 8, "is_verified": False}]),
            ("s2", []),          # empty array -> no child rows
            ("s3", None),        # null array  -> no child rows
        ],
        "id string, categories array<struct<id:long, is_verified:boolean>>")


def test_flatten_carries_parent_and_renames(spark):
    out = flatten(_sessions(spark), FlattenSpec(
        array_col="categories",
        parent_keys={"id": "session_id"},
        child_renames={"id": "category_id"}))
    rows = {(r.session_id, r.category_id, r.is_verified) for r in out.collect()}
    assert rows == {("s1", 7, True), ("s1", 8, False)}


def test_flatten_empty_and_null_produce_no_rows(spark):
    out = flatten(_sessions(spark), FlattenSpec(
        array_col="categories", parent_keys={"id": "session_id"}))
    assert out.filter("session_id in ('s2','s3')").count() == 0


def test_flatten_projection(spark):
    out = flatten(_sessions(spark), FlattenSpec(
        array_col="categories", parent_keys={"id": "session_id"},
        child_renames={"id": "category_id"},
        keep=("session_id", "category_id")))
    assert out.columns == ["session_id", "category_id"]


def test_flatten_child_prefix(spark):
    # categories.labels with record_prefix 'label_' (Transform.py:79-85)
    df = spark.createDataFrame(
        [(5, [{"id": 1, "text": "x"}])],
        "id long, labels array<struct<id:long, text:string>>")
    out = flatten(df, FlattenSpec(
        array_col="labels", parent_keys={"id": "category_id"},
        child_prefix="label_", keep=("category_id", "label_id")))
    assert [tuple(r) for r in out.collect()] == [(5, 1)]


def test_two_level_flatten_meta_from_both_levels(spark):
    # sessions.scores[].point_scores[] carrying session_id+scorecard_id+
    # reviewer_id into point rows (Transform.py:209-218)
    df = spark.createDataFrame(
        [("s1", [{"scorecard_id": 2, "reviewer_id": 3,
                  "point_scores": [{"scorecard_point_id": 11, "score": 1},
                                   {"scorecard_point_id": 12, "score": 0}]}])],
        "id string, scores array<struct<scorecard_id:long, reviewer_id:long,"
        " point_scores:array<struct<scorecard_point_id:long, score:int>>>>")
    out = flatten_two_level(
        df,
        FlattenSpec(array_col="scores", parent_keys={"id": "session_id"}),
        FlattenSpec(array_col="point_scores",
                    parent_keys={"session_id": "session_id",
                                 "scorecard_id": "scorecard_id",
                                 "reviewer_id": "reviewer_id"}))
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [("s1", 2, 3, 11, 1), ("s1", 2, 3, 12, 0)]


def test_flatten_is_narrow_no_shuffle(spark):
    # explode must not introduce an Exchange (SURVEY §2.4 scale note)
    out = flatten(_sessions(spark), FlattenSpec(
        array_col="categories", parent_keys={"id": "session_id"}))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# a backtick, a dot and a space in every name: each is a plain name, never
# a nested-field path or a quoting error
ODD = "o`d.d n"


def _odd(spark):
    from pyspark.sql import types as T
    elem = T.StructType([T.StructField(f"{ODD}.f", T.LongType()),
                         T.StructField("v", T.StringType())])
    schema = T.StructType([T.StructField(f"{ODD}.id", T.StringType()),
                           T.StructField(f"{ODD}.arr", T.ArrayType(elem))])
    return spark.createDataFrame(
        [("s1", [(1, "a"), None, (2, "b")]), ("s2", None)], schema)


def test_flatten_odd_names(spark):
    out = flatten(_odd(spark), FlattenSpec(
        array_col=f"{ODD}.arr", parent_keys={f"{ODD}.id": f"{ODD}.sid"},
        child_renames={f"{ODD}.f": f"{ODD}.fid"}, child_prefix="p`. ",
        keep=(f"{ODD}.sid", f"{ODD}.fid", "p`. v")))
    assert out.columns == [f"{ODD}.sid", f"{ODD}.fid", "p`. v"]
    # a NULL element is one all-NULL child row, as explode gives
    assert [tuple(r) for r in out.collect()] == [
        ("s1", 1, "a"), ("s1", None, None), ("s1", 2, "b")]


def test_posexplode_flatten_odd_names(spark):
    out = flatten(_odd(spark), FlattenSpec(
        array_col=f"{ODD}.arr", parent_keys={f"{ODD}.id": f"{ODD}.sid"},
        position_col=f"{ODD}.pos"))
    assert out.columns == [f"{ODD}.sid", f"{ODD}.pos", f"{ODD}.f", "v"]
    assert [tuple(r) for r in out.orderBy(f"`{ODD.replace('`', '``')}.pos`")
            .collect()] == [("s1", 0, 1, "a"), ("s1", 1, None, None),
                            ("s1", 2, 2, "b")]
