"""Transform layer: raw nested entities → the 20-table star schema.

Spark-native re-expression of the reference's Transform stage
(ETL/Transform.py:55-163 base dicts; 166-297 sessions). Every
json_normalize call becomes a declarative FlattenSpec; every pandas type
fix becomes a built-in expression; the result of each step is conform()ed
to the schema registry so output schemas are exactly the declared ones.

The whole layer is narrow (explodes + projections, no joins or shuffles):
at any scale it pipelines inside one stage per output table.

Building the plan runs no Spark job, yet it was the largest driver cost
of a daily MERGE sync: a Column object per projected column costs ~40
Py4J round trips, ~9.3k per ``transform_all`` (~1.2 s). Every projection
here is therefore SQL text (``conform``, ``flatten``, the datetime and
derived helpers), one JVM call per projection, and each table's parses
and derived columns ride its ``conform`` projection instead of adding
their own: ~0.5k round trips and ~0.25 s per build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.datetime_utils import safe_to_timestamp_sql, split_date_time_sql
from ..functions.derived import et_link_sql
from ..functions.sql_text import ident, literal
from ..operators.conform import conform
from ..operators.normalize import FlattenSpec, flatten, flatten_two_level
from ..schemas import schema_of

# Default "Ender Turing" user injected when the API result lacks id=0 —
# exact value parity with the reference's et_default_user
# (ETL/Transform.py:20-27; injected at 117-127).
DEFAULT_USER = {"id": 0, "full_name": "Ender Turing",
                "email": "ender.turing@enderturing.com",
                "is_active": False, "is_superuser": False,
                "invite_expires": "1900-01-01T00:00:00.000"}


def _parse_ts(df: DataFrame, cols: list[str]) -> dict[str, str]:
    """safe_to_timestamp text for those of ``cols`` that ``df`` has, for
    conform to compute in its one projection."""
    return {c: safe_to_timestamp_sql(ident(c)) for c in cols if c in df.columns}


# =========================================================================
# Base dictionaries (reference Transform.py:55-163)
# =========================================================================

def transform_base_dicts(raw: dict[str, DataFrame],
                         spark: SparkSession) -> dict[str, DataFrame]:
    out: dict[str, DataFrame] = {}

    agents = raw["agents"]
    out["agents"] = conform(agents, schema_of("agents"), "agents",
                            _parse_ts(agents, ["deactivated_at"]))
    aga = flatten(agents, FlattenSpec(
        array_col="groups", parent_keys={"id": "agent_id"},
        child_renames={"id": "group_id"}))
    out["agent_group_associations"] = conform(
        aga, schema_of("agent_group_associations"),
        "agent_group_associations", _parse_ts(aga, ["start_dt"]))

    out["groups"] = conform(raw["groups"], schema_of("groups"), "groups")
    out["labels"] = conform(raw["labels"], schema_of("labels"), "labels")

    cats = raw["categories"]
    out["categories"] = conform(cats, schema_of("categories"), "categories",
                                _parse_ts(cats, ["created_at", "updated_at"]))
    out["category_labels"] = conform(
        flatten(cats, FlattenSpec(
            array_col="labels", parent_keys={"id": "category_id"},
            child_prefix="label_", keep=("category_id", "label_id"))),
        schema_of("category_labels"), "category_labels")

    out["scorecards"] = conform(raw["scorecards"], schema_of("scorecards"),
                                "scorecards")
    sc_cats = flatten(raw["scorecards"], FlattenSpec(
        array_col="categories", parent_keys={},
        child_renames={}))  # child rows already carry scorecard_id
    out["scorecard_categories"] = conform(
        sc_cats.selectExpr("id", "scorecard_id", "name", "sort_order"),
        schema_of("scorecard_categories"), "scorecard_categories")
    out["scorecard_points"] = conform(
        flatten(sc_cats, FlattenSpec(array_col="points", parent_keys={})),
        schema_of("scorecard_points"), "scorecard_points")

    tags = raw["tags"]
    out["tags"] = conform(tags, schema_of("tags"), "tags",
                          _parse_ts(tags, ["archived_at"]))
    out["tag_labels"] = conform(
        flatten(tags, FlattenSpec(
            array_col="labels", parent_keys={"id": "tag_id"},
            child_prefix="label_", keep=("tag_id", "label_id"))),
        schema_of("tag_labels"), "tag_labels")

    users = raw["users"]
    users_conf = conform(users, schema_of("users"), "users",
                         _parse_ts(users, ["invite_expires"]))
    # built from JVM literals (conform casts them to the registry types):
    # a createDataFrame row would put a Python worker task into every job
    # that reads users
    default = spark.range(1).selectExpr(
        *[f"{literal(v)} AS {ident(k)}" for k, v in DEFAULT_USER.items()])
    default = conform(default, schema_of("users"), "users(default)",
                      _parse_ts(default, ["invite_expires"]))
    # anti-join guard: inject only when id=0 absent (Transform.py:117-127)
    inject = default.join(users_conf.selectExpr("id"), "id", "left_anti")
    out["users"] = users_conf.unionByName(inject)
    return out


# =========================================================================
# Sessions fact + 7 child tables (reference Transform.py:166-297)
# =========================================================================

# the reference's sessions drop list (Transform.py:268-282), tolerant of
# absent columns; exploded source arrays are dropped after flattening
# (Transform.py:237-241) — conform() handles both by projection.

def transform_sessions(raw_sessions: DataFrame,
                       base_url: str = "https://app") -> dict[str, DataFrame]:
    out: dict[str, DataFrame] = {}
    s = raw_sessions

    # --- child fact tables (8 flattens, SURVEY §2.4) -----------------
    out["sessions_tags"] = conform(
        flatten_two_level(
            s,
            FlattenSpec(array_col="tags", parent_keys={"id": "session_id"},
                        child_renames={"id": "tag_id"}),
            FlattenSpec(array_col="match",
                        parent_keys={"session_id": "session_id",
                                     "tag_id": "tag_id"})),
        schema_of("sessions_tags"), "sessions_tags")

    out["sessions_categories"] = conform(
        flatten(s, FlattenSpec(array_col="categories",
                               parent_keys={"id": "session_id"},
                               child_renames={"id": "category_id"})),
        schema_of("sessions_categories"), "sessions_categories")

    reviewers = flatten(s, FlattenSpec(
        array_col="reviewers", parent_keys={"id": "session_id"},
        child_renames={"id": "reviewer_id"}))
    out["sessions_reviewers"] = conform(
        reviewers, schema_of("sessions_reviewers"), "sessions_reviewers",
        _parse_ts(reviewers, ["last_reviewed_at"]))

    out["sessions_scores"] = conform(
        flatten_two_level(
            s.filter("scores IS NOT NULL"),  # broken-scores guard
            FlattenSpec(array_col="scores", parent_keys={"id": "session_id"}),
            FlattenSpec(array_col="point_scores",
                        parent_keys={"session_id": "session_id",
                                     "scorecard_id": "scorecard_id",
                                     "reviewer_id": "reviewer_id"})),
        schema_of("sessions_scores"), "sessions_scores")

    out["sessions_crm_statuses"] = conform(
        flatten(s, FlattenSpec(array_col="crm_statuses",
                               parent_keys={"id": "session_id"})),
        schema_of("sessions_crm_statuses"), "sessions_crm_statuses")

    out["sessions_comments"] = conform(
        flatten(s, FlattenSpec(array_col="comments",
                               parent_keys={"id": "session_id"})),
        schema_of("sessions_comments"), "sessions_comments")

    out["sessions_summaries"] = conform(
        flatten(s, FlattenSpec(array_col="summary",
                               parent_keys={"id": "session_id"})),
        schema_of("sessions_summaries"), "sessions_summaries")

    # --- sessions fact ------------------------------------------------
    derived = _parse_ts(s, ["start_dt"])
    d, t = split_date_time_sql(derived["start_dt"])
    derived.update(start_date=d, start_time=t,
                   et_link=et_link_sql(base_url, ident("id")))
    out["sessions"] = conform(s, schema_of("sessions"), "sessions", derived)
    return out


def transform_transcripts(raw_transcripts: DataFrame) -> DataFrame:
    """sessions_transcripts: utterance rows keyed by (session_id, array
    ordinal) — the reference's stubbed table (schema.py:495-498) fed by its
    real per-session fetch (get-summaries-to-file.py:72-82)."""
    return conform(
        flatten(raw_transcripts, FlattenSpec(
            array_col="utterances",
            parent_keys={"session_id": "session_id"},
            position_col="utterance_id")),
        schema_of("sessions_transcripts"), "sessions_transcripts")


def transform_all(raw: dict[str, DataFrame], spark: SparkSession,
                  base_url: str = "https://app") -> dict[str, DataFrame]:
    """Full Transform: all 21 tables from raw nested entities."""
    out = transform_base_dicts(raw, spark)
    out.update(transform_sessions(raw["sessions"], base_url))
    if "transcripts" in raw:
        out["sessions_transcripts"] = transform_transcripts(raw["transcripts"])
    return out
