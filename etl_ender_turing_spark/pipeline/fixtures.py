"""Deterministic raw-input fixtures: the nested JSON shapes the reference's
API returns (per FIXTURES.md; field inventory from ETL/Extract.py +
ETL/schema.py comments). No RNG — every value is index arithmetic, so two
processes generate bit-identical fixtures.

These exercise every edge the transform must survive:
- empty arrays and missing-in-all-rows label arrays (KeyError path,
  Transform.py:78-87),
- sessions with no 'scores' (broken-scores dump path, Transform.py:205-207),
- out-of-bounds '0001-01-01T00:00:00' dates (utils.py:197-205),
- malformed start_dt with trailing tz garbage (regex salvage,
  Transform.py:245-250),
- users without id=0 (default-user injection, Transform.py:117-127),
- agents moving between groups (as-of association),
- caller_prev_session_id chains.

``raw_fixture_tables`` is the pipeline's Extract. The reference's
Extract writes its pull once for Transform to read (ETL/Extract.py,
ETL/Transform.py:55-297); here each entity's rows cross into the JVM
once, as one Arrow table, because each transform branch, semi-join key
side and sync pass scans them. A ``createDataFrame`` over a Python list
would be a parallelized Python RDD, so every job scanning it would run
its tasks through Python workers.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType


def _guid(i: int) -> str:
    h = f"{i:032x}"
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _ts(day: int, hour: int, minute: int, second: int = 0, micro: int = 0) -> str:
    return f"2024-06-{day:02d}T{hour:02d}:{minute:02d}:{second:02d}.{micro:06d}"


N_AGENTS, N_GROUPS, N_USERS, N_CATEGORIES, N_LABELS = 20, 5, 10, 15, 8
N_SCORECARDS, N_SC_CATS, N_SC_POINTS, N_TAGS = 3, 4, 5, 30
N_SESSIONS = 300


def raw_agents() -> list[dict]:
    rows = []
    for i in range(1, N_AGENTS + 1):
        groups = [{"id": (i % N_GROUPS) + 1, "start_dt": _ts(1, 8, 0)}]
        if i % 4 == 0:  # agent moved teams -> second association
            groups.append({"id": ((i + 1) % N_GROUPS) + 1, "start_dt": _ts(2, 9, 30)})
        if i == 7:      # out-of-bounds association date
            groups.append({"id": 3, "start_dt": "0001-01-01T00:00:00"})
        rows.append({
            "id": i, "name": f"Agent {i:02d}",
            "phone_number": f"+1555{i:07d}",
            "is_active": i % 5 != 0,
            "deactivated_at": None if i % 5 else _ts(2, 18, 0),
            "groups": groups,
            "user": f"drop-{i}", "reactions": "drop",
            "phone_number_aliases": [f"+1444{i:07d}"],
        })
    return rows


def raw_groups() -> list[dict]:
    return [{"id": g, "name": f"Group {g}",
             "scorecard_id": (g % N_SCORECARDS) + 1,
             "is_default": g == 1,
             "additional_scorecards": [1, 2]} for g in range(1, N_GROUPS + 1)]


def raw_labels() -> list[dict]:
    return [{"id": l, "text": f"label-{l}", "color": "#fff"}
            for l in range(1, N_LABELS + 1)]


def raw_categories() -> list[dict]:
    rows = []
    for c in range(1, N_CATEGORIES + 1):
        rows.append({
            "id": c, "name": f"Category {c}",
            "filter_data": f"&&[tags,||and|{2700 + c}|or]",
            "position": c,
            "created_at": _ts(1, 0, c),
            "updated_at": _ts(2 + (c % 2), 12, c, 30, 123456),
            # some categories have no labels; label arrays empty for others
            "labels": ([{"id": (c % N_LABELS) + 1}, {"id": ((c + 3) % N_LABELS) + 1}]
                       if c % 3 else []),
        })
    return rows


def raw_scorecards() -> list[dict]:
    rows = []
    for s in range(1, N_SCORECARDS + 1):
        cats = []
        for c in range(1, N_SC_CATS + 1):
            cid = s * 100 + c
            points = [{
                "id": cid * 10 + p, "scorecard_id": s, "category_id": cid,
                "name": f"Point {cid * 10 + p}", "description": f"desc {p}",
                "sort_order": p, "critical": p == 1, "max_score": 5 * p,
                "allow_partial_score": p % 2 == 0,
                "score_values": [0, 5 * p], "user_data": "drop",
            } for p in range(1, N_SC_POINTS + 1)]
            cats.append({"id": cid, "name": f"SC cat {cid}", "scorecard_id": s,
                         "sort_order": c, "points": points})
        rows.append({
            "id": s, "name": f"Scorecard {s}", "type": "quality",
            "na_behavior": "exclude", "count_critical_scores": s == 1,
            "is_automated": s == 2, "is_protected": False,
            "is_default": s == 1, "is_archived": False,
            "team_ids": [1, 2], "categories": cats,
        })
    return rows


def raw_tags() -> list[dict]:
    return [{
        "id": t, "name": f"tag-{t}", "type": "auto" if t % 2 else "manual",
        "team_id": (t % 3) + 1, "is_archived": t % 10 == 0,
        "archived_by_id": 1 if t % 10 == 0 else None,
        "archived_at": _ts(2, 10, 0) if t % 10 == 0 else None,
        "labels": [{"id": (t % N_LABELS) + 1}] if t % 4 else [],
        "words": ["w"], "phrases": ["p"], "color": "#000",
    } for t in range(1, N_TAGS + 1)]


def raw_users() -> list[dict]:
    # deliberately no id=0: the default "Ender Turing" user must be injected
    return [{
        "id": u, "email": f"user{u}@example.com", "is_active": True,
        "is_superuser": u == 1, "full_name": f"User {u}",
        "agent_id": u if u <= N_AGENTS else None,
        "agent_group_id": (u % N_GROUPS) + 1, "language": "en",
        "uuid": _guid(10_000 + u), "invite_expires": _ts(3, 0, 0),
        "role_ids": [1], "permissions": "drop",
    } for u in range(1, N_USERS + 1)]


def raw_sessions() -> list[dict]:
    rows = []
    for i in range(1, N_SESSIONS + 1):
        day = (i % 3) + 1                        # 3-day window
        hour = (i * 7) % 24                      # both half-day intervals
        sid = _guid(i)
        agent = (i % N_AGENTS) + 1
        has_scores = i % 11 != 0                 # some sessions miss scores
        has_reviewers = i % 3 == 0
        start = _ts(day, hour, (i * 13) % 60, (i * 29) % 60, (i * 171_137) % 1_000_000)
        if i % 37 == 0:                          # malformed -> regex salvage
            start = start + "+03:00extra"
        tags = []
        if i % 4 != 0:
            t1 = (i % N_TAGS) + 1
            t2 = ((i * 3) % N_TAGS) + 1
            if t2 == t1:                     # tags are a set per session
                t2 = (t2 % N_TAGS) + 1
            for t in (t1, t2):
                tags.append({"id": t, "match": [{
                    "score": ((i + t) % 100) / 100.0,
                    "matched_corpus_text": f"corpus {i} {t}",
                    "is_agent": (i + t) % 2 == 0,
                    "transcript_id": i * 100 + t,
                    "matched_query_text": f"query {t}",
                    "meta": f'{{"m": {t}}}',
                }]})
        scores = []
        if has_scores and i % 2 == 0:
            sc = (i % N_SCORECARDS) + 1
            scores.append({
                "scorecard_id": sc, "reviewer_id": (i % N_USERS) + 1,
                "point_scores": [
                    {"scorecard_point_id": (sc * 100 + 1) * 10 + p,
                     "score": (i + p) % 6, "comment": f"c{p}" if p == 1 else None}
                    for p in range(1, 4)],
            })
        rows.append({
            "id": sid,
            "type": ["call", "chat", "email", "ticket"][i % 4],
            "caller_id": f"+1222{(i % 50):07d}",
            "source": f"src{i % 5}",
            "language_code": ["en", "de", "es"][i % 3],
            "asr_size": "base", "filename": f"f{i}.wav",
            "destination_id": f"d{i % 9}",
            "start_dt": start,
            "end_dt": _ts(day, hour, 59),                    # dropped
            "created_at": _ts(day, hour, 0),                 # dropped
            "updated_at": _ts(day, min(hour + 1, 23), 0),    # dropped
            "direction": "inbound" if i % 2 else "outbound",
            "agent_id": agent, "group_id": (agent % N_GROUPS) + 1,
            "duration": 60.0 + i, "silence": float(i % 30),
            "silence_percent": (i % 30) / (60.0 + i),
            "agent_channel": i % 2, "comments_count": 1 if i % 6 == 0 else 0,
            "default_scorecard_id": (i % N_SCORECARDS) + 1,
            "average_score": ((i % 50) / 50.0) if has_scores else None,
            "is_processed": True,
            "overlaps_data": {"client": (i % 10) / 3.0, "agent": (i % 7) / 2.0},
            "duration_details": {"0": 33.5 + i, "1": 37.7 + i},
            "score_details": {
                "automated_score": ((i % 20) / 20.0) if i % 5 else None,
                "manual_score": ((i % 10) / 10.0) if has_reviewers else None},
            "queue_name": f"q{i % 3}", "campaign_name": f"camp{i % 4}",
            "term_reason": "completed", "waiting_time": i % 120,
            "fcr": i % 2, "csi": (i % 5) + 1, "nps": (i % 11),
            "list_id": i % 13,
            "words_count_agent": 100 + i, "words_count_client": 80 + i,
            "words_count_both": 180 + 2 * i,
            "caller_prev_session_id": _guid(i - 50) if i > 50 and i % 10 == 0 else None,
            "additional_info": f'{{"ticket_system_id": "{i}", "words_count": [12, {i}]}}',
            "tags": tags,
            "categories": ([{"id": (i % N_CATEGORIES) + 1, "is_verified": i % 2 == 0}]
                           if i % 5 else []),
            "reviewers": ([{"id": (i % N_USERS) + 1,
                            "last_reviewed_at": _ts(day, 23, 0, 44, 947_975)}]
                          if has_reviewers else []),
            "scores": scores if has_scores else None,
            "crm_statuses": ([{"crm_status": f"status-{i % 4}"}] if i % 7 else []),
            "comments": ([{"author_id": (i % N_USERS) + 1, "text": f"comment {i}",
                           "created_at": _ts(day, hour, 5),
                           "updated_at": _ts(day, hour, 6)}]
                         if i % 6 == 0 else []),
            "summary": ([{"text": f"summary of session {i}",
                          "created_at": _ts(day, hour, 7),
                          "updated_at": _ts(day, hour, 8)}]
                        if i % 2 == 0 else []),
            # input-only noise (drop-with-ignore, Transform.py:271-276)
            "emotions": "drop", "sentiments": "drop", "activity": "drop",
            "compliance_matches": "drop", "ptp_kept_prediction": "drop",
            "comment_author_ids": [1], "category_ids": [1],
            "low_quality": False, "events_call_id": f"e{i}",
        })
    return rows


def raw_transcripts() -> list[dict]:
    """Per-session utterance arrays (reference fetch:
    get-summaries-to-file.py:72-82; table stub schema.py:495-498).

    Values are constructed so transcript_metrics() reproduces EXACTLY the
    session's declared metrics (raw_sessions above): words_count_agent =
    100+i, words_count_client = 80+i, silence = i%30 (one leading gap; the
    overlapping third utterance must contribute nothing), duration = 60+i.
    Sessions with i % 7 == 0 have no transcript (fetch gap — parity joins
    must tolerate missing transcripts).
    """
    def words(prefix: str, n: int) -> str:
        return " ".join(f"{prefix}{j}" for j in range(n))

    rows = []
    for i in range(1, N_SESSIONS + 1):
        if i % 7 == 0:
            continue
        ach = i % 2                       # sessions.agent_channel
        cch = 1 - ach
        g = float(i % 30)                 # sessions.silence
        rows.append({
            "session_id": _guid(i),
            "agent_channel": ach,
            "utterances": [
                {"channel": ach, "start": 0.0, "end": 10.0,
                 "text": words("a", 99 + i)},
                {"channel": cch, "start": 10.0 + g, "end": 40.0 + g,
                 "text": words("c", 40)},
                # overlaps the previous utterance: must add no silence
                {"channel": cch, "start": 20.0 + g, "end": 50.0 + g,
                 "text": words("d", 40 + i)},
                {"channel": ach, "start": 50.0 + g, "end": 60.0 + float(i),
                 "text": "bye"},
            ],
        })
    return rows


_SESSIONS_DDL = """
    id string, type string, caller_id string, source string,
    language_code string, asr_size string, filename string,
    destination_id string, start_dt string, end_dt string,
    created_at string, updated_at string, direction string,
    agent_id long, group_id long, duration double, silence double,
    silence_percent double, agent_channel int, comments_count int,
    default_scorecard_id long, average_score double, is_processed boolean,
    overlaps_data struct<client:double, agent:double>,
    duration_details map<string,double>,
    score_details struct<automated_score:double, manual_score:double>,
    queue_name string, campaign_name string, term_reason string,
    waiting_time int, fcr int, csi int, nps int, list_id int,
    words_count_agent int, words_count_client int, words_count_both int,
    caller_prev_session_id string, additional_info string,
    tags array<struct<id:long, match:array<struct<score:double,
      matched_corpus_text:string, is_agent:boolean, transcript_id:long,
      matched_query_text:string, meta:string>>>>,
    categories array<struct<id:long, is_verified:boolean>>,
    reviewers array<struct<id:long, last_reviewed_at:string>>,
    scores array<struct<scorecard_id:long, reviewer_id:long,
      point_scores:array<struct<scorecard_point_id:long, score:int, comment:string>>>>,
    crm_statuses array<struct<crm_status:string>>,
    comments array<struct<author_id:long, text:string, created_at:string, updated_at:string>>,
    summary array<struct<text:string, created_at:string, updated_at:string>>,
    emotions string, sentiments string, activity string,
    compliance_matches string, ptp_kept_prediction string,
    comment_author_ids array<long>, category_ids array<long>,
    low_quality boolean, events_call_id string
"""

_DDL = {
    "sessions": _SESSIONS_DDL,
    "agents": """id long, name string, phone_number string, is_active boolean,
                 deactivated_at string, groups array<struct<id:long, start_dt:string>>,
                 user string, reactions string, phone_number_aliases array<string>""",
    "groups": """id long, name string, scorecard_id long, is_default boolean,
                 additional_scorecards array<long>""",
    "labels": "id long, text string, color string",
    "categories": """id long, name string, filter_data string, position int,
                     created_at string, updated_at string,
                     labels array<struct<id:long>>""",
    "scorecards": """id long, name string, type string, na_behavior string,
                     count_critical_scores boolean, is_automated boolean,
                     is_protected boolean, is_default boolean, is_archived boolean,
                     team_ids array<long>,
                     categories array<struct<id:long, name:string, scorecard_id:long,
                       sort_order:int, points:array<struct<id:long, scorecard_id:long,
                       category_id:long, name:string, description:string, sort_order:int,
                       critical:boolean, max_score:int, allow_partial_score:boolean,
                       score_values:array<int>, user_data:string>>>>""",
    "tags": """id long, name string, type string, team_id long, is_archived boolean,
               archived_by_id long, archived_at string,
               labels array<struct<id:long>>, words array<string>,
               phrases array<string>, color string""",
    "users": """id long, email string, is_active boolean, is_superuser boolean,
                full_name string, agent_id long, agent_group_id long,
                language string, uuid string, invite_expires string,
                role_ids array<long>, permissions string""",
    "transcripts": """session_id string, agent_channel int,
                      utterances array<struct<channel:int, start:double,
                        end:double, text:string>>""",
}

_GENERATORS = {
    "sessions": raw_sessions, "agents": raw_agents, "groups": raw_groups,
    "labels": raw_labels, "categories": raw_categories,
    "scorecards": raw_scorecards, "tags": raw_tags, "users": raw_users,
    "transcripts": raw_transcripts,
}


def raw_fixture_tables(spark: SparkSession) -> dict[str, DataFrame]:
    """All raw entity DataFrames with explicit schemas (never inferred).
    Same schemas and rows as ``spark.createDataFrame(gen(), _DDL[name])``,
    but the rows reach the JVM once, as an Arrow table, so no job over
    them runs a Python worker."""
    out = {}
    for name, gen in _GENERATORS.items():
        schema = DataType.fromDDL(_DDL[name])
        rows = pa.Table.from_pylist(gen(), schema=to_arrow_schema(schema))
        out[name] = spark.createDataFrame(rows, schema)
    return out
