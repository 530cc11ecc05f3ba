"""Derived/enrichment columns over the sessions fact.

Re-expresses the reference's ``enrich_df_et`` (reference:
ET-ETL-DWH-PY312/ETL/Transform.py:30-42; Simplified-Scripts-Examples/
get-scores.py:49-61) as broadcast joins + built-in expressions:

- agent_id → agent_name, group_id → group_name via {id: name} dict lookups
  in the reference = broadcast hash joins here. The reference's dict lookup
  raises KeyError on a miss (inner-join-with-error); we use LEFT joins so
  misses surface as NULLs instead of crashing — documented delta.
- start_dt → start_date / start_time (HH:MM) string columns.
- et_link = '<base>/main/conversations/view?session_id=' || id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .datetime_utils import split_date_time_sql
from .sql_text import ident, string_literal

ET_LINK_PREFIX = "/main/conversations/view?session_id="


def et_link_sql(base_url: str, id_sql: str) -> str:
    """et_link over SQL text ``id_sql``: the one definition."""
    prefix = string_literal(base_url.rstrip("/") + ET_LINK_PREFIX)
    return f"concat({prefix}, {id_sql})"


def with_enrichment_columns(sessions: DataFrame, agents: DataFrame,
                            groups: DataFrame, base_url: str = "https://app") -> DataFrame:
    """Attach agent_name/group_name (broadcast), date/time split, et_link."""
    a = F.broadcast(agents.select(F.col("id").alias("agent_id"),
                                  F.col("name").alias("agent_name")))
    g = F.broadcast(groups.select(F.col("id").alias("group_id"),
                                  F.col("name").alias("group_name")))
    d, t = split_date_time_sql(ident("start_dt"))
    return (sessions
            .join(a, "agent_id", "left")
            .join(g, "group_id", "left")
            .withColumns({"start_date": F.expr(d), "start_time": F.expr(t),
                          "et_link": F.expr(et_link_sql(base_url, ident("id")))}))
