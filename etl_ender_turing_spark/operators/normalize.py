"""Declarative explode/flatten layer — the reference's signature operation.

Every ``pd.json_normalize(record_path=…, meta=…)`` call in the reference
(reference: ET-ETL-DWH-PY312/ETL/Transform.py:69-115,184-233; full inventory
in SURVEY.md §2.4) is an instance of one relational operation:

    explode an array-of-struct column, promote the struct fields to columns,
    carry parent key columns alongside (optionally prefixed/renamed).

This module expresses that once, declaratively. Semantics pinned to match
``json_normalize(record_path=...)``:

- INNER explode: rows with NULL/empty arrays contribute no child rows
  (json_normalize emits one row per list element; tests pin this).
- Parent keys are aliased before the explode so two-level flattens carrying
  meta from both levels (sessions_scores: session_id+scorecard_id+
  reviewer_id into point rows, Transform.py:209-218) never hit ambiguous
  column errors.
- Child-field renames and the post-flatten projection are part of the spec
  (e.g. category_labels keeps only [category_id, label_id],
  Transform.py:79-85).

Scale note: explode is narrow (no shuffle) — each input partition explodes
independently, so this layer costs zero exchanges at any scale; column
pruning through explode is handled by Catalyst (NestedColumnAliasing).

Every projection here is SQL text with quoted names, one ``selectExpr``
call each: the explode with its child-field promotion (one ``inline``
generator; ``posexplode`` and a second projection when the ordinal is
kept) and the ``keep`` projection. A Column object per carried key and
child field cost ~40 Py4J round trips apiece, which made plan building,
not execution, the bulk of a daily sync's transform. Names are taken
literally: a dot in a column or field name is part of the name, never a
nested-field path.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ..functions.sql_text import ident


@dataclass(frozen=True)
class FlattenSpec:
    """One explode-normalize: source entity → child table."""
    array_col: str                                  # array<struct> column
    parent_keys: dict[str, str] = field(default_factory=dict)  # src -> dst name
    child_renames: dict[str, str] = field(default_factory=dict)
    keep: tuple[str, ...] = ()                      # post-flatten projection
    child_prefix: str = ""                          # json_normalize record_prefix
    position_col: str = ""                          # posexplode ordinal column


def flatten(df: DataFrame, spec: FlattenSpec) -> DataFrame:
    """Explode ``spec.array_col``, promote struct fields, carry parent keys.

    ``position_col`` keeps the element's array ordinal (posexplode) — the
    synthetic within-parent key for child rows with no natural id, e.g.
    transcript utterances."""
    parents = [f"{ident(src)} AS {ident(dst)}"
               for src, dst in spec.parent_keys.items()]
    arr = ident(spec.array_col)
    fields = df.schema[spec.array_col].dataType.elementType.fieldNames()
    names = [spec.child_renames.get(f, spec.child_prefix + f) for f in fields]
    if spec.position_col:
        # no positional inline: posexplode, then promote the fields
        exploded = df.selectExpr(
            *parents, f"posexplode({arr}) AS ({ident(spec.position_col)}, `_c`)")
        out = exploded.selectExpr(
            *map(ident, [*spec.parent_keys.values(), spec.position_col]),
            *[f"`_c`.{ident(f)} AS {ident(n)}" for f, n in zip(fields, names)])
    else:
        # inline = explode + field promotion in one generator; a NULL
        # element still yields one all-NULL row, as explode + `_c`.f does
        out = df.selectExpr(
            *parents, f"inline({arr}) AS ({', '.join(map(ident, names))})")
    if spec.keep:
        out = out.selectExpr(*map(ident, spec.keep))
    return out


def flatten_two_level(df: DataFrame, outer: FlattenSpec, inner: FlattenSpec) -> DataFrame:
    """Chained explode for nested-in-nested records.

    Covers scorecards.categories.points (Transform.py:95-100),
    sessions.tags[].match[] (184-192) and sessions.scores[].point_scores[]
    (209-218): the outer flatten keeps level-1 meta columns, the inner
    flatten re-exports them as its parent keys.
    """
    mid = flatten(df, outer)
    return flatten(mid, inner)
