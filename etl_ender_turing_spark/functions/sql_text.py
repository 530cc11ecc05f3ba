"""SQL-text building blocks: quoted identifiers, literals and type names.

Projections in the pipeline layers are written as SQL expression text, so
one projection reaches the JVM as one ``selectExpr``/``withColumns`` call
carrying one string per column. The same projection built from Column
objects costs ~40 Py4J round trips per column (every ``F.col``, ``cast``
and ``alias`` is a JVM call, and PySpark captures the Python call site of
each DataFrame call).

The text must mean the same under every parser setting a session may
carry:

- identifiers are backtick-quoted, so names with a dot, a space, a
  backtick or a reserved word (ANSI mode) are plain column names;
- a string literal holds no backslash and no quote, so it reads the
  same with and without ``spark.sql.parser.escapedStringLiterals`` (a
  raw ``r'…'`` literal does not: with that setting on, Spark 4.1 strips
  one character off each end, so ``r'x'`` reads ``'x``); any other string
  is spelled as its UTF-8 bytes;
- type names are spelled so the parser maps them back to the same
  DataType (``TIMESTAMP_LTZ``, not ``TIMESTAMP``, which follows
  ``spark.sql.timestampType``).
"""

from __future__ import annotations

from pyspark.sql import types as T


def ident(name: str) -> str:
    """``name`` as a backtick-quoted identifier."""
    return "`" + name.replace("`", "``") + "`"


def string_literal(s: str) -> str:
    """``s`` as a SQL string that no parser setting re-escapes: quoted
    as is when it holds no backslash or quote, else as its UTF-8 bytes
    cast back to a string."""
    if "\\" not in s and "'" not in s:
        return f"'{s}'"
    return f"CAST(X'{s.encode().hex()}' AS STRING)"


def literal(v: bool | int | str) -> str:
    """A Python scalar as the SQL literal ``F.lit`` would make of it
    (ints in the int32 range parse as INT, larger ones as BIGINT)."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return string_literal(v)
    raise TypeError(f"no SQL literal for {type(v).__name__}")


def type_sql(dt: T.DataType) -> str:
    """``dt`` as a SQL type name that parses back to ``dt``.

    SQL type syntax cannot mark an array element or a map value non-null,
    so a cast to such a type yields its nullable form."""
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{type_sql(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{type_sql(dt.keyType)}, {type_sql(dt.valueType)}>"
    if isinstance(dt, T.StructType):
        return "STRUCT<" + ", ".join(
            f"{ident(f.name)}: {type_sql(f.dataType)}"
            + ("" if f.nullable else " NOT NULL") for f in dt.fields) + ">"
    if isinstance(dt, T.TimestampType):
        return "TIMESTAMP_LTZ"
    return dt.simpleString()
