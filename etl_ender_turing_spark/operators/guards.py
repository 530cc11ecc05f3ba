"""Runtime scale guards — loud failures where a silent assumption would
turn a histogram-sized plan into a corpus-sized one.

The value-histogram pattern (curriculum buckets, PSI bin edges) windows
a ``groupBy(value)`` aggregate with a global ``Window.orderBy`` — fine
while values are quantized (integer scores, token counts: bounded
cardinality), but a caller passing a CONTINUOUS float column makes the
"histogram" corpus-sized and the unpartitioned window a single-reducer
corpus sort. That failure is silent (the query still answers); these
guards make it loud instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: Histogram rows a single-reducer window chews through in milliseconds;
#: anything past this is no longer a "value histogram" but a corpus.
MAX_VALUE_HISTOGRAM_CARDINALITY = 100_000


def bounded_value_histogram(df: DataFrame, value_col: str,
                            cnt_col: str = "_cnt",
                            max_cardinality: int =
                            MAX_VALUE_HISTOGRAM_CARDINALITY,
                            op: str = "operator") -> DataFrame:
    """(value, count) histogram of ``value_col``, materialized ONCE
    (eager localCheckpoint) and cardinality-checked before any caller
    runs a global window over it.

    The checkpoint makes the guard free: the corpus scan happens exactly
    once, the ``count()`` that enforces the bound reads checkpointed
    partition metadata, and downstream cumulative windows reuse the same
    materialized rows instead of recomputing the aggregate per branch.

    Raises ``ValueError`` when the distinct cardinality exceeds
    ``max_cardinality`` — the fix at the call site is to quantize the
    score first (``FLOOR(score * 100)``, a width_bucket, or
    ``percentile_disc`` pre-binning), never to widen the cap.
    """
    # local in every barrier mode: <= max_cardinality rows, not worth a cut dir
    vals = (df.groupBy(value_col)
            .agg(F.count(F.lit(1)).alias(cnt_col))
            .localCheckpoint(eager=True))
    n = vals.count()
    if n > max_cardinality:
        raise ValueError(
            f"{op}: column {value_col!r} has {n} distinct values"
            f" (> {max_cardinality}) — a continuous column here would"
            f" turn the value-histogram window into a single-reducer"
            f" corpus sort; quantize/bin the column first")
    return vals
