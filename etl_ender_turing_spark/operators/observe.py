"""Progress/row counters (SURVEY §2.5 last row).

The reference logs a counter every 250 processed rows
(reference: ETL/Extract.py:84-85, ETL/Load.py:103-104, settings.py:17
``log_every``). Per-row logging is meaningless on a distributed engine;
the idiomatic equivalent is the ``Observation`` API: named metrics are
computed ON the action's own pass over the data (no second job, no
driver round-trips) and read on the driver after the action completes.
Streaming jobs get the same numbers from ``lastProgress``/
``StreamingQueryListener`` instead.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation, functions as F

log = logging.getLogger(__name__)


def with_row_metrics(df: DataFrame, name: str,
                     null_check_cols: list[str] | None = None
                     ) -> tuple[DataFrame, Observation]:
    """Attach an Observation counting rows (and NULL keys, the load-time
    data-quality signal the reference's per-row upsert surfaced by
    crashing). Read ``obs.get`` after the next action on ``df``."""
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in null_check_cols or []:
        metrics.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .alias(f"n_null_{c}"))
    obs = Observation(name)
    return df.observe(obs, *metrics), obs


def observed_metrics(obs: Observation) -> dict:
    """``obs.get``, or ``{}`` when the action saw no rows and Spark dropped
    the observed node: adaptive execution replaces a stage whose input is
    provably empty (an empty local relation, ``limit(0)``, a false filter)
    by an empty relation, observed nodes inside it included, and
    ``obs.get`` cannot convert the empty metrics row that is left."""
    if obs._jo is not None and obs._jo.getRow().length() == 0:
        return {}
    return obs.get


def log_metrics(obs: Observation, entity: str) -> dict:
    """Log and return the observed metrics (post-action)."""
    got = observed_metrics(obs)
    log.info("progress %s: %s", entity, got)
    return got
