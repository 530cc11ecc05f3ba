"""Lineage-cut barrier — the single place operators cut a multi-consumer
(or iterative) plan, and the one cache of cuts shared across callers.

Why a barrier at all: Spark has no cross-consumer common-subexpression
elimination, so a frame feeding several branches re-executes its whole
upstream tree once per consumer, and iterative loops grow the logical
plan (and Catalyst re-analysis time) per round. The engine's operators
therefore break such plans at explicit points.

``lineage_cut(df)`` picks one of two modes from the session conf
``spark.etl.lineageCut.mode``; any other value raises ``ValueError``:

- ``local`` (default): ``localCheckpoint(eager=...)`` — one
  materialization, plan truncated, blocks GC-scoped to the frame. Its
  blocks are stored UNREPLICATED on executors, so on a real cluster an
  executor loss (including a dynamic-allocation decommission) makes the
  data unrecoverable and fails the job instead of recomputing.
- ``storage``: write parquet under ``spark.etl.lineageCut.dir`` (or
  ``spark.sql.warehouse.dir``/_lineage_cuts) and read it back — the
  fault-tolerant stage materialization a production pipeline does
  between stages; a lost executor re-reads the files. Always eager.

The conf is read per call, so a cluster deployment flips every barrier
site at once via ``get_spark(extra_conf={"spark.etl.lineageCut.mode":
"storage", ...})`` with no operator changes.

``shared_cut(df)`` returns ONE cut per plan-identical frame in an
application: the key is (``applicationId``, semantic hash of the
analyzed plan) — the canonicalized-plan equality Catalyst's own cache
lookup uses — so separately built frames over the same source scan
share one materialization. The application id keeps a stopped session's
dead frames from being handed out. Deterministic plans only: a cut of a
nondeterministic plan (``rand()``, ``uuid()``) would freeze one draw for
every later caller. Entries live until ``clear_shared_cuts()``; callers
that time full plans (bench, profilers) clear before each sample.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame

_MODE_CONF = "spark.etl.lineageCut.mode"
_DIR_CONF = "spark.etl.lineageCut.dir"
_MODES = ("local", "storage")

# (applicationId, analyzed-plan semantic hash) -> cut frame
_SHARED_CUTS: dict[tuple[str, int], DataFrame] = {}


def lineage_cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage per the session's barrier mode (see module
    docstring). ``eager`` only affects ``local`` mode: an eager cut
    materializes now (iterative loops want the barrier job to run
    inside the round), a lazy one on first action."""
    spark = df.sparkSession
    mode = spark.conf.get(_MODE_CONF, "local")
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode != "storage":
        raise ValueError(f"{_MODE_CONF}={mode!r}: expected one of {_MODES}")
    base = spark.conf.get(_DIR_CONF, None)
    if not base:
        wh = spark.conf.get("spark.sql.warehouse.dir")
        base = wh.rstrip("/") + "/_lineage_cuts"
    path = f"{base}/cut-{uuid.uuid4().hex}"
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def shared_cut(df: DataFrame) -> DataFrame:
    """The single ``lineage_cut`` of every plan-identical frame in this
    application (see module docstring; deterministic plans only)."""
    key = (df.sparkSession.sparkContext.applicationId,
           df._jdf.queryExecution().analyzed().semanticHash())
    cut = _SHARED_CUTS.get(key)
    if cut is None:
        cut = _SHARED_CUTS[key] = lineage_cut(df)
    return cut


def clear_shared_cuts() -> None:
    """Drop every shared cut. Local cuts are localCheckpoint-backed, so
    there is nothing to unpersist: the ContextCleaner releases their
    blocks once the dropped references are GC'd."""
    _SHARED_CUTS.clear()
