"""SparkSession factory with pinned, scale-aware defaults.

The reference pipeline is single-threaded pandas (no session concept); this
module is the engine's equivalent of its ``settings.py`` (reference:
ET-ETL-DWH-PY312/settings.py:1-64) — one place where runtime configuration
is pinned.

Defaults are chosen for correctness-stable, scale-ready behavior:
- AQE on (runtime shuffle-partition coalescing + skew-join splitting), so
  the same plan works at sf0.001 and at 100 TB.
- UTC session timezone (reference timestamps are naive ISO-8601; pinning
  UTC makes parsing deterministic across environments).
- Arrow enabled for any pandas interchange (mapInPandas / toPandas).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager
from types import SimpleNamespace

from py4j import protocol
from pyspark.sql import SparkSession

DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: reference semantics are permissive (bad casts -> NULL, like
    # pandas to_datetime(errors='coerce'); see functions/datetime_utils.py).
    "spark.sql.ansi.enabled": "false",
    # At 100 TB these would be set per-cluster; locally keep shuffle width
    # bounded so tests don't spawn 200 tiny tasks.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # zstd over default snappy: ~30% smaller parquet at comparable read
    # speed — at 100 TB that's tens of TB of storage and scan I/O saved.
    # (DuckDB/Arrow read zstd parquet natively — oracle parity verified.)
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.ui.enabled": "false",
    # Compatibility fallback: round-1 testdata carried TIMESTAMP(NANOS),
    # which the Spark parquet reader rejects without this conf; readers.py
    # branches on the observed schema, so micros/NTZ files are unaffected.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(app_name: str = "etl-ender-turing-spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``)
    so the same entry points run under the driver harness and in tests.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# the command Py4J sends to release a JVM object's Python reference
_PY4J_RELEASE = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME


@contextmanager
def count_py4j_calls(spark: SparkSession) -> Iterator[SimpleNamespace]:
    """Count the Py4J round trips made inside the block: every
    ``send_command`` of the session's gateway client, from any thread,
    except reference releases. Building a plan runs no Spark job, so this
    count (not a job count) is what its driver-side cost scales with.

    Py4J's finalizer thread sends one release per garbage-collected
    JavaObject whenever it gets to it, so releases of objects dropped
    before the block (a ``gc.collect()`` frees thousands) would land in
    the count at random.

        with count_py4j_calls(spark) as n:
            build(...)
        n.calls
    """
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    counter = SimpleNamespace(calls=0)

    def counting(command, *args, **kwargs):
        if not command.startswith(_PY4J_RELEASE):
            counter.calls += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield counter
    finally:
        client.send_command = send
