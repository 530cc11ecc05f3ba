"""Structured Streaming flavor of the sync pipeline.

The reference is a cron micro-batch loop with hand-rolled streaming
concerns (reference: DOCS/README.MD:60-65 cron; ETL/utils.py:20-38
watermark file; run-et-etl.py:66-116 30-day late-data lookback;
ETL/Load.py:101-162 idempotent upsert sink). Structured Streaming
formalizes each one:

    cron trigger            -> trigger(availableNow=True) / processingTime
    last_synced.json        -> checkpointLocation offsets
    30-day lookback         -> withWatermark("updated_at", "30 days")
    upsert-by-unique-key    -> foreachBatch(merge) (idempotent per epoch)

These builders return running StreamingQuery objects; callers own
awaitTermination/stop. Tests drive them with availableNow over a parquet
directory and assert exact parity with the batch pipeline on the same
data — the reference's "incremental == full resync" invariant (SURVEY §5.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..operators.upsert import upsert_parquet

_TTL_UNIT_MS = {"day": 86_400_000, "days": 86_400_000,
                "hour": 3_600_000, "hours": 3_600_000,
                "minute": 60_000, "minutes": 60_000,
                "second": 1_000, "seconds": 1_000}


def _parse_ttl_ms(state_ttl: str) -> int:
    """Parse a ``"30 days"``-style TTL into milliseconds, raising
    ``ValueError`` (not AttributeError/KeyError) on anything that is not
    ``<int> <unit>`` with a supported unit — the single parser for every
    ``state_ttl`` knob in this module."""
    import re as _re
    m = _re.fullmatch(r"\s*(\d+)\s*(\w+)\s*", state_ttl)
    if m is None or m.group(2) not in _TTL_UNIT_MS:
        raise ValueError(
            f"state_ttl must be '<int> <unit>' with unit in "
            f"{sorted(set(_TTL_UNIT_MS))}, got {state_ttl!r}")
    return int(m.group(1)) * _TTL_UNIT_MS[m.group(2)]


EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def read_event_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream: each new parquet file in the directory is a
    micro-batch — the streaming analogue of the reference's per-interval
    paginated scans (Extract.py:23-64)."""
    return (spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 4)
            .parquet(source_dir))


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours",
                          slide: str | None = None) -> DataFrame:
    """Late-tolerant windowed counts: tumbling by default, SLIDING when
    ``slide`` < ``window`` — each event then lands in window/slide
    overlapping windows before the same stateful agg (SURVEY §2.9
    'Windows' row; the overlap factor bounds state fan-out)."""
    win = (F.window("ts", window, slide) if slide is not None
           else F.window("ts", window))
    return (events.withWatermark("ts", watermark)
            .groupBy(win.alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 # decimal-exact sum: reduction order never changes the value
                 F.expr("CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)")
                 .alias("sum_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n_events", "sum_value"))


def incremental_sync_stream(spark: SparkSession, source_dir: str,
                            target_path: str, checkpoint_dir: str,
                            key=("event_id",)):
    """The reference's EP1 incremental sync as a streaming upsert:
    every micro-batch MERGEs into the target by unique key via
    foreachBatch — idempotent, so replayed epochs converge (exactly-once
    table semantics without a transactional store)."""
    events = read_event_stream(spark, source_dir)

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # an empty micro-batch leaves the target as it is (upsert_parquet)
        upsert_parquet(batch_df.sparkSession, batch_df, target_path,
                       list(key), order_col="ts")

    return (events.writeStream
            .foreachBatch(merge_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def _events_schema_with_ts(ts_type: T.DataType) -> T.StructType:
    return T.StructType([f if f.name != "ts" else T.StructField("ts", ts_type)
                         for f in EVENTS_SCHEMA.fields])


def open_event_stream(spark: SparkSession, source_dir: str,
                      glob_filter: str | None = None) -> DataFrame:
    """Schema-probed streaming reader for the events table with the ts
    normalization every stream query needs.

    File streams need an explicit schema, and the driver's events.parquet
    has shipped different physical timestamp types across rounds
    (TIMESTAMP(NANOS) → epoch-nano long under nanosAsLong; timestamp[us] →
    TIMESTAMP_NTZ). Probe the batch-read schema and branch on what is
    actually there — never pin an assumption (FIXTURES.md ts contract).
    """
    # same compatibility fallback as readers.read_table: a NANOS file is
    # unreadable without this conf; harmless for micros/NTZ files
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = spark.read
    if glob_filter is not None:
        probe = probe.option("pathGlobFilter", glob_filter)
    ts_type = probe.parquet(source_dir).schema["ts"].dataType
    reader = spark.readStream.schema(_events_schema_with_ts(ts_type))
    if glob_filter is not None:
        # file streams need a directory basePath; a glob narrows it to the
        # one table file inside the shared testdata dir
        reader = reader.option("pathGlobFilter", glob_filter)
    events = reader.parquet(source_dir)
    if isinstance(ts_type, T.LongType):
        # integer `div`, NOT `/`: epoch-nanos exceed double's 53-bit mantissa
        events = events.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif not isinstance(ts_type, T.TimestampType):
        # TIMESTAMP_NTZ → session-local timestamp; value-preserving under
        # the pinned-UTC session
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events


def run_windowed_counts_batch(spark: SparkSession, source_dir: str,
                              checkpoint_dir: str, window: str = "1 hour",
                              glob_filter: str | None = None,
                              slide: str | None = None,
                              query_name: str = "windowed_counts_result"
                              ) -> DataFrame:
    """Run the windowed-count stream to completion over the files currently
    in ``source_dir`` (availableNow) and return the materialized result.

    All files land in a single micro-batch (no maxFilesPerTrigger), so the
    watermark drops nothing and the result equals the batch GROUP BY — which
    is exactly the oracle the catalog checks it against. The memory sink is
    per-query-name; checkpoints are caller-owned and disposable. Schema
    probing and ts normalization live in :func:`open_event_stream`.
    """
    events = open_event_stream(spark, source_dir, glob_filter)
    counts = windowed_event_counts(events, window=window, slide=slide)
    q = (counts.writeStream
         .format("memory").queryName(query_name)
         .outputMode("complete")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(query_name)


def stateful_dedup_stream(spark: SparkSession, source_dir: str,
                          key_col: str = "event_id",
                          state_ttl: str | None = None) -> DataFrame:
    """Cross-micro-batch exactly-first dedup via ``applyInPandasWithState``
    — the custom stateful-operator shape (SURVEY §2.9; the batch
    equivalent is dedup-by-key upsert, operators/upsert.py).

    Keyed boolean state marks ids already emitted; later arrivals of the
    same key (any micro-batch) produce nothing.

    ``state_ttl`` (e.g. ``"30 days"``) bounds the state store for a
    continuous deployment: expiry rides the EVENT-TIME watermark — each
    key's state times out ``state_ttl`` after its event time passes the
    watermark, after which a re-delivered key is treated as new. None
    keeps forever-uniqueness (the batch-parity form the oracle certifies).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = read_event_stream(spark, source_dir)
    out_schema = ("event_id long, ts timestamp, user_id long,"
                  " event_type string, value double")
    ttl_ms = None
    if state_ttl is not None:
        ttl_ms = _parse_ttl_ms(state_ttl)
        events = events.withWatermark("ts", state_ttl)
    # event times arrive in pandas tz-NAIVE but rendered in the SESSION
    # timezone; bare .timestamp() would read them as UTC and offset the
    # timeout by the zone delta on any non-UTC session — localize
    # explicitly (captured here, not inside the UDF, so executors see it)
    session_tz = spark.conf.get("spark.sql.session.timeZone")

    def first_only(key, pdf_iter, state: GroupState):
        batches = [pdf for pdf in pdf_iter]
        if state.hasTimedOut:        # TTL passed: forget the key
            state.remove()
            return iter(())
        if ttl_ms is not None and batches:
            # DST-observing session zones have ambiguous (fall-back) and
            # nonexistent (spring-forward) wall times; a bare localize
            # raises and kills the micro-batch for events landing in the
            # transition hour — resolve deterministically instead
            ts_ms = int(max(pdf["ts"].max() for pdf in batches)
                        .tz_localize(session_tz, ambiguous=True,
                                     nonexistent="shift_forward")
                        .timestamp() * 1000)
            # admitted-late rows can carry ts + ttl <= current watermark,
            # for which setTimeoutTimestamp throws — clamp the timeout
            # just past the watermark (the key then expires at the next
            # state round, the semantics the TTL intends for a key whose
            # whole window is already late)
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(ts_ms + ttl_ms, wm + 1))
        if state.exists:
            return iter(())
        state.update((True,))
        first = (pd.concat(batches).sort_values("ts")
                 [["event_id", "ts", "user_id", "event_type", "value"]]
                 .head(1))
        return iter([first])

    timeout = (GroupStateTimeout.EventTimeTimeout if ttl_ms is not None
               else GroupStateTimeout.NoTimeout)
    return (events.groupBy(key_col)
            .applyInPandasWithState(first_only, out_schema, "seen boolean",
                                    "append", timeout))


def sessionized_counts_stream(spark: SparkSession, source_dir: str,
                              gap: str = "30 minutes") -> DataFrame:
    """Session windows with gap timeout — the stateful-operator shape
    (Structured Streaming session_window; batch equivalent is
    q_sessionize_events in the catalog)."""
    events = read_event_stream(spark, source_dir)
    return (events.withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "user_id", "n_events"))


DOCS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])


def quality_gated_doc_stream(spark: SparkSession, source_dir: str,
                             min_tokens: int = 40,
                             glob_filter: str | None = None) -> DataFrame:
    """Streaming ingest-time document gating: the textstats battery
    (token counts, stopword ratio, fingerprint, PII redaction) applied to
    a document stream, keeping only docs above the token floor.

    Every expression is a narrow projection, so the streaming plan is the
    batch plan verbatim — no state, no watermark needed; the parity test
    pins stream == batch on identical files. This is how the LLM-pipeline
    operators run at ingest time rather than as a backfill.
    """
    from ..operators.textstats import fingerprint, pii_columns, quality_columns

    reader = spark.readStream.schema(DOCS_SCHEMA)
    if glob_filter is not None:
        reader = reader.option("pathGlobFilter", glob_filter)
    docs = reader.parquet(source_dir)
    q = quality_columns("text")
    pii = pii_columns("text")
    return (docs.select(
        "doc_id", "source",
        q["n_tokens"].alias("n_tokens"),
        q["stopword_ratio"].alias("stopword_ratio"),
        fingerprint("text").alias("fingerprint"),
        pii["redacted"].alias("clean_text"))
        .filter(F.col("n_tokens") >= min_tokens))


def lm_scored_doc_stream(spark: SparkSession, source_dir: str,
                         counts: DataFrame,
                         glob_filter: str | None = None) -> DataFrame:
    """Streaming ingest-time LM scoring — CCNet's perplexity gate in the
    shape it actually runs in production: the count model is trained in
    BATCH (`operators/lm.train_ngram_counts`, persisted like any index)
    and every arriving document is scored as it lands.

    The batch scorer's five left joins would make the stream stateful;
    instead the count tables collapse to THREE vocab maps + the total in
    ONE static row, equi-joined (broadcast) into the stream, and each
    doc computes its surprisal in a per-row fold — the identical
    backoff CASE and 6dp-floor/decimal-sum arithmetic as the batch
    operator (decimal addition is exact, so the fold's in-order sum
    equals the batch groupBy's any-order sum). Fully STATELESS: no
    watermark, no state store; the certifying oracle is the SAME SQL as
    q_lm_scores. Vocab maps are vocabulary-bounded — the broadcast-dim
    class, not the corpus class.
    """
    import re as _re

    from ..operators.lm import _P_CASE, _TOK_SPARK

    def _m(ordn: int) -> F.Column:
        return F.expr(f"map_from_entries(collect_list("
                      f"CASE WHEN ord = {ordn} THEN struct(gram, cnt)"
                      f" END))")

    model = (counts.groupBy()
             .agg(_m(1).alias("m1"), _m(2).alias("m2"), _m(3).alias("m3"),
                  F.sum(F.when(F.col("ord") == 1, F.col("cnt")))
                  .cast("long").alias("total"),
                  F.lit(1).alias("_k")))

    # the batch CASE verbatim, its count columns rebound to the struct
    # fields looked up from the maps ('\b' so cb does not eat cbx)
    case = _re.sub(r"\b(c3|cbx|cb|cux|cu)\b", r"s.\1", _P_CASE)
    # the step re-cast keeps the accumulator at DECIMAL(28,6) (decimal
    # addition widens to (29,6), which aggregate() rejects); lossless —
    # per-term magnitude is bounded by -ln(alpha²/total) ≈ tens of nats
    fold = f"""
        CAST(aggregate(_pos, CAST(0 AS DECIMAL(28,6)),
          (acc, s) -> CAST(acc + CAST(FLOOR(-ln({case}) * 1000000 + 0.5)
                                      / 1000000 AS DECIMAL(28,6))
                           AS DECIMAL(28,6))) AS DOUBLE)
    """

    reader = spark.readStream.schema(DOCS_SCHEMA)
    if glob_filter is not None:
        reader = reader.option("pathGlobFilter", glob_filter)
    docs = reader.parquet(source_dir)
    toks = (docs.join(F.broadcast(model), F.lit(1) == F.col("_k"))
            .select("doc_id", "m1", "m2", "m3", "total",
                    F.expr(_TOK_SPARK.format(col="text")).alias("t"))
            .filter(F.expr("size(t) >= 3")))
    # positions bound as a real column before the fold (no CSE inside
    # HOF lambdas — see the char-entropy precedent)
    pos = toks.select("doc_id", "total", F.expr("""
        transform(sequence(3, size(t)), i -> struct(
          element_at(m3, concat_ws(' ', element_at(t, i - 2),
              element_at(t, i - 1), element_at(t, i))) AS c3,
          element_at(m2, concat_ws(' ', element_at(t, i - 2),
              element_at(t, i - 1))) AS cbx,
          element_at(m2, concat_ws(' ', element_at(t, i - 1),
              element_at(t, i))) AS cb,
          element_at(m1, element_at(t, i - 1)) AS cux,
          element_at(m1, element_at(t, i)) AS cu))""").alias("_pos"))
    return pos.select(
        "doc_id",
        F.expr("size(_pos)").cast("long").alias("n_scored"),
        (F.expr(fold) / F.expr("CAST(size(_pos) AS DOUBLE)"))
        .alias("mean_nll"))


def run_lm_gate_batch(spark: SparkSession, source_dir: str,
                      checkpoint_dir: str, counts: DataFrame,
                      glob_filter: str | None = None) -> DataFrame:
    """Drive the LM-scoring stream to completion (availableNow) and
    return the materialized result for parity/oracle checks."""
    scored = lm_scored_doc_stream(spark, source_dir, counts, glob_filter)
    q = (scored.writeStream.format("memory").queryName("lm_gate_result")
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table("lm_gate_result")


def run_quality_gate_batch(spark: SparkSession, source_dir: str,
                           checkpoint_dir: str, min_tokens: int = 40,
                           glob_filter: str | None = None) -> DataFrame:
    """Drive the quality-gate stream to completion (availableNow) and
    return the materialized result for parity checks."""
    gated = quality_gated_doc_stream(spark, source_dir, min_tokens,
                                     glob_filter)
    q = (gated.writeStream.format("memory").queryName("quality_gate_result")
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table("quality_gate_result")


def run_sessionized_counts_batch(spark: SparkSession, source_dir: str,
                                 checkpoint_dir: str,
                                 gap: str = "30 minutes",
                                 glob_filter: str | None = None) -> DataFrame:
    """Drive a ``session_window`` stream to completion (availableNow,
    complete output — no watermark cutoff, so EVERY session emits) and
    return the materialized sessions for value-level oracle comparison.

    Same observed-schema timestamp probing as
    :func:`run_windowed_counts_batch` (FIXTURES.md ts contract).
    """
    # same compatibility fallback as readers.read_table: a NANOS file is
    # unreadable without this conf; harmless for micros/NTZ files
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = spark.read
    if glob_filter is not None:
        probe = probe.option("pathGlobFilter", glob_filter)
    ts_type = probe.parquet(source_dir).schema["ts"].dataType
    reader = spark.readStream.schema(_events_schema_with_ts(ts_type))
    if glob_filter is not None:
        reader = reader.option("pathGlobFilter", glob_filter)
    events = reader.parquet(source_dir)
    if isinstance(ts_type, T.LongType):
        events = events.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif not isinstance(ts_type, T.TimestampType):
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    sessions = (events
                .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
                .agg(F.count(F.lit(1)).alias("n_events"))
                .select(F.col("w.start").alias("session_start"),
                        F.col("w.end").alias("session_end"),
                        "user_id", "n_events"))
    q = (sessions.writeStream
         .format("memory").queryName("session_counts_result")
         .outputMode("complete")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table("session_counts_result")


def enriched_segment_counts(events: DataFrame,
                            customer: DataFrame) -> DataFrame:
    """Stream-static enrichment join + aggregation (SURVEY §2.9 composed
    with §2.3's dim-lookup): each micro-batch joins the STATIC customer
    dimension — Spark re-plans the join per micro-batch, so AQE sizes
    the join each batch: a dim under the auto-broadcast threshold is
    broadcast with no stream-side shuffle; a dim that has grown past it
    degrades to a shuffled join instead of an executor OOM. `customer`
    is an SF-SCALING table, so no explicit broadcast hint here — a hint
    would override AQE's size estimate at every scale (the batch
    catalog's no-hint plan gate, extended to streaming builders in r8,
    pins this). At 100 TB-of-stream scale the production shape is the
    same: snapshot-join the dim (e.g. via Delta) and let AQE pick the
    strategy; the agg state store holds only segment-cardinality keys.
    """
    dim = customer.select(F.col("c_custkey").alias("user_id"),
                          "c_mktsegment")
    return (events.join(dim, "user_id")
            .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.expr("CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)")
                 .alias("sum_value")))


def run_enriched_segments_batch(spark: SparkSession, source_dir: str,
                                checkpoint_dir: str,
                                customer: DataFrame,
                                glob_filter: str | None = None) -> DataFrame:
    """Run the stream-static enrichment to completion (availableNow, memory
    sink) — single micro-batch over static input, so the result equals the
    batch join + GROUP BY oracle."""
    events = open_event_stream(spark, source_dir, glob_filter)
    out = enriched_segment_counts(events, customer)
    q = (out.writeStream
         .format("memory").queryName("enriched_segments_result")
         .outputMode("complete")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table("enriched_segments_result")


def stream_stream_attribution(purchases: DataFrame,
                              clicks: DataFrame) -> DataFrame:
    """Stream-stream interval join (SURVEY §2.9 composed with the §2.3
    range join): purchases joined to the SAME user's clicks in the
    trailing hour, both sides unbounded streams.

    The streaming-native form of ``q_range_join_attribution``: both sides
    carry watermarks, and the join condition bounds click time to
    [purchase_ts - 1 h, purchase_ts), so Spark can size the join state —
    the click side keeps at most (watermark + 1 h) of history per user
    key, the purchase side (watermark) — and evict rows as the watermarks
    advance. Without the time bound the state store would grow without
    limit; with it this is the canonical bounded-state shape for
    100 TB-scale stream-stream joins. Inner join: append-mode rows emit
    as soon as both sides have arrived (aggregation happens downstream,
    or batch-side as in the parity test).
    """
    p = (purchases.select(F.col("event_id").alias("p_id"),
                          F.col("user_id"),
                          F.col("ts").alias("p_ts"))
         .withWatermark("p_ts", "2 hours"))
    c = (clicks.select(F.col("user_id").alias("c_user"),
                       F.col("event_id").alias("c_id"),
                       F.col("ts").alias("c_ts"))
         .withWatermark("c_ts", "3 hours"))
    return p.join(
        c, (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
        "inner").select("p_id", "user_id", "c_id")


def run_stream_stream_attribution_batch(spark: SparkSession, source_dir: str,
                                        checkpoint_dir: str,
                                        glob_filter: str | None = None
                                        ) -> DataFrame:
    """Drive the stream-stream join to completion (availableNow, memory
    sink, append mode). Two independent file-source streams over the same
    directory — a genuine stream-stream join, not a self-join alias."""
    p = (open_event_stream(spark, source_dir, glob_filter)
         .filter(F.col("event_type") == "purchase"))
    c = (open_event_stream(spark, source_dir, glob_filter)
         .filter(F.col("event_type") == "click"))
    out = stream_stream_attribution(p, c)
    q = (out.writeStream
         .format("memory").queryName("stream_stream_attribution_result")
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table("stream_stream_attribution_result")


def watermarked_dedup_stream(events: DataFrame,
                             key_col: str = "event_id",
                             watermark: str = "2 hours") -> DataFrame:
    """Built-in bounded-state stream dedup: ``dropDuplicatesWithinWatermark``
    keeps each key's state only until the watermark passes it, so the state
    store is bounded by the watermark horizon — the engine-native
    complement to :func:`stateful_dedup_stream`'s custom exactly-first
    state (which never expires without an explicit TTL). Use this form
    when "duplicate" means re-delivery within the lateness window (queue
    redelivery, at-least-once sources) rather than forever-uniqueness.
    """
    return (events.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark([key_col]))


def run_watermarked_dedup_batch(spark: SparkSession, source_dir: str,
                                checkpoint_dir: str,
                                glob_filter: str | None = None) -> DataFrame:
    """Drive the watermarked dedup to completion (availableNow, append)."""
    events = open_event_stream(spark, source_dir, glob_filter)
    out = watermarked_dedup_stream(events)
    q = (out.writeStream
         .format("memory").queryName("wm_dedup_result")
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table("wm_dedup_result")


COMPACT_EVERY_N_BATCHES = 8


def run_api_stream_sync(spark: SparkSession, warehouse: str,
                        checkpoint_dir: str, start: str, stop: str,
                        endpoint: str | None = None,
                        token: str | None = None,
                        compact_every: int = COMPACT_EVERY_N_BATCHES) -> DataFrame:
    """End-to-end STREAMING session sync: the custom session-API stream
    source (durable interval offsets) MERGE-upserted into the warehouse
    per micro-batch — the reference's whole cron lifecycle
    (extract -> load, README.MD:60-65) as one Structured Streaming query.

    foreachBatch + key-upsert is idempotent per epoch, and the source's
    offset log skips already-ingested intervals on restart: re-running
    after a crash neither re-fetches nor duplicates — the exactly-once
    behavior the reference approximates with last_synced.json + per-row
    MERGE.

    Small-file maintenance rides the SAME foreachBatch hook: every
    ``compact_every`` micro-batches the target is rewritten into
    ~target_mb files (sources/maintenance.compact_parquet). Inside
    foreachBatch no other reader/writer touches the table between
    batches, which is exactly the no-concurrent-reader window the
    two-rename swap requires; a long run's file count stays bounded at
    O(compact_every + keys/target-file-size) instead of growing with
    every epoch. ``compact_every=0`` disables.
    """
    import os

    from ..operators.upsert import upsert_parquet
    from ..sources.api_source import register
    from ..sources.maintenance import compact_parquet

    register(spark)
    stream = (spark.readStream.format("session_api")
              .option("start", start).option("stop", stop))
    if endpoint:
        stream = stream.option("endpoint", endpoint)
    if token:
        stream = stream.option("token", token)
    target = os.path.join(warehouse, "sessions_stream")
    # epoch ids are monotone but not dense across restarts — count batches
    # seen by THIS run locally; compaction cadence is maintenance policy,
    # not state, so it doesn't need to survive restarts
    seen = {"n": 0}

    def merge(batch_df: DataFrame, _epoch: int) -> None:
        upsert_parquet(spark, batch_df, target, key=["id"])
        seen["n"] += 1
        if compact_every and seen["n"] % compact_every == 0:
            compact_parquet(spark, target)

    q = (stream.load()
         .writeStream.foreachBatch(merge)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.read.parquet(target)


def capped_doc_stream(spark: SparkSession, source_dir: str, cap: int = 10,
                      quality_col: str = "n_chars",
                      glob_filter: str | None = None) -> DataFrame:
    """Streaming per-source head cap — the stateful-COUNTER operator
    (``applyInPandasWithState`` keeping an admitted-count per source),
    the ingest-time twin of ``sampling.source_head_cap``: no single
    site/source may ship more than ``cap`` documents into the corpus.

    Each state round sorts its arrivals by (quality desc, id) and admits
    until the counter hits the cap, stamping ``rank_in_source``
    continuously across rounds. When the data lands in one availableNow
    round the decision is EXACTLY the batch window's (the certified
    parity — the oracle is source_head_cap's own SQL); across rounds it
    degrades to best-of-each-arrival-wave, which is the semantics a live
    frontier wants anyway — an already-shipped doc cannot be retracted
    when a better one arrives later. Counter state is one long per
    source: state size = |sources|, never corpus-bound.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    reader = spark.readStream.schema(DOCS_SCHEMA)
    if glob_filter is not None:
        reader = reader.option("pathGlobFilter", glob_filter)
    docs = reader.parquet(source_dir)
    out_schema = (f"doc_id long, source string, {quality_col} long,"
                  " rank_in_source long")

    def admit(key, pdf_iter, state: GroupState):
        pdf = pd.concat(list(pdf_iter))
        n = state.get[0] if state.exists else 0
        if pdf.empty or n >= cap:
            return iter(())
        take = (pdf.sort_values([quality_col, "doc_id"],
                                ascending=[False, True])
                .head(cap - n).copy())
        take["rank_in_source"] = range(n + 1, n + 1 + len(take))
        state.update((n + len(take),))
        return iter([take[["doc_id", "source", quality_col,
                           "rank_in_source"]]])

    return (docs.groupBy("source")
            .applyInPandasWithState(admit, out_schema, "n long",
                                    "append", GroupStateTimeout.NoTimeout))


def run_capped_docs_batch(spark: SparkSession, source_dir: str,
                          checkpoint_dir: str, cap: int = 10,
                          quality_col: str = "n_chars",
                          glob_filter: str | None = None) -> DataFrame:
    """Drive the per-source cap stream to completion (availableNow)."""
    capped = capped_doc_stream(spark, source_dir, cap, quality_col,
                               glob_filter)
    q = (capped.writeStream.format("memory").queryName("capped_docs_result")
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table("capped_docs_result")


def neardup_gate_stream(spark: SparkSession, source_dir: str,
                        n_hashes: int = 8, rows_per_band: int = 2,
                        glob_filter: str | None = None,
                        state_ttl: str | None = None) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate gate: flag each arriving doc
    whose LSH band signature was already seen — the ingest-time twin of
    the batch ``q_dedup_minhash_lsh`` family, and the missing NEAR-dup
    member of the stateful family (exactly-first dedup is byte-identity;
    a crawl re-fetches the same article with a new timestamp footer and
    byte-identity never fires).

    Dataflow: signatures come from ``dedup.minhash_signatures_inline`` —
    shingling and per-family mins as array HOFs in ONE projection, so the
    stream needs NO aggregation before its single stateful op (a
    groupBy-min signature would be a second stateful operator, which
    Structured Streaming append-mode cannot stack). Docs shorter than the
    shingle width carry no signature and bypass the gate (a production
    pipeline unions them back as unique). Signatures melt to
    (band, band_hash) rows; state — keyed by the band bucket, ONE long
    (the bucket's first doc id) per distinct band hash ever seen — marks
    every later arrival. Per-doc verdicts are a batch ``bool_or`` over
    the completed output (any band seen ⇒ near-dup suspect).

    Semantics across arrival waves: first-owner-wins, monotone — a
    shipped doc is never retracted when its twin arrives later; the twin
    is flagged. When all data lands in one availableNow round the
    verdict equals the batch window exactly: doc flagged ⟺ it shares a
    band with a smaller id ⟺ it appears as doc_b in the batch pair
    generator — so the ORACLE is the batch family's own pairs CTE.
    State size = distinct band hashes (vocabulary-scale, not pair-scale).

    ``state_ttl`` (e.g. ``"30 minutes"``): an arrival whose band owner
    was last seen longer ago than the TTL treats the bucket as empty and
    takes ownership — forget-on-arrival, the part of expiry dedup
    CORRECTNESS needs. It is deliberately NOT a ProcessingTimeTimeout
    timer: availableNow + processing-time timers spins in "no new data
    but cleaning up state" micro-batches and the run never terminates
    (measured: 90 s / 90+ epochs for 4 keys); never-touched cold keys
    are instead GC'd at the state-store layer (RocksDB state store with
    a maintenance TTL) or by periodic checkpoint compaction — the
    documented production pairing. None (the certified form) keeps
    first-owner state forever, which single-round oracle parity
    requires.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators import dedup as dd

    reader = spark.readStream.schema(DOCS_SCHEMA)
    if glob_filter is not None:
        reader = reader.option("pathGlobFilter", glob_filter)
    docs = reader.parquet(source_dir)
    sigs = dd.minhash_signatures_inline(docs, n_hashes=n_hashes)
    n_bands = n_hashes // rows_per_band
    stack = ", ".join(
        "'{b}', concat({cols})".format(
            b=b, cols=", ".join(f"h{b * rows_per_band + r}"
                                for r in range(rows_per_band)))
        for b in range(n_bands))
    melted = sigs.selectExpr(
        "doc_id", f"stack({n_bands}, {stack}) AS (band, h)")

    return _band_owner_gate(melted, state_ttl)


def _band_owner_gate(melted: DataFrame,
                     state_ttl: str | None = None) -> DataFrame:
    """Shared first-owner band gate over (doc_id, band, h) rows — the
    stateful core of both the MinHash text gate and the perceptual-hash
    image gate (state: one owner id + last-seen ms per distinct band
    hash; see :func:`neardup_gate_stream` for the TTL semantics)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = _parse_ttl_ms(state_ttl) if state_ttl is not None else None

    def gate(key, pdf_iter, state: GroupState):
        import time as _time

        pdf = pd.concat(list(pdf_iter)).sort_values("doc_id")
        if pdf.empty:
            return iter(())
        now_ms = int(_time.time() * 1000)
        fresh = state.exists
        if fresh and ttl_ms is not None:
            # forget-on-arrival: a stale owner must be forgotten HERE —
            # a key that receives data never gets a timeout callback
            fresh = (now_ms - state.get[1]) <= ttl_ms
        if fresh:
            seen = [True] * len(pdf)
            if ttl_ms is not None:
                state.update((state.get[0], now_ms))
        else:
            first = int(pdf["doc_id"].iloc[0])
            state.update((first, now_ms))
            seen = [int(d) != first for d in pdf["doc_id"]]
        out = pdf[["doc_id", "band"]].copy()
        out["seen_before"] = seen
        return iter([out])

    return (melted.groupBy("band", "h")
            .applyInPandasWithState(
                gate, "doc_id long, band string, seen_before boolean",
                "first_id long, last_ms long", "append",
                GroupStateTimeout.NoTimeout))


def image_neardup_gate_stream(spark: SparkSession, source_dir: str,
                              glob_filter: str | None = None,
                              state_ttl: str | None = None) -> DataFrame:
    """Streaming PERCEPTUAL-HASH near-dup gate — the multimodal member
    of the stateful family: arriving images decode + dHash in a
    stateless Arrow stage (``multimodal.image_dhash`` — real PGM parse,
    integer-exact 60-bit hash), the hash melts into the same 4×15-bit
    pigeonhole bands the batch pair generator uses, and the shared
    first-owner band gate flags every image whose band was already
    seen. Exactly one stateful operator; state is band-vocabulary-
    sized. In one availableNow round the verdict equals the batch
    window: flagged ⟺ shares a band with a smaller id — the oracle is
    the batch banding spelled relationally (band candidates, not the
    hamming-verified pairs: the gate is the candidate stage; exact
    verification happens downstream in batch, same as the text gate).
    """
    from ..operators import multimodal as mm

    reader = spark.readStream.schema(DOCS_SCHEMA)
    if glob_filter is not None:
        reader = reader.option("pathGlobFilter", glob_filter)
    docs = reader.parquet(source_dir).select("doc_id")
    sigs = mm.image_dhash(mm.synthesize_planted_pgm(docs))
    stack = ", ".join(
        f"'{b}', CAST((simhash div CAST(pow(32768, {b}) AS BIGINT))"
        f" % 32768 AS STRING)"
        for b in range(4))
    melted = sigs.selectExpr("doc_id",
                             f"stack(4, {stack}) AS (band, h)")
    return _band_owner_gate(melted, state_ttl)


def audio_neardup_gate_stream(spark: SparkSession, source_dir: str,
                              glob_filter: str | None = None,
                              state_ttl: str | None = None) -> DataFrame:
    """Streaming ACOUSTIC near-dup gate — the audio member of the
    stateful family: arriving clips decode + fingerprint in a stateless
    Arrow stage (``multimodal.audio_fingerprint`` — real RIFF/PCM
    decode, 63-bit integer energy-delta fingerprint), the fingerprint
    melts into the batch pair generator's 4×16-bit pigeonhole bands,
    and the shared first-owner band gate flags every clip whose band
    was already seen. Exactly one stateful operator; state is
    band-vocabulary-sized. Single-round verdict equals the batch
    window (flagged ⟺ shares a band with a smaller id); the gate is
    the candidate stage — exact hamming verification stays downstream
    in batch, the same contract as the text and image gates."""
    from ..operators import multimodal as mm

    reader = spark.readStream.schema(DOCS_SCHEMA)
    if glob_filter is not None:
        reader = reader.option("pathGlobFilter", glob_filter)
    docs = reader.parquet(source_dir).select("doc_id")
    sigs = mm.audio_fingerprint(mm.synthesize_planted_wav_pairs(docs))
    stack = ", ".join(
        f"'{b}', CAST((fp div CAST(pow(65536, {b}) AS BIGINT))"
        f" % 65536 AS STRING)"
        for b in range(4))
    melted = sigs.selectExpr("doc_id",
                             f"stack(4, {stack}) AS (band, h)")
    return _band_owner_gate(melted, state_ttl)


def video_neardup_gate_stream(spark: SparkSession, source_dir: str,
                              glob_filter: str | None = None,
                              state_ttl: str | None = None) -> DataFrame:
    """Streaming VIDEO near-dup gate — completes the multimodal gate
    triple (text MinHash, image dHash, acoustic fingerprint, video
    frame hashes): arriving videos walk the MP4 sample table and
    entropy-decode + dHash their sampled frames in a stateless Arrow
    stage (``multimodal.video_frame_hashes``), each frame hash melts
    into the batch candidate generator's (frame, band) pigeonhole keys
    — the band string carries the frame index, so state stays keyed by
    ONE string column and the shared first-owner gate applies
    unchanged. Flagged ⟺ some frame shares a band with a smaller id —
    exactly the batch ``video_neardup`` candidate stage; exact
    total-hamming verification stays downstream in batch."""
    from ..operators import multimodal as mm

    reader = spark.readStream.schema(DOCS_SCHEMA)
    if glob_filter is not None:
        reader = reader.option("pathGlobFilter", glob_filter)
    docs = reader.parquet(source_dir).select("doc_id")
    sigs = mm.video_frame_hashes(mm.synthesize_planted_mjpeg(docs))
    stack = ", ".join(
        f"concat('f', frame_idx, ':b{b}'),"
        f" CAST((simhash div CAST(pow(32768, {b}) AS BIGINT))"
        f" % 32768 AS STRING)"
        for b in range(4))
    melted = sigs.selectExpr("doc_id",
                             f"stack(4, {stack}) AS (band, h)")
    return _band_owner_gate(melted, state_ttl)


def run_video_gate_batch(spark: SparkSession, source_dir: str,
                         checkpoint_dir: str,
                         glob_filter: str | None = None,
                         query_name: str = "video_gate_result",
                         state_ttl: str | None = None) -> DataFrame:
    """Drive the video near-dup gate to completion (availableNow) and
    reduce per-(frame, band) verdicts to one row per video."""
    gated = video_neardup_gate_stream(spark, source_dir, glob_filter,
                                      state_ttl)
    q = (gated.writeStream.format("memory").queryName(query_name)
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return (spark.table(query_name)
            .groupBy("doc_id")
            .agg(F.expr("bool_or(seen_before)").alias("is_dup")))


def run_audio_gate_batch(spark: SparkSession, source_dir: str,
                         checkpoint_dir: str,
                         glob_filter: str | None = None,
                         query_name: str = "audio_gate_result",
                         state_ttl: str | None = None) -> DataFrame:
    """Drive the acoustic near-dup gate to completion (availableNow) and
    reduce per-band verdicts to one row per clip: (doc_id, is_dup)."""
    gated = audio_neardup_gate_stream(spark, source_dir, glob_filter,
                                      state_ttl)
    q = (gated.writeStream.format("memory").queryName(query_name)
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return (spark.table(query_name)
            .groupBy("doc_id")
            .agg(F.expr("bool_or(seen_before)").alias("is_dup")))


WDS_SHARD_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("payload", T.BinaryType()),
])


def wds_gate_stream(spark: SparkSession, landing_dir: str,
                    glob_filter: str | None = None,
                    state_ttl: str | None = None) -> DataFrame:
    """Streaming WebDataset ingestion + image near-dup gate — the
    production shape of multimodal intake: crawler/exporter drops .tar
    shards into a landing directory, the pipeline consumes them
    incrementally, extracts (image, caption) pairs with the verified
    ustar walk (``sources/webdataset.webdataset_pairs`` — stream-
    agnostic mapInPandas), and the per-sample perceptual hash passes
    the shared first-owner band gate so a re-exported duplicate image
    is flagged AT INGEST, before it ever lands in the corpus. Parse +
    hash are stateless; the band gate is the single stateful op (state
    band-vocabulary-sized). Single-round verdict: flagged ⟺ shares a
    band with a smaller sample id."""
    from ..sources import webdataset as wds

    reader = spark.readStream.schema(WDS_SHARD_SCHEMA)
    if glob_filter is not None:
        reader = reader.option("pathGlobFilter", glob_filter)
    shards = reader.parquet(landing_dir)
    pairs = wds.webdataset_pairs(shards)
    stack = ", ".join(
        f"'{b}', CAST((simhash div CAST(pow(32768, {b}) AS BIGINT))"
        f" % 32768 AS STRING)"
        for b in range(4))
    melted = pairs.selectExpr("doc_id",
                              f"stack(4, {stack}) AS (band, h)")
    return _band_owner_gate(melted, state_ttl)


def run_wds_gate_batch(spark: SparkSession, sf_dir: str,
                       checkpoint_dir: str, landing_dir: str) -> DataFrame:
    """Synthesize the planted shards into a landing directory — every
    4th sample additionally RE-EXPORTED under an offset sample id with
    an identical image (content keys on id % 10M), the duplicate-
    delivery case a real exporter produces — then drive the streaming
    ingest + image gate to completion (availableNow) for value-level
    oracle comparison."""
    from ..sources.readers import read_table
    from ..sources import webdataset as wds

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    (wds.synthesize_planted_webdataset(docs)
     .write.mode("overwrite").parquet(landing_dir))
    twins = (docs.filter(F.col("doc_id") % 4 == 0)
             .select((F.col("doc_id") + 10_000_000).alias("doc_id")))
    (wds.synthesize_planted_webdataset(twins)
     .write.mode("append").parquet(landing_dir))
    gated = wds_gate_stream(spark, landing_dir)
    q = (gated.writeStream.format("memory").queryName("wds_gate_result")
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return (spark.table("wds_gate_result")
            .groupBy("doc_id")
            .agg(F.expr("bool_or(seen_before)").alias("is_dup")))


WARC_CHUNK_SCHEMA = T.StructType([
    T.StructField("chunk_id", T.LongType()),
    T.StructField("warc", T.BinaryType()),
])


def warc_gate_stream(spark: SparkSession, landing_dir: str,
                     min_tokens: int = 40,
                     glob_filter: str | None = None) -> DataFrame:
    """Streaming WARC ingestion — the production shape of web-archive
    intake: crawlers drop WARC chunks into a LANDING DIRECTORY and the
    pipeline consumes them incrementally (file-stream source), instead
    of the batch backfill in ``sources/warc.py``. Each arriving chunk
    blob parses in the same Arrow-batched Content-Length offset walk the
    batch reader uses (``parse_warc_records`` is stream-agnostic —
    ``mapInPandas`` runs unchanged on a streaming frame), then the
    ingest-time quality gate (token floor + stopword ratio + content
    fingerprint, the q_stream_quality_gate battery) filters records
    before they ever land in the corpus.

    Fully STATELESS — parse and gate are projections, so the streaming
    plan is the batch plan verbatim and a single availableNow round
    value-matches the batch oracle. At 100 TB the file source scales by
    chunk-file parallelism (maxFilesPerTrigger bounds a micro-batch);
    the near-dup band gate composes downstream exactly as it does for
    documents (``neardup_gate_stream`` on the fingerprint)."""
    from ..operators.textstats import fingerprint, quality_columns
    from ..sources.warc import parse_warc_records

    reader = spark.readStream.schema(WARC_CHUNK_SCHEMA)
    if glob_filter is not None:
        reader = reader.option("pathGlobFilter", glob_filter)
    chunks = reader.parquet(landing_dir)
    recs = parse_warc_records(chunks)
    q = quality_columns("body")
    return (recs.select(
        "uri", "status",
        q["n_tokens"].alias("n_tokens"),
        q["stopword_ratio"].alias("stopword_ratio"),
        fingerprint("body").alias("fingerprint"))
        .filter(F.col("n_tokens") >= min_tokens))


def run_warc_gate_batch(spark: SparkSession, sf_dir: str,
                        checkpoint_dir: str, landing_dir: str,
                        min_tokens: int = 40) -> DataFrame:
    """Synthesize the planted WARC chunks into a landing directory, then
    drive the streaming ingest + quality gate to completion
    (availableNow) for value-level oracle comparison."""
    from ..sources.readers import read_table
    from ..sources.warc import synthesize_planted_warc

    docs = read_table(spark, sf_dir, "documents")
    (synthesize_planted_warc(docs)
     .write.mode("overwrite").parquet(landing_dir))
    gated = warc_gate_stream(spark, landing_dir, min_tokens)
    q = (gated.writeStream.format("memory").queryName("warc_gate_result")
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table("warc_gate_result")


def run_image_gate_batch(spark: SparkSession, source_dir: str,
                         checkpoint_dir: str,
                         glob_filter: str | None = None,
                         query_name: str = "image_gate_result",
                         state_ttl: str | None = None) -> DataFrame:
    """Drive the image near-dup gate to completion (availableNow) and
    reduce per-band verdicts to one row per image: (doc_id, is_dup)."""
    gated = image_neardup_gate_stream(spark, source_dir, glob_filter,
                                      state_ttl)
    q = (gated.writeStream.format("memory").queryName(query_name)
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return (spark.table(query_name)
            .groupBy("doc_id")
            .agg(F.expr("bool_or(seen_before)").alias("is_dup")))


def run_neardup_gate_batch(spark: SparkSession, source_dir: str,
                           checkpoint_dir: str, n_hashes: int = 8,
                           rows_per_band: int = 2,
                           glob_filter: str | None = None,
                           query_name: str = "neardup_gate_result",
                           state_ttl: str | None = None) -> DataFrame:
    """Drive the near-dup gate to completion (availableNow) and reduce
    the per-band verdicts to one row per doc: (doc_id, is_dup)."""
    gated = neardup_gate_stream(spark, source_dir, n_hashes,
                                rows_per_band, glob_filter, state_ttl)
    q = (gated.writeStream.format("memory").queryName(query_name)
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return (spark.table(query_name)
            .groupBy("doc_id")
            .agg(F.expr("bool_or(seen_before)").alias("is_dup")))


ZIP_SHARD_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("payload", T.BinaryType()),
])


def zip_gate_stream(spark: SparkSession, landing_dir: str,
                    min_bytes: int = 40,
                    glob_filter: str | None = None) -> DataFrame:
    """Streaming ZIP intake — the container family's fourth landing
    stream (WARC, WebDataset, media, now PKZIP): vendor drops / export
    jobs leave ``.zip`` bundles in a directory, the file-stream source
    consumes them incrementally, each archive walks the same Arrow
    central-directory parse as the batch reader (``zip_members`` is
    stream-agnostic), and a minimum-content gate keeps only ``.txt``
    members carrying at least ``min_bytes`` of payload — manifest
    stubs and empty placeholders never reach the corpus.

    Fully STATELESS (parse + projection), so a single availableNow
    round value-matches the batch oracle; CRC-failed or truncated
    archives drop whole inside the Arrow stage, never killing the
    query — the at-least-once file source plus idempotent downstream
    upsert is the delivery contract."""
    from ..sources.ziparchive import zip_members

    reader = spark.readStream.schema(ZIP_SHARD_SCHEMA)
    if glob_filter is not None:
        reader = reader.option("pathGlobFilter", glob_filter)
    shards = reader.parquet(landing_dir)
    members = zip_members(shards)
    return (members
            .filter(F.col("member").endswith(".txt")
                    & (F.col("n_bytes") >= min_bytes))
            .select("doc_id", "member", "n_bytes"))


def run_zip_gate_batch(spark: SparkSession, sf_dir: str,
                       checkpoint_dir: str, landing_dir: str,
                       min_bytes: int = 40) -> DataFrame:
    """Synthesize the planted ZIP shards into a landing directory, then
    drive the streaming intake gate to completion (availableNow) for
    value-level oracle comparison."""
    from ..sources.readers import read_table
    from ..sources.ziparchive import synthesize_planted_zips

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    (synthesize_planted_zips(docs)
     .write.mode("overwrite").parquet(landing_dir))
    gated = zip_gate_stream(spark, landing_dir, min_bytes)
    q = (gated.writeStream.format("memory").queryName("zip_gate_result")
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table("zip_gate_result")


ER_FEED_SCHEMA = T.StructType([
    T.StructField("rec_id", T.LongType()),
    T.StructField("name", T.StringType()),
    T.StructField("nationkey", T.IntegerType()),
    T.StructField("bal", T.DoubleType()),
    T.StructField("origin", T.StringType()),
])


def _store_zone_lengths(store: DataFrame) -> list[int]:
    """One metadata pull of the static entity store's zone-length
    histogram (a handful of integers) — handed to every micro-batch's
    matcher so the per-epoch length-pruning collect disappears."""
    from ..operators.linkage import store_zone_lengths

    return store_zone_lengths(store)


def er_gate_stream(spark: SparkSession, landing_dir: str,
                   store: DataFrame, out_dir: str, checkpoint_dir: str,
                   glob_filter: str | None = None):
    """Streaming entity resolution — the linkage family's stream
    member: feed records land in a directory and each micro-batch
    matches against the (static) persisted entity store, assigning an
    existing entity_id or minting a new one. The production MDM
    intake: identity is resolved at ARRIVAL, before the record ever
    reaches a downstream upsert.

    The matcher's best-pick window is not expressible on a raw
    streaming frame (non-time windows are batch-only), so the stream
    runs through ``foreachBatch`` — the standard stream-static pattern
    for exactly this: each micro-batch is a REAL batch frame, the full
    batch matcher (``er_match_increment``, feed side broadcast) runs
    unchanged, and the parquet append per epoch is the idempotent-sink
    contract the upsert streams already use. One availableNow round
    therefore value-matches the batch oracle verbatim.

    The store's zone-length histogram (the probe-pruning metadata) is
    pulled ONCE here, not per micro-batch — the store is static for
    the stream's lifetime, so every epoch would re-run the same
    metadata job."""
    from ..operators.linkage import er_match_increment

    lens = _store_zone_lengths(store)
    reader = spark.readStream.schema(ER_FEED_SCHEMA)
    if glob_filter is not None:
        reader = reader.option("pathGlobFilter", glob_filter)
    feed = reader.parquet(landing_dir)

    def match_batch(batch_df: DataFrame, _epoch: int) -> None:
        (er_match_increment(store, batch_df, store_lengths=lens)
         .write.mode("append").parquet(out_dir))

    return (feed.writeStream.foreachBatch(match_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def golden_increment_stream(spark: SparkSession, landing_dir: str,
                            store: DataFrame, golden_dir: str,
                            checkpoint_dir: str,
                            members_dir: str | None = None):
    """Streaming golden-record MAINTENANCE (the lifecycle piece after
    :func:`er_gate_stream`): each micro-batch of feed records resolves
    against the static entity store, survivorship re-runs for the
    touched entities only (``linkage.golden_increment``), and the
    update set MERGEs into the golden-record table through the existing
    idempotent key-upsert — so replayed epochs converge and untouched
    entities are never rewritten. foreachBatch for the same reason as
    the gate: the matcher's best-pick window is batch-only.

    ``members_dir`` (default: a sibling of ``golden_dir``) holds the
    rec_id-keyed feed records already absorbed — each epoch upserts its
    batch there FIRST, then survivorship folds the prior members of
    this epoch's touched entities back in (``prior_members``). Without
    that state an entity touched in two different epochs would have its
    second golden row computed from (store rep + second batch) only,
    silently forgetting the first epoch's members; with it, any split
    of the feed across epochs — and any epoch replay — converges to the
    one-shot batch result (pinned by test_linkage.py)."""
    import os

    from ..operators.linkage import golden_increment
    from ..operators.upsert import recover_swap, upsert_parquet

    if members_dir is None:
        members_dir = golden_dir.rstrip("/") + "._members"
    lens = _store_zone_lengths(store)
    feed = (spark.readStream.schema(ER_FEED_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing_dir))

    def merge_batch(batch_df: DataFrame, _epoch: int) -> None:
        # a crash inside the members upsert's swap window parks the
        # table at '._old'; without this repair the exists() probe reads
        # False, prior=None, and the recomputed golden rows silently
        # forget every earlier epoch's members
        recover_swap(members_dir)
        prior = (spark.read.parquet(members_dir)
                 if os.path.exists(members_dir) else None)
        # golden FIRST: `prior` is lazy, so it must execute while the
        # members table still holds only EARLIER epochs (the members
        # swap below deletes the files it would read). A crash between
        # the two upserts replays cleanly: assignment is deterministic
        # against the STATIC store, so the recomputed update set is
        # identical and both upserts are key-idempotent.
        upsert_parquet(spark,
                       golden_increment(store, batch_df,
                                        prior_members=prior,
                                        store_lengths=lens),
                       golden_dir, key=("entity_id",))
        from ..operators.linkage import er_match_increment
        asg = er_match_increment(store, batch_df,
                                 store_lengths=lens).select(
            "rec_id", "entity_id")
        upsert_parquet(spark,
                       batch_df.join(asg, "rec_id")
                       .select("entity_id", "rec_id", "name", "bal"),
                       members_dir, key=("rec_id",))

    return (feed.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def run_er_gate_batch(spark: SparkSession, sf_dir: str,
                      checkpoint_dir: str, landing_dir: str,
                      store_dir: str, out_dir: str) -> DataFrame:
    """Persist the day-0 entity store, land the feed batch, drive the
    streaming matcher to completion (availableNow) for value-level
    oracle comparison."""
    from ..operators.linkage import increment_feed
    from ..sources.readers import read_table

    cust = read_table(spark, sf_dir, "customer")
    (cust.select(F.col("c_custkey").alias("entity_id"),
                 F.col("c_name").alias("name"),
                 F.col("c_nationkey").alias("nationkey"),
                 F.col("c_acctbal").alias("bal"))
     .write.mode("overwrite").parquet(store_dir))
    increment_feed(cust).write.mode("overwrite").parquet(landing_dir)
    q = er_gate_stream(spark, landing_dir,
                       spark.read.parquet(store_dir), out_dir,
                       checkpoint_dir)
    q.awaitTermination()
    return spark.read.parquet(out_dir)


DOC_FEED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])


def cms_stream(spark: SparkSession, landing_dir: str,
               glob_filter: str | None = None) -> DataFrame:
    """Streaming count-min sketch — the BOUNDED-STATE streaming
    aggregation: documents land in a directory, every token occurrence
    melts into its D (row, slot) cells in-stream, and the running
    aggregation state is AT MOST D×W counters no matter how many
    petabytes flow past — the whole point of sketching a stream
    (an exact token-count stream would hold vocabulary-scale state).
    Complete output mode (the sketch is a running total, not an
    append log); cell-wise mergeability is what makes the per-batch
    fold correct."""
    from ..operators.countmin import CMS_D, _slot_spark, _TOKS_SPARK

    reader = spark.readStream.schema(DOC_FEED_SCHEMA)
    if glob_filter is not None:
        reader = reader.option("pathGlobFilter", glob_filter)
    docs = reader.parquet(landing_dir)
    toks = docs.select(F.explode(F.expr(
        _TOKS_SPARK.format(text="text"))).alias("token"))
    slot = _slot_spark("r", "token")
    melted = toks.select(F.expr(
        f"explode(transform(sequence(0, {CMS_D - 1}),"
        f" r -> struct(r AS row, {slot} AS slot)))").alias("b")) \
        .select("b.row", "b.slot")
    return (melted.groupBy("row", "slot")
            .agg(F.count(F.lit(1)).alias("cell")))


def run_cms_stream_batch(spark: SparkSession, sf_dir: str,
                         checkpoint_dir: str, landing_dir: str
                         ) -> DataFrame:
    """Land the documents table, drive the streaming sketch to
    completion (availableNow, complete mode) for value-level oracle
    comparison against the batch build."""
    from ..sources.readers import read_table

    (read_table(spark, sf_dir, "documents").select("doc_id", "text")
     .write.mode("overwrite").parquet(landing_dir))
    cells = cms_stream(spark, landing_dir)
    q = (cells.writeStream.format("memory").queryName("cms_stream_cells")
         .outputMode("complete")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table("cms_stream_cells")
