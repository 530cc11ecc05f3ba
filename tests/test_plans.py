"""Physical-plan quality gates.

Correctness tests prove the operators compute the right rows; these prove
the plans are the ones we'd want at 100 TB: filters and projections reach
the parquet scan, small dimensions broadcast, aggregates run partial+final,
hot expressions stay in whole-stage codegen, and nothing in the catalog
degenerates into a Cartesian product.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from etl_ender_turing_spark.plans import CATALOG

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def built(spark):
    # Every catalog frame, built once for the module's gates: a build runs
    # the builder's eager cuts, the bulk of a gate's time.
    # Failure-isolated: a builder that raises must fail ITS OWN gate
    # (test_all_builders_build), not ERROR every plan gate in the module —
    # one broken query must never disable the scale guards on the other 60.
    out: dict[str, object] = {}
    for name, spec in CATALOG.items():
        try:
            out[name] = spec.builder(spark, SF)
        except Exception as exc:  # noqa: BLE001 — recorded, asserted below
            out[name] = exc
    return out


@pytest.fixture(scope="module")
def plans(built):
    out: dict[str, str | Exception] = {}
    for name, df in built.items():
        if isinstance(df, Exception):
            out[name] = df
            continue
        try:
            out[name] = plan_of(df)
        except Exception as exc:  # noqa: BLE001 — recorded, asserted below
            out[name] = exc
    return out


def _ok_plans(plans) -> dict[str, str]:
    return {n: p for n, p in plans.items() if isinstance(p, str)}


def _plan(plans, name: str) -> str:
    p = plans[name]
    if isinstance(p, Exception):
        pytest.fail(f"{name}: builder raised {p!r}")
    return p


def test_all_builders_build(plans):
    broken = {n: repr(e) for n, e in plans.items() if isinstance(e, Exception)}
    assert not broken, broken


def test_filter_pushdown_reaches_scan(plans):
    p = _plan(plans, "q2_filter_projection")
    assert "PushedFilters: [" in p
    # at least one real predicate pushed, not an empty list
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed or "l_quantity" in pushed, pushed


def test_column_pruning_reaches_scan(plans):
    # the scan must read only the 5 referenced columns, not all 16
    p = _plan(plans, "q2_filter_projection")
    schema = p.split("ReadSchema: ", 1)[1].splitlines()[0]
    read_cols = [c for c in schema.split(",") if ":" in c]
    assert len(read_cols) <= 5, schema
    assert "l_comment" not in schema


def test_dsl_filter_pushdown(plans):
    p = _plan(plans, "q_dsl_filter_events")
    assert "PushedFilters: [" in p
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "DSL-compiled predicate did not reach the scan"


def test_dims_broadcast_in_join_query(plans):
    # q5 joins lineitem to orders/customer/nation/region: the small dims
    # must come in as broadcast joins, never all-shuffle
    assert "BroadcastHashJoin" in _plan(plans, "q5_revenue_by_nation")


def test_aggregates_are_partial_final(plans):
    # two HashAggregate nodes (partial + final) = map-side combine active
    for q in ("q1_pricing_summary", "q_hourly_event_rollup"):
        assert _plan(plans, q).count("HashAggregate") >= 2, q


def test_whole_stage_codegen_active(spark):
    # AQE finalizes the plan only on execution; the final plan marks
    # codegen spans with "*(n)" operator prefixes
    for q in ("q1_pricing_summary", "q2_filter_projection",
              "q_dedup_exact", "q_text_quality"):
        df = CATALOG[q].builder(spark, SF)
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "*(" in final, f"{q}: no WholeStageCodegen span\n{final[:500]}"


def test_no_cartesian_product_anywhere(plans):
    # broadcast_topk uses an intentional 1-row broadcast nested loop;
    # an unhinted CartesianProduct is always a scale bug
    for name, p in _ok_plans(plans).items():
        assert "CartesianProduct" not in p, name


def test_topk_has_no_global_window_sort(spark):
    # brute_force_topk must take its k rows via TakeOrderedAndProject
    # (per-partition heap + driver merge), never a single-partition global
    # Window sorting all n scored rows; rnk is derived AFTER the take, so
    # the only Window in the executed plan runs over exactly k rows.
    df = CATALOG["q_embed_cosine_topk"].builder(spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    # AQE prints "== Final Plan ==" then "== Initial Plan ==": judge only
    # the final one
    final = final.split("== Initial Plan ==", 1)[0]
    assert "TakeOrderedAndProject" in final, final[:800]
    # tree prints root-first: the rnk Window must sit ABOVE the take
    # (appears before it) and nothing BELOW the take (the full scored
    # relation) may contain a Window
    above, below = final.split("TakeOrderedAndProject", 1)
    assert "Window" in above
    assert "Window" not in below, below[:800]


def test_zipf_topv_is_ordered_limit_not_global_sort(spark):
    # zipf_slope's top-v selection must be TakeOrderedAndProject over the
    # vocabulary aggregate (per-partition heap + driver merge of top_v
    # rows); its only Window runs over exactly top_v rows ABOVE the take
    df = CATALOG["q_zipf_slope"].builder(spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==", 1)[0]
    assert "TakeOrderedAndProject" in final, final[:800]
    above, below = final.split("TakeOrderedAndProject", 1)
    assert "Window" in above
    assert "Window" not in below, below[:800]


def test_crawl_budget_has_no_unpartitioned_window(spark):
    # A CommonCrawl-scale domain registry is ~1e8 rows: the apportionment
    # must never sort it through one reducer. Totals ride as 1-row
    # broadcasts and the remainder rank is range-partitioned (_pid) —
    # every Window in the final job must be partitioned, and the ranked
    # frame must not collapse to a single partition.
    df = CATALOG["q_crawl_budget"].builder(spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==", 1)[0]
    # (the 1-row left_over/total aggregates DO pass through an Exchange
    # SinglePartition — 32 partial rows to one reducer is the intended
    # broadcast-total shape, so only Window partitioning is gated here)
    win_lines = [ln for ln in final.splitlines() if "Window" in ln]
    assert win_lines, final[:800]          # the remainder rank exists...
    for ln in win_lines:                   # ...and is always partitioned
        assert "_pid" in ln, ln


def test_char_entropy_is_zero_shuffle(spark):
    # the entropy computation is per-row HOFs — a document never leaves
    # its partition; any Exchange here is a regression to the explode form
    df = CATALOG["q_char_entropy"].builder(spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==", 1)[0]
    assert "Exchange" not in final, final[:800]


def test_no_python_row_udfs_in_batch_catalog(plans):
    # BatchEvalPython = row-at-a-time Python UDF (the slow path).
    # ArrowEvalPython/mapInPandas (multimodal) is the sanctioned exception.
    for name, p in _ok_plans(plans).items():
        assert "BatchEvalPython" not in p, name


def test_keep_canonical_drop_set_not_force_broadcast(spark):
    # The drop-set of a real dedup run is corpus-scale (30%+ duplicate
    # rates), so q_dedup_keep_canonical must not HINT a broadcast of it:
    # with the auto-broadcast threshold disabled, the anti-join has to
    # plan as a shuffle join (AQE may still choose broadcast at runtime
    # from the OBSERVED size — that's the point).
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_of(CATALOG["q_dedup_keep_canonical"].builder(spark, SF))
        anti = [ln for ln in p.splitlines() if "LeftAnti" in ln]
        assert anti, p[:800]
        assert not any("Broadcast" in ln for ln in anti), anti
    finally:
        if old is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        else:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def _simple_plan(df) -> str:
    """Physical plan with join conditions inline (explain() default mode)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_no_hint_broadcast_of_sf_scaling_tables(spark):
    # customer/orders/lineitem grow with SF: an explicit F.broadcast hint
    # on any of them overrides AQE and forces an executor-OOM broadcast at
    # 100x. With the auto-broadcast threshold disabled, ONLY hinted
    # broadcasts survive planning — so any join keyed on an SF-scaling
    # table's key that still plans as Broadcast* must be a hint. nation/
    # region (fixed 25/5 rows at every SF) are the sanctioned hints.
    scaling_keys = ("c_custkey", "o_orderkey", "l_orderkey", "o_custkey",
                    "p_partkey", "s_suppkey")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for q in ("q5_revenue_by_nation", "q_topk_orders_per_segment",
                  "q_semi_join_reviewed", "q_anti_join_no_orders"):
            p = _simple_plan(CATALOG[q].builder(spark, SF))
            bad = [ln for ln in p.splitlines()
                   if "Broadcast" in ln and "Join" in ln
                   and any(k in ln for k in scaling_keys)]
            assert not bad, f"{q}: hint-broadcast of SF-scaling table\n{bad}"
    finally:
        if old is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        else:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_no_hint_broadcast_in_streaming_builders(spark):
    # The batch gate above never sees the streaming query builders (they
    # plan inside writeStream.start()), so a scaling-table hint there
    # escaped it until r8 (VERDICT r7 'What's wrong' #1:
    # enriched_segment_counts hint-broadcast the SF-scaling customer
    # dim). The builders are plain DataFrame->DataFrame functions, so
    # feed them BATCH frames: with the auto-broadcast threshold disabled,
    # any surviving Broadcast*Join keyed on a scaling table's key must
    # be a hint baked into the builder itself.
    from etl_ender_turing_spark.streaming.stream import (
        enriched_segment_counts,
    )
    scaling_keys = ("c_custkey", "o_orderkey", "l_orderkey", "o_custkey",
                    "p_partkey", "s_suppkey", "c_mktsegment")
    events = spark.read.parquet(f"{SF}/events.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = _simple_plan(enriched_segment_counts(events, customer))
        bad = [ln for ln in p.splitlines()
               if "Broadcast" in ln and "Join" in ln
               and any(k in ln for k in scaling_keys)]
        assert not bad, ("enriched_segment_counts: hint-broadcast of "
                         f"SF-scaling table\n{bad}")
    finally:
        if old is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        else:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    # source-level backstop for builders that only plan inside
    # writeStream.start(): the ONLY F.broadcast( in the streaming module
    # is the 1-row LM model frame (driver-metadata-sized, sanctioned)
    import inspect

    from etl_ender_turing_spark.streaming import stream as stream_mod
    src = inspect.getsource(stream_mod)
    hints = [ln.strip() for ln in src.splitlines() if "F.broadcast(" in ln]
    allowed = {"toks = (docs.join(F.broadcast(model), "
               "F.lit(1) == F.col(\"_k\"))"}
    assert set(hints) <= allowed, (
        "new F.broadcast hint in streaming builders — prove it is "
        f"fixed-size and add it to the allowlist: {set(hints) - allowed}")


def test_topk_per_group_window_consumes_pruned_input(spark):
    # q_topk_orders_per_segment: c_mktsegment has 5 distinct values, so
    # the final window runs in 5 partitions — it must consume a PRUNED
    # relation, never the whole fact table. Catalyst's WindowGroupLimit
    # rewrite provides exactly that: a Partial group-limit BELOW the
    # exchange (map-side top-k prune, parallel across input partitions)
    # and a Final one above it, so the 5-partition sort sees
    # <= 5*k*n_map_partitions rows. Gate the executed plan on that shape
    # so a refactor that breaks the rank-filter pattern (and silently
    # reverts to a full 5-partition sort) fails CI.
    df = CATALOG["q_topk_orders_per_segment"].builder(spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==", 1)[0]
    assert "Exchange" in final, final[:1200]
    above, below = final.split("Exchange", 1)
    assert "WindowGroupLimit" in above and "Final" in above.split(
        "WindowGroupLimit", 1)[1].splitlines()[0], above[-600:]
    assert "WindowGroupLimit" in below and "Partial" in below.split(
        "WindowGroupLimit", 1)[1].splitlines()[0], below[:600]


def test_driver_canon_contract(built):
    """Every oracled query must survive the driver's pandas canonicalizer:
    (1) Spark output schema has no bare array/map/struct columns (pandas
    cannot sort/hash list cells — r3's q_embed_quantize ERR), and
    (2) the DuckDB oracle's column types contain no HUGEINT (int128 from
    an unwrapped window SUM hashes differently than Spark's BIGINT —
    r3's q_sessionize_events hash FAIL) and no list types.
    """
    import duckdb
    from pyspark.sql.types import ArrayType, MapType, StructType

    from etl_ender_turing_spark.sources.readers import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'/root/testdata/sf0.001/{t}.parquet'")
    bad: list[str] = []
    for name, spec in CATALOG.items():
        if spec.oracle is None:
            continue
        df = built[name]
        if isinstance(df, Exception):
            bad.append(f"{name}: builder raised {df!r}")
            continue
        schema = df.schema
        for f in schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append(f"{name}: spark col '{f.name}' is "
                           f"{f.dataType.simpleString()} (unhashable)")
        try:
            desc = con.execute(f"DESCRIBE {spec.oracle}").fetchall()
        except Exception as exc:  # noqa: BLE001
            bad.append(f"{name}: oracle DESCRIBE failed: {exc}")
            continue
        for col, typ, *_ in desc:
            if "HUGEINT" in typ.upper():
                bad.append(f"{name}: oracle col '{col}' is {typ} "
                           f"(wrap in CAST(... AS BIGINT))")
            if "[]" in typ or "LIST" in typ.upper() or "MAP" in typ.upper():
                bad.append(f"{name}: oracle col '{col}' is {typ} "
                           f"(serialize to string)")
    assert not bad, "\n".join(bad)


def test_shuffle_budgets_pinned(spark):
    """Regression pin on the shuffle budget of representative plans: an
    accidental repartition/extra distinct shows up here as an Exchange
    count above the recorded budget (PLANS.md is the human-readable twin).
    Counts come from the AQE-final executed plan at sf0.001."""
    import re

    from etl_ender_turing_spark.plans import CATALOG

    budgets = {
        "q1_pricing_summary": 1,
        "q_sessionize_events": 1,
        "q_cohort_retention": 2,
        "q_dedup_minhash_lsh": 2,
        "q_funnel_conversion": 2,   # user agg + 1-row global agg
        "q_hourly_event_rollup": 1,
    }
    sf = "/root/testdata/sf0.001"
    for name, budget in budgets.items():
        df = CATALOG[name].builder(spark, sf)
        df.count()   # execute so the AQE-final plan is materialized
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_ex = len(re.findall(r"\bExchange\b", plan))
        n_reused = len(re.findall(r"\bReusedExchange\b", plan))
        assert n_ex - n_reused <= budget, (
            f"{name}: {n_ex - n_reused} exchanges > budget {budget}\n"
            + plan[:1500])


def test_er_match_increment_plan_shape(spark):
    """Locks the round-11 increment-matcher optimizations: the batch
    side stays BROADCAST (the store must never shuffle on block keys
    against a nightly feed), the length-pruned probe keeps no
    full-window fan-out (the pruned IN-list reaches the probe lambda),
    and the dropped pre-window distinct stays dropped (one aggregate-
    shaped exchange would reappear as an extra Exchange)."""
    import re

    from pyspark.sql import functions as F

    from etl_ender_turing_spark.operators import linkage as lk

    sf = "/root/testdata/sf0.001"
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    store = cust.select(F.col("c_custkey").alias("entity_id"),
                        F.col("c_name").alias("name"),
                        F.col("c_nationkey").alias("nationkey"),
                        F.col("c_acctbal").alias("bal"))
    df = lk.er_match_increment(store, lk.increment_feed(cust))
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the zone-length IN-list is embedded in the probe expression
    # (customer zones are all length 9 at every SF)
    assert re.search(r"IN \(9\)|\bIN\b.*\b9\b", plan)
    # exactly ONE non-reused exchange: the best-pick window's hash
    # partition on rec_id — the old distinct added a second
    n_ex = len(re.findall(r"\bExchange\b", plan))
    n_reused = len(re.findall(r"\bReusedExchange\b", plan))
    assert n_ex - n_reused <= 1, plan[:1500]


def test_driver_contract_follows_catalog_order():
    """``queries()`` and ``oracle_sql()`` list the catalog in its own
    registration order, once each, with an oracle exactly where the
    catalog has one."""
    import __spark_entry__ as entry

    assert list(entry.queries()) == list(CATALOG)
    assert list(entry.oracle_sql()) == [
        name for name, spec in CATALOG.items() if spec.oracle is not None]
