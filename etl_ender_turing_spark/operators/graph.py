"""Domain-graph operators: fixed-iteration PageRank over a weighted
domain→domain link graph.

Web-corpus curation ranks registered domains before it ranks pages:
CommonCrawl publishes harmonic/PageRank centrality per domain, and
crawl frontiers + quality priors key on it (a domain nobody links to is
usually spam; a high-centrality domain earns a deeper crawl budget and a
quality prior in the curation mix). The graph here is DOMAIN-cardinality
— built by one aggregation over the corpus-scale link stream (see
``web.extract_links`` / ``web.domain_edges``), after which every
PageRank iteration runs on frames ~6 orders of magnitude smaller than
the corpus. That split (corpus-scale extraction once, tiny iterative
core) is what makes an iterative algorithm viable inside a 100 TB batch
plan.

Iterative-plan discipline: each iteration ends in ``localCheckpoint`` —
without the lineage cut, iteration N's plan contains N copies of the
whole chain and Catalyst re-analyzes (and on re-evaluation re-RUNS) all
of it; same pattern as the pointer-jumping cluster resolver
(``dedup.duplicate_clusters``).

Cross-engine exactness (the repo's decimal-quantization discipline,
``functions/rounding.py``): per-edge contributions are computed in
IEEE-double (bit-identical in Spark and DuckDB for identical inputs),
FLOOR-quantized to 6 dp, and summed as DECIMAL — so the sum is
order-independent — then each new rank is re-quantized. Ranks therefore
hash-match the DuckDB oracle exactly after any number of iterations.

Reference parity: the reference engine has no graph operator — this is
part of the beyond-reference web-curation family (VERDICT r5 'north
star' items), alongside ops/web.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.barrier import lineage_cut, shared_cut

# Shared Spark/DuckDB SQL fragments — ONE text parsed by both engines so
# the double arithmetic is literally the same expression tree (the
# lm._P_CASE trick). `r` is DECIMAL(28,6); w/ow are BIGINT counts.
_CONTRIB = ("CAST(FLOOR(CAST(r AS DOUBLE) * w / ow * 1000000 + 0.5) "
            "/ 1000000 AS DECIMAL(28,6))")

_INIT_RANK = ("CAST(FLOOR(CAST(1 AS DOUBLE) / n * 1000000 + 0.5) "
              "/ 1000000 AS DECIMAL(28,6))")

# base = (1-d) as a shortest-repr double literal (repr round-trips to the
# identical double in both engines); inflow/dang are decimal sums of
# quantized terms, exact at 6 dp and exactly representable as doubles.
_NEW_RANK = ("CAST(FLOOR((({base}) / n + ({damp}) * "
             "(COALESCE(CAST(inflow AS DOUBLE), CAST(0 AS DOUBLE)) "
             "+ CAST(dang AS DOUBLE) / n)) * 1000000 + 0.5) "
             "/ 1000000 AS DECIMAL(28,6))")


def pagerank(edges: DataFrame, iters: int = 3, damping: float = 0.85,
             src: str = "src", dst: str = "dst",
             weight: str = "w") -> DataFrame:
    """(domain, rank) after ``iters`` weighted-PageRank iterations.

    rank'(v) = (1-d)/N + d·(Σ_{u→v} rank(u)·w(u,v)/outw(u) + dangling/N)

    with dangling mass (rank parked on nodes with no outlinks)
    redistributed uniformly — the standard formulation, so total rank is
    conserved up to quantization. Nodes are every endpoint of the edge
    list; N / the dangling sum ride along as 1-row broadcast frames
    (no driver-side collect — the whole computation is one plan per
    iteration).
    """
    # ONE lineage cut at the edge list: nodes / outw / ew all derive from
    # it, and without the cut each derivation re-evaluates the
    # corpus-scale extraction+aggregation subtree that produced the edges
    # (3 full passes instead of 1)
    # lazy cut: same lineage truncation, but materialization folds into
    # the consuming job instead of a separate barrier job per call
    # (interleaved A/B at sf0.1: lazy 1.55 s vs eager 1.68 s floor)
    edges = lineage_cut(edges)
    nodes = (edges.select(F.col(src).alias("d"))
             .union(edges.select(F.col(dst).alias("d"))).distinct())
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    outw = (edges.groupBy(src).agg(F.sum(weight).alias("ow"))
            .withColumnRenamed(src, "o_src"))
    ew = edges.join(outw, F.col(src) == F.col("o_src")).select(
        F.col(src).alias("e_src"), F.col(dst).alias("e_dst"),
        F.col(weight).cast("bigint").alias("w"), "ow")
    ranks = nodes.crossJoin(nn).select("d", F.expr(_INIT_RANK).alias("r"))
    base = f"CAST({(1.0 - damping)!r} AS DOUBLE)"
    damp = f"CAST({damping!r} AS DOUBLE)"
    new_rank = _NEW_RANK.format(base=base, damp=damp)
    for _ in range(iters):
        contrib = (ranks.join(ew, F.col("d") == F.col("e_src"))
                   .select(F.col("e_dst").alias("d2"),
                           F.expr(_CONTRIB).alias("c")))
        inflow = contrib.groupBy("d2").agg(F.sum("c").alias("inflow"))
        dang = (ranks.join(outw, F.col("d") == F.col("o_src"), "left_anti")
                .agg(F.coalesce(F.sum("r"),
                                F.lit(0).cast("decimal(28,6)"))
                     .alias("dang")))
        ranks = lineage_cut(
            nodes.join(inflow, F.col("d") == F.col("d2"), "left")
            .crossJoin(dang).crossJoin(nn)
            .select("d", F.expr(new_rank).alias("r")))
    # final cast to DOUBLE (exact for 6dp decimals) — the repo's driver-
    # canon convention for decimal-quantized outputs
    return ranks.select(F.col("d").alias("domain"),
                        F.col("r").cast("double").alias("rank"))


def pagerank_sql(edges_sql: str, iters: int = 3,
                 damping: float = 0.85) -> str:
    """DuckDB oracle for :func:`pagerank`: the iteration unrolled into
    chained CTEs (one inflow/dangling/rank triple per round), sharing
    the exact quantized-double fragments the Spark plan evaluates.
    ``edges_sql`` must yield (src, dst, w)."""
    base = f"CAST({(1.0 - damping)!r} AS DOUBLE)"
    damp = f"CAST({damping!r} AS DOUBLE)"
    new_rank = _NEW_RANK.format(base=base, damp=damp)
    parts = [f"""
    WITH edges AS ({edges_sql}),
    nodes AS (SELECT src AS d FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outw AS (SELECT src AS o_src, SUM(w) AS ow FROM edges GROUP BY src),
    ew AS (SELECT e.src AS e_src, e.dst AS e_dst,
                  CAST(e.w AS BIGINT) AS w, o.ow
           FROM edges e JOIN outw o ON e.src = o.o_src),
    r0 AS (SELECT d, {_INIT_RANK} AS r FROM nodes, nn)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
    inf{i} AS (SELECT ew.e_dst AS d2, SUM({_CONTRIB}) AS inflow
               FROM r{i - 1} jr JOIN ew ON jr.d = ew.e_src
               GROUP BY ew.e_dst),
    dg{i} AS (SELECT COALESCE(SUM(r), CAST(0 AS DECIMAL(28,6))) AS dang
              FROM r{i - 1}
              WHERE d NOT IN (SELECT o_src FROM outw)),
    r{i} AS (SELECT n.d, {new_rank} AS r
             FROM nodes n CROSS JOIN nn CROSS JOIN dg{i}
             LEFT JOIN inf{i} i ON i.d2 = n.d)""")
    parts.append(f"""
    SELECT d AS domain, CAST(r AS DOUBLE) AS rank FROM r{iters}""")
    return "".join(parts)


# --------------------------------------------------------------------------
# Crawl-budget apportionment (largest-remainder over rank × quality)
# --------------------------------------------------------------------------

# Shared Spark/DuckDB weight spelling: quality is NORMALIZED by the max
# before quantizing, so the integer weights are bounded regardless of
# corpus size. Bounds (the overflow guard): rank ≤ 1 and Σrank ≈ 1 for
# PageRank input, qsum/mq ≤ 1, so w6 ≤ 1e12, Σw6 ≤ Σrank·1e12 ≈ 1e12 and
# n_slots·w6 stays inside BIGINT for n_slots ≤ 9·10⁶ — unlike the raw
# rank·qsum·1e6 spelling, which reaches ~1e19 for realistic per-domain
# char sums and wraps silently under Spark's non-ANSI arithmetic.
_W6 = ("CAST(FLOOR(rank * (CAST(qsum AS DOUBLE) / CAST(mq AS DOUBLE)) "
       "* 1000000000000 + 0.5) AS BIGINT)")


def crawl_budget(ranks: DataFrame, quality: DataFrame, n_slots: int = 1000,
                 domain_col: str = "domain",
                 n_ranges: int = 32) -> DataFrame:
    """(domain, weight6, budget): apportion ``n_slots`` fetch slots
    across domains proportionally to rank × quality — the number a
    crawl scheduler actually consumes (PageRank says who deserves
    depth; the quality prior says whose pages were worth keeping; the
    budget turns both into integer slots that sum EXACTLY to the
    fleet's capacity).

    Largest-remainder apportionment (Hamilton's method) in pure integer
    arithmetic: weights are max-normalized and 12dp-floor-quantized to
    BIGINT (see ``_W6`` for the overflow bound), each domain gets
    ``(n·w) div W`` slots, and the ``n - Σfloor`` leftover slots go to
    the largest ``(n·w) mod W`` remainders (domain asc tie-break — a
    total order, so the result is deterministic and cross-engine exact;
    no floating shares ever touch the allocation).

    Scale shape — NO unpartitioned window anywhere (a CommonCrawl-scale
    domain registry is ~10⁸ rows; a global window sort would funnel all
    of it through one reducer): the weight total and the leftover count
    ride as 1-row broadcast frames, and the remainder ranking uses the
    repo's global-order-without-a-global-window pattern
    (``sampling.token_budget_head``): range-partition on (rem DESC,
    domain), rank WITHIN each partition in parallel, add each
    partition's row-count prefix offset (one bounded driver round-trip
    of ``n_ranges`` numbers).
    """
    mq = quality.agg(F.max("qsum").alias("mq"))
    w = (ranks.join(quality, domain_col).crossJoin(F.broadcast(mq))
         .select(domain_col, F.expr(_W6).alias("w6")))
    tw = w.agg(F.sum("w6").alias("tw"))
    # shares feeds BOTH the leftover total and the final projection —
    # checkpoint so the join+quantize chain runs once (no cross-consumer
    # CSE in Spark plans); local in every barrier mode: one row per domain,
    # read only inside this call, where the layout pin below is local anyway
    shares = (w.crossJoin(F.broadcast(tw))
              .select(domain_col, "w6",
                      F.expr(f"({n_slots} * w6) div tw").alias("fl"),
                      F.expr(f"({n_slots} * w6) % tw").alias("rem"))
              .localCheckpoint(eager=True))
    lo = shares.agg((F.lit(n_slots) - F.sum("fl")).alias("left_over"))
    # pin the sampled range boundaries: the counts job and the final job
    # must see the SAME layout (repartitionByRange re-samples per job)
    # local in every barrier mode: a storage read-back drops the layout
    ranged = (shares.repartitionByRange(
        n_ranges, F.col("rem").desc(), F.col(domain_col).asc())
        .localCheckpoint(eager=True))
    pid = ranged.withColumn("_pid", F.spark_partition_id())
    counts = {r["_pid"]: r["_c"] for r in
              pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("_c"))
              .collect()}
    offsets, acc = {}, 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    off = F.lit(0)
    for p, o in sorted(offsets.items()):
        off = F.when(F.col("_pid") == p, F.lit(o)).otherwise(off)
    wr = (Window.partitionBy("_pid")
          .orderBy(F.col("rem").desc(), F.col(domain_col).asc()))
    return (pid.withColumn("rn", F.row_number().over(wr) + off)
            .crossJoin(F.broadcast(lo))
            .select(domain_col, F.col("w6").alias("weight6"),
                    (F.col("fl")
                     + F.when(F.col("rn") <= F.col("left_over"), 1)
                     .otherwise(0)).cast("long").alias("budget")))


def crawl_budget_sql(ranks_sql: str, quality_sql: str,
                     n_slots: int = 1000,
                     domain_col: str = "domain") -> str:
    """DuckDB oracle for :func:`crawl_budget` — the identical integer
    apportionment over (domain, rank) and (domain, qsum) CTEs. The
    oracle ranks remainders with one ROW_NUMBER over the same (rem
    DESC, domain) total order the distributed prefix-offset rank
    realizes, so values match row-for-row."""
    return f"""
    WITH ranks AS ({ranks_sql}), quality AS ({quality_sql}),
    mq AS (SELECT MAX(qsum) AS mq FROM quality),
    w AS (SELECT r.{domain_col}, {_W6} AS w6
          FROM ranks r JOIN quality q USING ({domain_col}) CROSS JOIN mq),
    tw AS (SELECT SUM(w6) AS tw FROM w),
    shares AS (SELECT {domain_col}, w6,
                      ({n_slots} * w6) // tw AS fl,
                      ({n_slots} * w6) % tw AS rem
               FROM w CROSS JOIN tw),
    lo AS (SELECT {n_slots} - SUM(fl) AS left_over FROM shares)
    SELECT {domain_col}, w6 AS weight6,
           CAST(fl + CASE WHEN ROW_NUMBER() OVER (
                  ORDER BY rem DESC, {domain_col} ASC) <= left_over
                THEN 1 ELSE 0 END AS BIGINT) AS budget
    FROM shares CROSS JOIN lo
    """


def _sym_und(edges: DataFrame) -> DataFrame:
    """Symmetrized, deduped undirected edge list, MATERIALIZED: the
    triangle machinery re-reads this frame 3-6x (degree agg,
    orientation joins, wedge join, closing join), and without a
    barrier every re-read re-runs the caller's whole edge-derivation
    subtree — for the catalog's domain graphs that is the regexp-heavy
    URL parse chain (measured 13.1 -> 2.4 s at sf0.1 for
    local_clustering). An edge list is the natural pipeline break at
    any scale: at 100 TB it is a parquet table, here a localCheckpoint
    — which, unlike persist, also TRUNCATES the logical plan, so
    Catalyst stops re-analyzing the full parse lineage once per
    consumer branch (the r12 profile showed a ~3.5k-line analyzed plan
    behind a 44-line executed one; guide §3.3/§7.3). A shared cut, so
    repeated triangle/clustering calls over the same edge plan reuse ONE
    materialization."""
    e = (edges.select(F.col("src").cast("string").alias("a"),
                      F.col("dst").cast("string").alias("b"))
         .filter(F.col("a") != F.col("b")))
    return shared_cut(
        e.unionByName(e.select(F.col("b").alias("a"),
                               F.col("a").alias("b"))).distinct())


def triangle_count(edges: DataFrame) -> DataFrame:
    """One-row triangle census of the (undirected) domain graph:
    (n_nodes, n_edges, n_wedges, n_triangles, global_cc6).

    Edge-orientation algorithm (Suri & Vassilvitskii's node-iterator++,
    WWW 2011): symmetrize + dedup, orient every edge from its
    lower-(degree, id) endpoint to the higher, enumerate wedges only at
    each edge's LOW end, and close them with one join back onto the
    oriented edge list. Orienting by degree caps per-node wedge fan-out
    at O(sqrt(m)) — the "curse of the last reducer" (one celebrity
    domain owning quadratic wedges) cannot happen, which is the whole
    game at web scale where degree skew is power-law. Three uniform
    shuffles (degree agg, wedge join, closing join); output is one row.
    global_cc6 = 3·triangles / wedges (the transitivity ratio),
    round6u-quantized like every small-integer ratio in the repo.
    """
    from ..functions.rounding import round6u
    und = _sym_und(edges)
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg")) \
             .withColumnRenamed("a", "node")
    ue = und.filter(F.col("a") < F.col("b"))
    j = (ue
         .join(deg.select(F.col("node").alias("a"),
                          F.col("deg").alias("da")), "a")
         .join(deg.select(F.col("node").alias("b"),
                          F.col("deg").alias("db")), "b"))
    lo_first = ((F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db"))
                   & (F.col("a") < F.col("b"))))
    # oriented feeds THREE subtrees (both wedge sides + the closing
    # join): cut it so the degree-orientation join pipeline runs once
    # (r13 interleaved A/B on the triangle census: 2.23-2.28 ->
    # 1.60-1.65 s at sf0.1; guide §3.3)
    oriented = lineage_cut(j.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(lo_first, F.col("db")).otherwise(F.col("da"))
        .alias("hideg")))
    x = oriented.select("lo", F.col("hi").alias("v"),
                        F.col("hideg").alias("dv"))
    y = oriented.select("lo", F.col("hi").alias("w"),
                        F.col("hideg").alias("dw"))
    wedges = x.join(y, "lo").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w"))))
    closing = oriented.select(F.col("lo").alias("v"),
                              F.col("hi").alias("w"))
    tri = wedges.join(closing, ["v", "w"]).agg(
        F.count(F.lit(1)).alias("n_triangles"))
    node_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("deg * (deg - 1) div 2")).alias("n_wedges"))
    n_edges = ue.agg(F.count(F.lit(1)).alias("n_edges"))
    return (node_stats.crossJoin(n_edges).crossJoin(tri)
            .select("n_nodes", "n_edges", "n_wedges", "n_triangles",
                    F.when(F.col("n_wedges") > 0,
                           round6u(3.0 * F.col("n_triangles")
                                   / F.col("n_wedges")))
                    .otherwise(F.lit(0.0)).alias("global_cc6")))


def triangle_count_sql(edges_sql: str) -> str:
    """DuckDB oracle for :func:`triangle_count`: the same orientation
    and wedge-closing joins relationally, counts and the quantized
    transitivity ratio identical."""
    from ..functions.rounding import round6u_sql
    cc = round6u_sql("3.0 * n_triangles / n_wedges")
    return f"""
    WITH raw AS ({edges_sql}),
    e AS (SELECT CAST(src AS VARCHAR) AS a, CAST(dst AS VARCHAR) AS b
          FROM raw WHERE src <> dst),
    und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
    deg AS (SELECT a AS node, COUNT(*) AS deg FROM und GROUP BY 1),
    ue AS (SELECT a, b FROM und WHERE a < b),
    o AS (
      SELECT CASE WHEN da.deg < db.deg
                    OR (da.deg = db.deg AND ue.a < ue.b)
                  THEN ue.a ELSE ue.b END AS lo,
             CASE WHEN da.deg < db.deg
                    OR (da.deg = db.deg AND ue.a < ue.b)
                  THEN ue.b ELSE ue.a END AS hi,
             CASE WHEN da.deg < db.deg
                    OR (da.deg = db.deg AND ue.a < ue.b)
                  THEN db.deg ELSE da.deg END AS hideg
      FROM ue JOIN deg da ON da.node = ue.a
              JOIN deg db ON db.node = ue.b),
    wed AS (SELECT x.hi AS v, y.hi AS w
            FROM o x JOIN o y ON x.lo = y.lo
            WHERE x.hideg < y.hideg
               OR (x.hideg = y.hideg AND x.hi < y.hi)),
    tri AS (SELECT COUNT(*) AS n_triangles
            FROM wed JOIN o ON o.lo = wed.v AND o.hi = wed.w),
    ns AS (SELECT COUNT(*) AS n_nodes,
                  CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
           FROM deg),
    ne AS (SELECT COUNT(*) AS n_edges FROM ue)
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges > 0 THEN {cc} ELSE 0.0 END AS global_cc6
    FROM ns CROSS JOIN ne CROSS JOIN tri
    """


# --------------------------------------------------------------------------
# Personalized PageRank: teleport to a SEED SET instead of uniformly
# --------------------------------------------------------------------------

_PPR_INIT = ("CAST(FLOOR((CASE WHEN is_seed = 1 THEN CAST(1 AS DOUBLE)"
             " / ns ELSE CAST(0 AS DOUBLE) END) * 1000000 + 0.5) "
             "/ 1000000 AS DECIMAL(28,6))")

_PPR_NEW = ("CAST(FLOOR(((CASE WHEN is_seed = 1 THEN ({base}) / ns"
            " + ({damp}) * CAST(dang AS DOUBLE) / ns"
            " ELSE CAST(0 AS DOUBLE) END)"
            " + ({damp}) * COALESCE(CAST(inflow AS DOUBLE),"
            " CAST(0 AS DOUBLE))) * 1000000 + 0.5) "
            "/ 1000000 AS DECIMAL(28,6))")


def personalized_pagerank(edges: DataFrame, seed_pred: str,
                          iters: int = 3, damping: float = 0.85,
                          src: str = "src", dst: str = "dst",
                          weight: str = "w") -> DataFrame:
    """(domain, rank) after ``iters`` PERSONALIZED PageRank iterations:
    teleport mass — the (1-d) restart AND the dangling redistribution —
    lands only on the seed set (nodes satisfying ``seed_pred``, an
    engine-author SQL predicate over the node column ``d``), instead of
    uniformly. rank(v) becomes proximity TO THE SEEDS: the
    topic-focused crawl prior / related-domain score (Haveliwala,
    Topic-Sensitive PageRank, WWW 2002). Same quantized-decimal
    discipline, shuffle structure, and lineage cuts as :func:`pagerank`
    — only the two teleport terms differ."""
    # lazy cut: same lineage truncation, but materialization folds into
    # the consuming job instead of a separate barrier job per call
    # (interleaved A/B at sf0.1: lazy 1.55 s vs eager 1.68 s floor)
    edges = lineage_cut(edges)
    nodes = (edges.select(F.col(src).alias("d"))
             .union(edges.select(F.col(dst).alias("d"))).distinct()
             .withColumn("is_seed",
                         F.expr(f"CASE WHEN {seed_pred} THEN 1"
                                f" ELSE 0 END")))
    ns_row = nodes.agg(F.sum("is_seed").alias("ns"))
    outw = (edges.groupBy(src).agg(F.sum(weight).alias("ow"))
            .withColumnRenamed(src, "o_src"))
    ew = edges.join(outw, F.col(src) == F.col("o_src")).select(
        F.col(src).alias("e_src"), F.col(dst).alias("e_dst"),
        F.col(weight).cast("bigint").alias("w"), "ow")
    ranks = (nodes.crossJoin(ns_row)
             .select("d", "is_seed", F.expr(_PPR_INIT).alias("r")))
    base = f"CAST({(1.0 - damping)!r} AS DOUBLE)"
    damp = f"CAST({damping!r} AS DOUBLE)"
    new_rank = _PPR_NEW.format(base=base, damp=damp)
    for _ in range(iters):
        contrib = (ranks.join(ew, F.col("d") == F.col("e_src"))
                   .select(F.col("e_dst").alias("d2"),
                           F.expr(_CONTRIB).alias("c")))
        inflow = contrib.groupBy("d2").agg(F.sum("c").alias("inflow"))
        dang = (ranks.join(outw, F.col("d") == F.col("o_src"),
                           "left_anti")
                .agg(F.coalesce(F.sum("r"),
                                F.lit(0).cast("decimal(28,6)"))
                     .alias("dang")))
        ranks = lineage_cut(
            nodes.join(inflow, F.col("d") == F.col("d2"), "left")
            .crossJoin(dang).crossJoin(ns_row)
            .select("d", "is_seed", F.expr(new_rank).alias("r")))
    return ranks.select(F.col("d").alias("domain"),
                        F.col("r").cast("double").alias("rank"))


def personalized_pagerank_sql(edges_sql: str, seed_pred: str,
                              iters: int = 3,
                              damping: float = 0.85) -> str:
    """DuckDB oracle for :func:`personalized_pagerank` — the unrolled
    iteration with the seeded teleport terms."""
    base = f"CAST({(1.0 - damping)!r} AS DOUBLE)"
    damp = f"CAST({damping!r} AS DOUBLE)"
    new_rank = _PPR_NEW.format(base=base, damp=damp)
    parts = [f"""
    WITH edges AS ({edges_sql}),
    nodes AS (SELECT d, CASE WHEN {seed_pred} THEN 1 ELSE 0 END
                AS is_seed
              FROM (SELECT src AS d FROM edges
                    UNION SELECT dst FROM edges)),
    nsr AS (SELECT SUM(is_seed) AS ns FROM nodes),
    outw AS (SELECT src AS o_src, SUM(w) AS ow FROM edges GROUP BY src),
    ew AS (SELECT e.src AS e_src, e.dst AS e_dst,
                  CAST(e.w AS BIGINT) AS w, o.ow
           FROM edges e JOIN outw o ON e.src = o.o_src),
    r0 AS (SELECT d, is_seed, {_PPR_INIT} AS r FROM nodes, nsr)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
    inf{i} AS (SELECT ew.e_dst AS d2, SUM({_CONTRIB}) AS inflow
               FROM r{i - 1} jr JOIN ew ON jr.d = ew.e_src
               GROUP BY ew.e_dst),
    dg{i} AS (SELECT COALESCE(SUM(r), CAST(0 AS DECIMAL(28,6))) AS dang
              FROM r{i - 1}
              WHERE d NOT IN (SELECT o_src FROM outw)),
    r{i} AS (SELECT n.d, n.is_seed, {new_rank} AS r
             FROM nodes n CROSS JOIN nsr CROSS JOIN dg{i}
             LEFT JOIN inf{i} i ON i.d2 = n.d)""")
    parts.append(f"""
    SELECT d AS domain, CAST(r AS DOUBLE) AS rank FROM r{iters}""")
    return "".join(parts)


def local_clustering(edges: DataFrame) -> DataFrame:
    """(domain, degree, n_triangles, local_cc6): per-NODE triangle
    counts and local clustering coefficient 2·t(v) / (deg(v)·(deg(v)−1))
    — the node-level readout of :func:`triangle_count` (a domain whose
    neighborhood is a clique is a link-farm suspect even when the
    global transitivity looks normal). Same degree-oriented wedge
    enumeration; each closed triangle is credited to ALL THREE corners
    by unioning the three corner projections before one count — still
    no all-pairs stage, one extra union over the (small) triangle set.
    Nodes with degree < 2 report 0 triangles and cc 0."""
    from ..functions.rounding import round6u
    und = _sym_und(edges)
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg")) \
             .withColumnRenamed("a", "node")
    ue = und.filter(F.col("a") < F.col("b"))
    j = (ue
         .join(deg.select(F.col("node").alias("a"),
                          F.col("deg").alias("da")), "a")
         .join(deg.select(F.col("node").alias("b"),
                          F.col("deg").alias("db")), "b"))
    lo_first = ((F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db"))
                   & (F.col("a") < F.col("b"))))
    # oriented feeds THREE subtrees (both wedge sides + the closing
    # join): cut it so the degree-orientation join pipeline runs once
    # (r13 interleaved A/B on the triangle census: 2.23-2.28 ->
    # 1.60-1.65 s at sf0.1; guide §3.3)
    oriented = lineage_cut(j.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(lo_first, F.col("db")).otherwise(F.col("da"))
        .alias("hideg")))
    x = oriented.select("lo", F.col("hi").alias("v"),
                        F.col("hideg").alias("dv"))
    y = oriented.select("lo", F.col("hi").alias("w"),
                        F.col("hideg").alias("dw"))
    wedges = x.join(y, "lo").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w"))))
    closing = oriented.select(F.col("lo").alias("v"),
                              F.col("hi").alias("w"))
    # tris feeds the three corner projections below — cut it so the
    # wedge-close join runs once, not once per corner
    tris = lineage_cut(
        wedges.join(closing, ["v", "w"]).select("lo", "v", "w"))
    corners = (tris.select(F.col("lo").alias("node"))
               .unionByName(tris.select(F.col("v").alias("node")))
               .unionByName(tris.select(F.col("w").alias("node"))))
    per_node = corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles"))
    return (deg.join(per_node, "node", "left")
            .select(F.col("node").alias("domain"),
                    F.col("deg").cast("long").alias("degree"),
                    F.coalesce("n_triangles", F.lit(0)).cast("long")
                    .alias("n_triangles"),
                    F.when(F.col("deg") >= 2, round6u(
                        2.0 * F.coalesce("n_triangles", F.lit(0))
                        / (F.col("deg") * (F.col("deg") - 1))))
                    .otherwise(F.lit(0.0)).alias("local_cc6")))


def local_clustering_sql(edges_sql: str) -> str:
    """DuckDB oracle for :func:`local_clustering`."""
    from ..functions.rounding import round6u_sql
    cc = round6u_sql("2.0 * COALESCE(pn.t, 0) / (d.deg * (d.deg - 1))")
    return f"""
    WITH raw AS ({edges_sql}),
    e AS (SELECT CAST(src AS VARCHAR) AS a, CAST(dst AS VARCHAR) AS b
          FROM raw WHERE src <> dst),
    und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
    deg AS (SELECT a AS node, COUNT(*) AS deg FROM und GROUP BY 1),
    ue AS (SELECT a, b FROM und WHERE a < b),
    o AS (
      SELECT CASE WHEN da.deg < db.deg
                    OR (da.deg = db.deg AND ue.a < ue.b)
                  THEN ue.a ELSE ue.b END AS lo,
             CASE WHEN da.deg < db.deg
                    OR (da.deg = db.deg AND ue.a < ue.b)
                  THEN ue.b ELSE ue.a END AS hi,
             CASE WHEN da.deg < db.deg
                    OR (da.deg = db.deg AND ue.a < ue.b)
                  THEN db.deg ELSE da.deg END AS hideg
      FROM ue JOIN deg da ON da.node = ue.a
              JOIN deg db ON db.node = ue.b),
    wed AS (SELECT x.lo, x.hi AS v, y.hi AS w
            FROM o x JOIN o y ON x.lo = y.lo
            WHERE x.hideg < y.hideg
               OR (x.hideg = y.hideg AND x.hi < y.hi)),
    tris AS (SELECT wed.lo, wed.v, wed.w
             FROM wed JOIN o ON o.lo = wed.v AND o.hi = wed.w),
    corners AS (SELECT lo AS node FROM tris
                UNION ALL SELECT v FROM tris
                UNION ALL SELECT w FROM tris),
    pn AS (SELECT node, COUNT(*) AS t FROM corners GROUP BY 1)
    SELECT d.node AS domain, CAST(d.deg AS BIGINT) AS degree,
           CAST(COALESCE(pn.t, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.deg >= 2 THEN {cc}
                ELSE 0.0 END AS local_cc6
    FROM deg d LEFT JOIN pn ON pn.node = d.node
    """
