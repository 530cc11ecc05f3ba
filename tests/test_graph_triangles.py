"""Triangle census (operators/graph.triangle_count): known graphs,
orientation invariants, cross-engine oracle agreement."""

from __future__ import annotations

from pyspark.sql import Row

from etl_ender_turing_spark.operators.graph import (
    triangle_count, triangle_count_sql)


def _edges(spark, pairs):
    return spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])


def test_k4_has_four_triangles(spark):
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    r = triangle_count(_edges(spark, k4)).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 6, 4)
    # wedges = 4 nodes x C(3,2) = 12; transitivity = 12/12 = 1
    assert r.n_wedges == 12 and r.global_cc6 == 1.0


def test_path_and_star_have_none(spark):
    r = triangle_count(_edges(spark, [("a", "b"), ("b", "c"),
                                      ("c", "d")])).collect()[0]
    assert r.n_triangles == 0 and r.global_cc6 == 0.0
    star = [("hub", f"leaf{i}") for i in range(20)]
    r = triangle_count(_edges(spark, star)).collect()[0]
    assert (r.n_triangles, r.n_wedges) == (0, 190)


def test_direction_duplicates_and_self_loops_collapse(spark):
    """(a,b), (b,a), repeats, and self-loops are ONE undirected edge /
    nothing — the census is over the simple undirected graph."""
    messy = [("a", "b"), ("b", "a"), ("a", "b"), ("a", "a"),
             ("b", "c"), ("c", "a")]
    r = triangle_count(_edges(spark, messy)).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (3, 3, 1)


def test_matches_duckdb_oracle_on_random_graph(spark):
    import duckdb

    import random
    random.seed(42)
    pairs = list({(f"n{random.randrange(30)}", f"n{random.randrange(30)}")
                  for _ in range(120)})
    got = triangle_count(_edges(spark, pairs)).collect()[0]
    vals = ", ".join(f"('{a}', '{b}')" for a, b in pairs)
    sql = triangle_count_sql(
        f"SELECT a AS src, b AS dst, 1 AS w FROM (VALUES {vals}) t(a, b)")
    exp = duckdb.connect().execute(sql).fetchone()
    assert (got.n_nodes, got.n_edges, got.n_wedges, got.n_triangles,
            got.global_cc6) == exp


def test_local_clustering_on_known_graph(spark):
    from etl_ender_turing_spark.operators.graph import local_clustering

    # triangle a-b-c plus pendant d off a
    got = {r.domain: r for r in local_clustering(_edges(
        spark, [("a", "b"), ("b", "c"), ("c", "a"),
                ("a", "d")])).collect()}
    assert got["b"].n_triangles == 1 and got["b"].local_cc6 == 1.0
    # a: deg 3, one triangle among C(3,2)=3 neighbor pairs -> 1/3
    assert got["a"].degree == 3
    assert abs(got["a"].local_cc6 - 0.333333) < 1e-9
    assert got["d"].n_triangles == 0 and got["d"].local_cc6 == 0.0


def test_local_counts_sum_to_three_times_global(spark):
    import random

    from etl_ender_turing_spark.operators.graph import (
        local_clustering, triangle_count,
    )
    random.seed(7)
    pairs = list({(f"n{random.randrange(15)}", f"n{random.randrange(15)}")
                  for _ in range(60)})
    tot = triangle_count(_edges(spark, pairs)).collect()[0].n_triangles
    loc = sum(r.n_triangles for r in
              local_clustering(_edges(spark, pairs)).collect())
    assert loc == 3 * tot


def test_sym_cache_reuses_and_clears(spark):
    """Repeated triangle/clustering calls over the SAME edge plan must
    share ONE materialized edge list (the barrier's shared cut, keyed by
    app id + canonical plan), and clear_fixture_cache must release it —
    the unbounded CacheManager-growth regression."""
    from etl_ender_turing_spark.functions import barrier
    from etl_ender_turing_spark.operators import graph as G
    from etl_ender_turing_spark.plans.llm_catalog import (
        clear_fixture_cache)

    from pyspark.sql import functions as F

    clear_fixture_cache()
    # parquet-derived edges (the catalog's shape): separately-built
    # identical plans canonicalize to the SAME cache key — RDD-backed
    # createDataFrame plans would not, which is fine (catalog edge
    # lists always come off a source scan)
    def edges(extra: int):
        df = (spark.read
              .parquet("/root/testdata/sf0.001/documents.parquet")
              .select((F.col("doc_id") % 20).cast("string").alias("src"),
                      (F.col("doc_id") % 7).cast("string").alias("dst")))
        return df if not extra else df.limit(300)
    G.triangle_count(edges(0)).collect()
    assert len(barrier._SHARED_CUTS) == 1
    G.local_clustering(edges(0)).collect()
    G.triangle_count(edges(0)).collect()
    assert len(barrier._SHARED_CUTS) == 1   # same plan -> same entry
    # a DIFFERENT edge plan gets its own entry
    G.triangle_count(edges(1)).collect()
    assert len(barrier._SHARED_CUTS) == 2
    clear_fixture_cache()
    assert len(barrier._SHARED_CUTS) == 0
