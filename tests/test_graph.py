# -*- coding: utf-8 -*-
"""Graph analytics (operators/graph.py) + incremental triple upsert
(operators/merge.py) on hand-computable inputs. The sf0.01 DuckDB
oracles cover the same operators end-to-end; these pin the semantics
on graphs small enough to verify by eye."""

from pyspark.sql import functions as F

from rdf_converter_spark.operators.graph import (
    degree_stats,
    link_edges,
    pagerank,
    triangle_count,
)
from rdf_converter_spark.operators.merge import upsert_triples


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_degree_stats(spark):
    # 0->1, 0->2, 1->2: out degrees 2,1,0; in degrees 0,1,2
    got = {
        r["node"]: (r["out_degree"], r["in_degree"], r["degree"])
        for r in degree_stats(
            _edges(spark, [(0, 1), (0, 2), (1, 2)])
        ).collect()
    }
    assert got == {0: (2, 0, 2), 1: (1, 1, 2), 2: (0, 2, 2)}


def test_triangle_count_k4(spark):
    # K4 has C(4,3) = 4 triangles; direction and duplicate edges must
    # not matter (undirect + dedup happens inside)
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    n = triangle_count(_edges(spark, k4)).collect()[0]["n_triangles"]
    assert n == 4


def test_triangle_count_hub_plus_path(spark):
    # star (hub 0 to 1..4) has no triangle; closing 1-2 adds exactly one
    star = [(0, i) for i in range(1, 5)]
    assert (
        triangle_count(_edges(spark, star)).collect()[0]["n_triangles"]
        == 0
    )
    assert (
        triangle_count(_edges(spark, star + [(1, 2)])).collect()[0][
            "n_triangles"
        ]
        == 1
    )


def test_pagerank_matches_numpy_power_method(spark):
    pairs = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0)]
    got = {
        r["node"]: r["rank"]
        for r in pagerank(_edges(spark, pairs), iters=4).collect()
    }

    # reference: the same recurrence, dense
    n, d = 4, 0.85
    out = {0: [1, 2], 1: [2], 2: [0], 3: [0]}
    rank = {v: 1.0 / n for v in range(n)}
    for _ in range(4):
        nxt = {v: (1 - d) / n for v in range(n)}
        for u, targets in out.items():
            for v in targets:
                nxt[v] += d * rank[u] / len(targets)
        rank = nxt
    for v in range(n):
        assert abs(got[v] - rank[v]) < 1e-12, (v, got[v], rank[v])
    # dangling node 3 keeps only teleport mass
    assert abs(got[3] - (1 - d) / n) < 1e-12


def test_link_edges_deterministic_and_skewed(spark):
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    docs = spark.read.parquet(sf_dir + "/documents.parquet")
    e = link_edges(docs)
    deg = degree_stats(e)
    hubs = deg.filter(F.col("node") < 10).agg(
        F.min("in_degree").alias("m")
    ).collect()[0]["m"]
    non_hub_max = deg.filter(F.col("node") >= 10).agg(
        F.max("in_degree").alias("m")
    ).collect()[0]["m"]
    # hub pages dominate in-degree — that's the skew the salting /
    # degree-orientation paths exist for
    assert hubs > non_hub_max
    assert e.count() == e.dropDuplicates().count()


def test_upsert_triples_semantics(spark):
    base = spark.createDataFrame(
        [
            ("s1", "p", "a"),
            ("s1", "p", "b"),  # multi-valued group, replaced as a unit
            ("s1", "q", "x"),
            ("s2", "p", "y"),
        ],
        "subj string, pred string, obj string",
    )
    delta = spark.createDataFrame(
        [
            ("s1", "p", "NEW"),
            ("s2", "p", None),  # tombstone: deletes the whole group
            ("s3", "p", "z"),  # brand-new key appends
        ],
        "subj string, pred string, obj string",
    )
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in upsert_triples(base, delta).collect()
    }
    assert got == {
        ("s1", "p", "NEW"),
        ("s1", "q", "x"),
        ("s3", "p", "z"),
    }


def test_upsert_is_idempotent(spark):
    base = spark.createDataFrame(
        [("s1", "p", "a")], "subj string, pred string, obj string"
    )
    delta = spark.createDataFrame(
        [("s1", "p", "b")], "subj string, pred string, obj string"
    )
    once = upsert_triples(base, delta)
    twice = upsert_triples(once, delta)
    assert sorted(once.collect()) == sorted(twice.collect())


def test_khop_neighborhood_min_hops(spark):
    from rdf_converter_spark.operators.graph import khop_neighborhood

    # 0 -> 1 -> 2 -> 3, plus shortcut 0 -> 3 (min hop wins), 9 isolated
    edges = _edges(spark, [(0, 1), (1, 2), (2, 3), (0, 3), (8, 9)])
    src = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["hops"] for r in
           khop_neighborhood(edges, src, k=6).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1}
    # k truncates: only 1 hop explored
    got1 = {r["node"]: r["hops"] for r in
            khop_neighborhood(edges, src, k=1).collect()}
    assert got1 == {0: 0, 1: 1, 3: 1}


def test_snapshot_diff_labels(spark):
    from rdf_converter_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [("s1", "p", "a"), ("s2", "p", "b"), ("s3", "p", "c")],
        "subj string, pred string, obj string",
    )
    new = spark.createDataFrame(
        [("s1", "p", "a"),      # unchanged -> absent from diff
         ("s2", "p", "B2"),     # changed -> removed old + added new
         ("s4", "p", "d")],     # brand new
        "subj string, pred string, obj string",
    )
    got = {(r["subj"], r["obj"]): r["change"]
           for r in snapshot_diff(old, new).collect()}
    assert got == {
        ("s2", "b"): "removed",
        ("s2", "B2"): "added",
        ("s3", "c"): "removed",
        ("s4", "d"): "added",
    }


def test_snapshot_diff_null_obj_unchanged(spark):
    """An unchanged (s, p, NULL) row must NOT appear as removed+added:
    the join is null-safe on obj."""
    from rdf_converter_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [("s1", "p", None), ("s2", "p", "x")],
        "subj string, pred string, obj string",
    )
    new = spark.createDataFrame(
        [("s1", "p", None), ("s3", "p", None)],
        "subj string, pred string, obj string",
    )
    got = {(r["subj"], r["obj"]): r["change"]
           for r in snapshot_diff(old, new).collect()}
    assert got == {("s2", "x"): "removed", ("s3", None): "added"}
