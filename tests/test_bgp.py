# -*- coding: utf-8 -*-
"""Basic-graph-pattern matching (operators/bgp.py).

Semantics mirror SPARQL BGP evaluation over a triple set (the
reference's graphs are queried with rdflib's SPARQL engine; here the
triple table is the graph).
"""
import pytest
from pyspark.sql import functions as F

from rdf_converter_spark.operators.bgp import bgp_match

TRIPLES = [
    # (subj, pred, obj)
    ("a", "type", "Person"),
    ("b", "type", "Person"),
    ("c", "type", "Place"),
    ("a", "knows", "b"),
    ("b", "knows", "a"),
    ("b", "knows", "c"),
    ("a", "name", "Alice"),
    ("b", "name", "Bob"),
    ("c", "name", "Cave"),
    ("x", "likes", "x"),
    ("y", "likes", "z"),
]


@pytest.fixture(scope="module")
def triples(spark):
    return spark.createDataFrame(TRIPLES, ["subj", "pred", "obj"])


def test_single_pattern_constant_filter(triples):
    out = bgp_match(triples, [("?s", "type", "Person")])
    assert out.columns == ["s"]
    assert sorted(r.s for r in out.collect()) == ["a", "b"]


def test_join_on_shared_variable(triples):
    out = bgp_match(triples, [
        ("?s", "type", "Person"),
        ("?s", "knows", "?o"),
        ("?o", "name", "?n"),
    ])
    rows = sorted((r.s, r.o, r.n) for r in out.collect())
    assert rows == [("a", "b", "Bob"), ("b", "a", "Alice"),
                    ("b", "c", "Cave")]


def test_repeated_variable_within_pattern(triples):
    # ?x likes ?x matches only the self-loop
    out = bgp_match(triples, [("?x", "likes", "?x")])
    assert [r.x for r in out.collect()] == ["x"]


def test_most_constrained_pattern_seeds_join(triples):
    # written least-constrained first; the planner must still connect
    out = bgp_match(triples, [
        ("?s", "?p", "?o"),
        ("?s", "type", "Place"),
    ])
    rows = sorted((r.s, r.p, r.o) for r in out.collect())
    assert rows == [("c", "name", "Cave"), ("c", "type", "Place")]


def test_disconnected_pattern_raises(triples):
    with pytest.raises(ValueError, match="disconnected"):
        bgp_match(triples, [
            ("?a", "type", "Person"),
            ("?b", "name", "?n"),  # no shared variable -> cartesian
        ])


def test_all_constant_pattern_raises(triples):
    with pytest.raises(ValueError, match="all-constant"):
        bgp_match(triples, [("a", "type", "Person")])


def test_empty_bgp_raises(triples):
    with pytest.raises(ValueError, match="empty"):
        bgp_match(triples, [])


def test_optional_binds_where_matched_nulls_elsewhere(triples):
    out = bgp_match(
        triples,
        [("?s", "type", "Person")],
        optional=[[("?s", "knows", "?o"), ("?o", "type", "Place")]],
    )
    rows = sorted(
        (r.s, r.o) for r in out.collect()
    )
    # a knows nobody typed Place -> null; b knows c (a Place)
    assert rows == [("a", None), ("b", "c")]


def test_optional_group_must_share_a_variable(triples):
    with pytest.raises(ValueError, match="OPTIONAL"):
        bgp_match(
            triples,
            [("?s", "type", "Person")],
            optional=[[("?x", "likes", "?y")]],
        )


def test_property_table_pivot(triples):
    from rdf_converter_spark.operators.bgp import property_table

    pt = property_table(
        triples, {"typ": "type", "nm": "name", "friend": "knows"}
    )
    rows = {r.entity: (r.typ, r.nm, r.friend) for r in pt.collect()}
    assert rows["a"] == ("Person", "Alice", "b")
    # b knows a and c -> deterministic min
    assert rows["b"] == ("Person", "Bob", "a")
    # x has none of the pivoted predicates -> pre-agg filter drops it
    assert "x" not in rows


def test_property_table_single_aggregate_plan(triples):
    from rdf_converter_spark.operators.bgp import property_table

    pt = property_table(triples, {"typ": "type", "nm": "name"})
    plan = pt._jdf.queryExecution().executedPlan().toString()
    # one hash-aggregate pair (partial + final), no pivot/expand node
    assert "Expand" not in plan


def test_no_cartesian_in_plan(triples):
    out = bgp_match(triples, [
        ("?s", "type", "Person"),
        ("?s", "knows", "?o"),
    ])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_filter_sparql_var_syntax(triples):
    out = bgp_match(
        triples,
        [("?s", "type", "Person"), ("?s", "name", "?n")],
        filters=["?n RLIKE '^A'"],
    )
    assert [(r.s, r.n) for r in out.collect()] == [("a", "Alice")]


def test_filter_plain_sql_identifiers(triples):
    out = bgp_match(
        triples,
        [("?s", "type", "?t")],
        filters=["t IN ('Place')", "length(s) = 1"],
    )
    assert [r.s for r in out.collect()] == ["c"]


def test_filter_unbound_variable_raises(triples):
    with pytest.raises(ValueError, match="unbound"):
        bgp_match(triples, [("?s", "type", "Person")],
                  filters=["?nope = 'x'"])


def test_filter_null_optional_is_error_is_false(triples):
    # SPARQL: FILTER over an unbound (null) variable errors -> false
    out = bgp_match(
        triples,
        [("?s", "type", "Person")],
        optional=[[("?s", "knows", "?o"), ("?o", "type", "Place")]],
        filters=["?o <> 'zzz'"],
    )
    # a's ?o is null -> dropped; b's ?o = c survives
    assert [(r.s, r.o) for r in out.collect()] == [("b", "c")]


def test_union_pads_branch_only_variables_with_null(triples):
    from rdf_converter_spark.operators.bgp import bag_union

    out = bag_union([
        bgp_match(triples, [("?s", "type", "Person")]),
        bgp_match(triples, [("?s", "likes", "?w")]),
    ])
    assert out.columns == ["s", "w"]
    rows = sorted((r.s, r.w) for r in out.collect())
    assert rows == [("a", None), ("b", None), ("x", "x"), ("y", "z")]


def test_union_is_bag_not_set(triples):
    from rdf_converter_spark.operators.bgp import bag_union

    out = bag_union([
        bgp_match(triples, [("?s", "type", "Person")]),
        bgp_match(triples, [("?s", "type", "Person")]),
    ])
    assert sorted(r.s for r in out.collect()) == ["a", "a", "b", "b"]


def test_union_per_branch_filters(triples):
    from rdf_converter_spark.operators.bgp import bag_union

    out = bag_union([
        bgp_match(triples, [("?s", "type", "Person")],
                  filters=["?s = 'a'"]),
        bgp_match(triples, [("?s", "type", "Place")]),
    ])
    assert sorted(r.s for r in out.collect()) == ["a", "c"]


def test_union_validation(triples):
    from rdf_converter_spark.operators.bgp import bag_union

    with pytest.raises(ValueError, match="empty UNION"):
        bag_union([])


def test_construct_template_instantiation(triples):
    from rdf_converter_spark.operators.bgp import construct

    g = construct(
        triples,
        [("?s", "type", "Person"), ("?s", "knows", "?o")],
        template=[("?s", "friendOf", "?o"), ("?s", "a", "Friendly")],
    )
    rows = {(r.subj, r.pred, r.obj) for r in g.collect()}
    assert rows == {
        ("a", "friendOf", "b"), ("b", "friendOf", "a"),
        ("b", "friendOf", "c"),
        # constant-template triple deduplicates across solutions
        ("a", "a", "Friendly"), ("b", "a", "Friendly"),
    }


def test_construct_omits_unbound_optional_terms(triples):
    from rdf_converter_spark.operators.bgp import construct

    # ?o binds only where the OPTIONAL matched; per the SPARQL spec
    # template triples with an unbound term are silently dropped
    g = construct(
        triples,
        [("?s", "type", "Person")],
        template=[("?s", "placeFriend", "?o")],
        optional=[[("?s", "knows", "?o"), ("?o", "type", "Place")]],
    )
    rows = {(r.subj, r.pred, r.obj) for r in g.collect()}
    assert rows == {("b", "placeFriend", "c")}


def test_construct_empty_template_raises(triples):
    from rdf_converter_spark.operators.bgp import construct

    with pytest.raises(ValueError, match="template"):
        construct(triples, [("?s", "type", "Person")], template=[])


def test_construct_single_bgp_evaluation(triples):
    from rdf_converter_spark.operators.bgp import construct

    # k template triples must not re-run the BGP joins k times: the
    # solution relation is joined once and fanned out via explode
    g = construct(
        triples,
        [("?s", "type", "Person"), ("?s", "knows", "?o")],
        template=[("?s", "p1", "?o"), ("?o", "p2", "?s"),
                  ("?s", "p3", "known")],
    )
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate") == 1  # one explode
    assert "Cartesian" not in plan


def test_minus_removes_compatible_solutions(triples):
    # persons MINUS those knowing someone typed Place
    out = bgp_match(
        triples,
        [("?s", "type", "Person")],
        minus=[[("?s", "knows", "?o"), ("?o", "type", "Place")]],
    )
    assert [r.s for r in out.collect()] == ["a"]


def test_minus_no_shared_variable_raises(triples):
    with pytest.raises(ValueError, match="MINUS"):
        bgp_match(triples, [("?s", "type", "Person")],
                  minus=[[("?x", "likes", "?y")]])


def test_minus_then_filter_order(triples):
    out = bgp_match(
        triples,
        [("?s", "type", "?t")],
        minus=[[("?s", "knows", "?z")]],
        filters=["?t <> 'Place'"],
    )
    # a,b know someone -> removed; c is Place -> filtered; x,y untyped
    assert out.collect() == []


def test_exists_keeps_correlated_solutions(triples):
    out = bgp_match(
        triples,
        [("?s", "type", "Person")],
        exists=[[("?s", "knows", "?o"), ("?o", "type", "Place")]],
    )
    assert [r.s for r in out.collect()] == ["b"]
    assert out.columns == ["s"]  # EXISTS binds no new variables


def test_not_exists_filters_correlated_solutions(triples):
    out = bgp_match(
        triples,
        [("?s", "type", "Person")],
        not_exists=[[("?s", "knows", "?o"), ("?o", "type", "Place")]],
    )
    assert [r.s for r in out.collect()] == ["a"]


def test_exists_semi_join_preserves_duplicates(spark):
    # bag semantics: two identical required solutions both survive a
    # matching EXISTS (an inner join against the group would multiply
    # them by the number of group matches instead)
    t = spark.createDataFrame(
        [("a", "type", "P"), ("a", "type", "P"), ("a", "knows", "b"),
         ("a", "knows", "c")],
        ["subj", "pred", "obj"])
    out = bgp_match(t, [("?s", "type", "P")],
                    exists=[[("?s", "knows", "?o")]])
    assert [r.s for r in out.collect()] == ["a", "a"]


def test_uncorrelated_exists_is_global_gate(triples):
    # no shared variable: EXISTS keeps everything iff the group
    # matches anywhere; NOT EXISTS is the complement (MINUS would
    # raise here — the spec semantics differ)
    base = [("?s", "type", "Person")]
    assert sorted(
        r.s for r in bgp_match(
            triples, base, exists=[[("?x", "likes", "?y")]]).collect()
    ) == ["a", "b"]
    assert bgp_match(
        triples, base, not_exists=[[("?x", "likes", "?y")]],
    ).collect() == []
    assert bgp_match(
        triples, base, exists=[[("?x", "eats", "?y")]],
    ).collect() == []
    assert sorted(
        r.s for r in bgp_match(
            triples, base, not_exists=[[("?x", "eats", "?y")]]).collect()
    ) == ["a", "b"]


QUADS = [
    ("g1", "a", "type", "Person"),
    ("g1", "a", "name", "Alice"),
    ("g2", "a", "type", "Person"),   # same assertion, second graph
    ("g2", "b", "type", "Robot"),
    ("g2", "b", "sees", "a"),
]


@pytest.fixture(scope="module")
def quads(spark):
    return spark.createDataFrame(QUADS, ["graph", "subj", "pred", "obj"])


def test_quad_constant_graph_scopes_match(quads):
    from rdf_converter_spark.operators.bgp import quad_match

    out = quad_match(quads, [("g2", "?s", "type", "?t")])
    rows = sorted((r.s, r.t) for r in out.collect())
    assert rows == [("a", "Person"), ("b", "Robot")]


def test_quad_variable_graph_binds_provenance(quads):
    from rdf_converter_spark.operators.bgp import quad_match

    # which graphs assert (a, type, Person)?
    out = quad_match(quads, [("?g", "a", "type", "Person")])
    assert sorted(r.g for r in out.collect()) == ["g1", "g2"]


def test_quad_cross_graph_join(quads):
    from rdf_converter_spark.operators.bgp import quad_match

    # robot in g2 sees someone named in g1
    out = quad_match(quads, [
        ("g2", "?r", "sees", "?x"),
        ("g1", "?x", "name", "?n"),
    ])
    assert [(r.r, r.x, r.n) for r in out.collect()] == [("b", "a", "Alice")]


def test_quad_constant_graph_prunes_partitions(spark, tmp_path):
    from rdf_converter_spark.operators.bgp import quad_match

    p = str(tmp_path / "q.parquet")
    spark.createDataFrame(QUADS, ["graph", "subj", "pred", "obj"]) \
        .write.partitionBy("graph").parquet(p)
    q = spark.read.parquet(p)
    out = quad_match(q, [("g2", "?s", "?p", "?o")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the constant graph term must land in PartitionFilters (pruned
    # at planning), not in the data filters
    assert "PartitionFilters" in plan
    assert "(graph" in plan.split("PartitionFilters")[1][:120]


def test_constant_filter_reaches_scan(spark, tmp_path):
    # constants must push down to the parquet reader
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(TRIPLES, ["subj", "pred", "obj"]).write.parquet(p)
    t = spark.read.parquet(p)
    out = bgp_match(t, [("?s", "type", "?o")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(pred), EqualTo(pred,type)" in plan


def test_bind_new_variable_and_filter_scope(triples):
    out = bgp_match(
        triples,
        [("?s", "type", "Person"), ("?s", "name", "?n")],
        binds=[("?u", "upper(?n)"), ("?tag", "concat(?u, '!')")],
        filters=["?tag = 'ALICE!'"],
    )
    rows = out.collect()
    assert [(r.s, r.n, r.u, r.tag) for r in rows] == [
        ("a", "Alice", "ALICE", "ALICE!")
    ]


def test_bind_rebinding_raises(triples):
    with pytest.raises(ValueError, match="already bound"):
        bgp_match(
            triples, [("?s", "name", "?n")], binds=[("?n", "upper(?n)")]
        )


def test_bind_unbound_reference_raises(triples):
    with pytest.raises(ValueError, match="unbound"):
        bgp_match(
            triples, [("?s", "name", "?n")], binds=[("?u", "upper(?x)")]
        )
