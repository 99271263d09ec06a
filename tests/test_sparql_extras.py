# -*- coding: utf-8 -*-
"""SPARQL aggregates, solution modifiers, VALUES, ASK, DESCRIBE and
UPDATE ... WHERE (operators/bgp.py)."""
import pytest
from pyspark.sql import functions as F

from rdf_converter_spark.operators.bgp import (
    ask, bgp_aggregate, bgp_match, describe, solution_modifiers,
)

TRIPLES = [
    ("a", "type", "Person"),
    ("b", "type", "Person"),
    ("c", "type", "Place"),
    ("a", "knows", "b"),
    ("b", "knows", "a"),
    ("b", "knows", "c"),
    ("a", "name", "Alice"),
    ("b", "name", "Bob"),
    ("c", "name", "Cave"),
]


@pytest.fixture(scope="module")
def triples(spark):
    return spark.createDataFrame(TRIPLES, ["subj", "pred", "obj"])


# ---------------------------------------------------------------- VALUES

def test_values_constrains_shared_var(triples):
    out = bgp_match(
        triples, [("?s", "type", "?t")],
        values=[{"s": "a"}, {"s": "c"}],
    )
    assert sorted((r.s, r.t) for r in out.collect()) == [
        ("a", "Person"), ("c", "Place")]


def test_values_new_var_cross_joins(triples):
    out = bgp_match(
        triples, [("?s", "type", "Place")],
        values=[{"tag": "x"}, {"tag": "y"}],
    )
    assert sorted((r.s, r.tag) for r in out.collect()) == [
        ("c", "x"), ("c", "y")]


def test_values_ragged_rows_are_undef(triples):
    # rows binding different variables are legal since r6: a missing
    # key is UNDEF (§10.2) — row 1 constrains only ?s, row 2 only ?t
    out = bgp_match(triples, [("?s", "type", "?t")],
                    values=[{"s": "a"}, {"t": "Person"}])
    assert sorted((r.s, r.t) for r in out.collect()) == [
        ("a", "Person"),   # matches row 1 ...
        ("a", "Person"),   # ... AND row 2: twice in the bag
        ("b", "Person"),   # row 2 only
    ]


def test_values_explicit_none_is_undef(triples):
    # the Python API spells UNDEF as None (or a missing key)
    out = bgp_match(triples, [("?s", "type", "?t")],
                    values=[{"s": "c", "t": None}])
    assert [(r.s, r.t) for r in out.collect()] == [("c", "Place")]


# ------------------------------------------------------------ aggregates

def test_group_by_count(triples):
    out = bgp_aggregate(
        triples, [("?s", "knows", "?o")],
        group_by=["?s"], aggregates={"n": "COUNT(*)"},
    )
    assert sorted((r.s, r.n) for r in out.collect()) == [("a", 1), ("b", 2)]


def test_implicit_group_and_distinct_agg(triples):
    out = bgp_aggregate(
        triples, [("?s", "type", "?t")],
        group_by=[], aggregates={
            "n": "COUNT(*)", "types": "COUNT(DISTINCT ?t)"},
    )
    row = out.collect()[0]
    assert (row.n, row.types) == (3, 2)


def test_having_filters_groups(triples):
    out = bgp_aggregate(
        triples, [("?s", "knows", "?o")],
        group_by=["?s"], aggregates={"n": "COUNT(*)"},
        having="?n > 1",
    )
    assert [(r.s, r.n) for r in out.collect()] == [("b", 2)]


def test_aggregate_unbound_var_raises(triples):
    with pytest.raises(ValueError, match="unbound"):
        bgp_aggregate(triples, [("?s", "knows", "?o")],
                      group_by=["?s"], aggregates={"n": "SUM(?zzz)"})


# ------------------------------------------------------------- modifiers

def test_order_limit_offset(triples):
    sol = bgp_match(triples, [("?s", "name", "?n")])
    out = solution_modifiers(sol, order_by=["?n"], limit=2, offset=1)
    assert [r.n for r in out.collect()] == ["Bob", "Cave"]


def test_order_desc_and_distinct(triples):
    sol = bgp_match(triples, [("?s", "type", "?t")]).select("t")
    out = solution_modifiers(sol, distinct=True, order_by=["-?t"])
    assert [r.t for r in out.collect()] == ["Place", "Person"]


def test_offset_without_order_raises(triples):
    sol = bgp_match(triples, [("?s", "name", "?n")])
    with pytest.raises(ValueError, match="OFFSET"):
        solution_modifiers(sol, offset=1)


def test_order_by_unknown_var_raises(triples):
    sol = bgp_match(triples, [("?s", "name", "?n")])
    with pytest.raises(ValueError, match="ORDER BY"):
        solution_modifiers(sol, order_by=["?zzz"])


def test_order_limit_compiles_to_take_ordered(triples):
    sol = bgp_match(triples, [("?s", "name", "?n")])
    plan = solution_modifiers(
        sol, order_by=["?n"], limit=2)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# ------------------------------------------------------------ ASK / DESCRIBE

def test_ask(triples):
    assert ask(triples, [("?s", "type", "Place")]) is True
    assert ask(triples, [("?s", "type", "Robot")]) is False


def test_describe_outgoing_and_incoming(spark):
    rows = [
        ("a", "type", "Person", True),
        ("a", "name", "Alice", False),
        ("b", "knows", "a", True),
        ("b", "name", "Bob", False),
    ]
    t = spark.createDataFrame(
        rows, ["subj", "pred", "obj", "obj_is_uri"])
    out = describe(t, [("?s", "type", "Person")], "?s")
    assert sorted((r.subj, r.pred) for r in out.collect()) == [
        ("a", "name"), ("a", "type")]
    inc = describe(t, [("?s", "type", "Person")], "?s", incoming=True)
    assert sorted((r.subj, r.pred) for r in inc.collect()) == [
        ("a", "name"), ("a", "type"), ("b", "knows")]


# ------------------------------------------------------------- UPDATE

def test_update_where_delete_insert(spark):
    from rdf_converter_spark.operators.bgp import update_where

    rows = [
        ("a", "type", "Person", False, None, None),
        ("a", "status", "active", False, None, None),
        ("b", "type", "Person", False, None, None),
        ("c", "type", "Place", False, None, None),
        ("c", "status", "active", False, None, None),  # not a Person: kept
    ]
    t = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_uri boolean, "
        "obj_lang string, obj_datatype string",
    )
    new = update_where(
        t,
        where=[("?s", "type", "Person")],
        delete=[("?s", "status", "active")],
        insert=[("?s", "status", "archived"),
                ("?s", "archivedBy", "http://x/job", True)],
    )
    got = sorted((r.subj, r.pred, r.obj, r.obj_is_uri)
                 for r in new.collect())
    assert got == [
        ("a", "archivedBy", "http://x/job", True),
        ("a", "status", "archived", False),
        ("a", "type", "Person", False),
        ("b", "archivedBy", "http://x/job", True),
        ("b", "status", "archived", False),
        ("b", "type", "Person", False),
        ("c", "status", "active", False),
        ("c", "type", "Place", False),
    ]


def test_update_where_insert_is_set_semantics(spark):
    from rdf_converter_spark.operators.bgp import update_where

    t = spark.createDataFrame(
        [("a", "type", "Person", False, None, None)],
        "subj string, pred string, obj string, obj_is_uri boolean, "
        "obj_lang string, obj_datatype string",
    )
    # inserting an already-present triple must not duplicate it
    new = update_where(
        t, where=[("?s", "type", "Person")],
        insert=[("?s", "type", "Person")],
    )
    assert new.count() == 1


def test_update_where_needs_a_template(spark):
    from rdf_converter_spark.operators.bgp import update_where

    t = spark.createDataFrame(
        [("a", "type", "Person")], ["subj", "pred", "obj"])
    with pytest.raises(ValueError, match="template"):
        update_where(t, where=[("?s", "type", "Person")])


# ---------------------------------------------------------------- sameAs


# ------------------------------------------------------------------ VoID
