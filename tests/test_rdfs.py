# -*- coding: utf-8 -*-
"""RDFS entailment materialization (operators/rdfs.py).

Semantics mirror the rho-df fragment rdflib/owlrl consumers get over
the reference's emitted graphs (``ld_converter.py:30-60`` binds the
EBU Core / MeMAD namespaces whose ontology carries the class and
property hierarchies).
"""
import pytest
from pyspark.sql import functions as F

from rdf_converter_spark.operators.rdfs import (
    RDFS, RDF_TYPE, rdfs_entail, transitive_closure,
)

SC = RDFS + "subClassOf"
SP = RDFS + "subPropertyOf"
DOM = RDFS + "domain"
RNG = RDFS + "range"


def _triples(spark, rows):
    return spark.createDataFrame(rows, ["subj", "pred", "obj"])


def _set(df):
    return {(r.subj, r.pred, r.obj) for r in df.collect()}


def test_transitive_closure_chain(spark):
    # a -> b -> c -> d closes with all 6 ancestor pairs
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["child", "parent"])
    out = {(r.child, r.parent) for r in transitive_closure(e).collect()}
    assert out == {("a", "b"), ("a", "c"), ("a", "d"),
                   ("b", "c"), ("b", "d"), ("c", "d")}


def test_transitive_closure_cycle_converges(spark):
    e = spark.createDataFrame([("a", "b"), ("b", "a")], ["child", "parent"])
    out = {(r.child, r.parent) for r in transitive_closure(e).collect()}
    assert out == {("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")}


def test_transitive_closure_empty(spark):
    e = spark.createDataFrame([], "child string, parent string")
    assert transitive_closure(e).count() == 0


def test_rdfs9_type_inheritance_up_closed_chain(spark):
    t = _triples(spark, [
        ("A", SC, "B"), ("B", SC, "C"), ("C", SC, "D"),
        ("x", RDF_TYPE, "A"),
    ])
    out = _set(rdfs_entail(t))
    for cls in ("A", "B", "C", "D"):
        assert ("x", RDF_TYPE, cls) in out
    # closed hierarchy is materialized too (rdfs11)
    assert ("A", SC, "D") in out


def test_rdfs7_superproperty_and_domain_on_super_fires(spark):
    # domain declared on the SUPER-property must still type subjects
    # reached through the sub-property (rdfs7 runs before rdfs2)
    t = _triples(spark, [
        ("by", SP, "party"), ("party", SP, "involves"),
        ("involves", DOM, "Interaction"),
        ("o1", "by", "c1"),
    ])
    out = _set(rdfs_entail(t))
    assert ("o1", "party", "c1") in out
    assert ("o1", "involves", "c1") in out
    assert ("o1", RDF_TYPE, "Interaction") in out


def test_rdfs3_range_types_only_uri_objects(spark):
    rows = [
        ("name", RNG, "Label", True),
        ("c1", "name", "Alice", False),   # literal object: no typing
        ("c2", "name", "http://x/l1", True),
    ]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj", "is_uri"])
    out = _set(rdfs_entail(t, uri_flag="is_uri"))
    assert ("http://x/l1", RDF_TYPE, "Label") in out
    assert ("Alice", RDF_TYPE, "Label") not in out


def test_rdfs3_without_flag_fires_unconditionally(spark):
    t = _triples(spark, [
        ("name", RNG, "Label"),
        ("c1", "name", "Alice"),
    ])
    out = _set(rdfs_entail(t))
    assert ("Alice", RDF_TYPE, "Label") in out


def test_derived_types_inherit(spark):
    # rdfs2 type (from domain) must itself climb the class hierarchy
    t = _triples(spark, [
        ("PlacedOrder", SC, "Event"), ("Event", SC, "Entity"),
        ("by", DOM, "PlacedOrder"),
        ("o1", "by", "c1"),
    ])
    out = _set(rdfs_entail(t))
    assert ("o1", RDF_TYPE, "PlacedOrder") in out
    assert ("o1", RDF_TYPE, "Event") in out
    assert ("o1", RDF_TYPE, "Entity") in out


def test_input_preserved_and_deduplicated(spark):
    t = _triples(spark, [
        ("x", "p", "y"), ("x", "p", "y"),  # duplicate in
        ("A", SC, "B"), ("x", RDF_TYPE, "A"),
    ])
    out = rdfs_entail(t)
    rows = out.collect()
    assert len(rows) == len(set(map(tuple, rows)))  # set semantics
    s = _set(out)
    assert ("x", "p", "y") in s and ("A", SC, "B") in s


def test_schema_side_broadcast_instance_never_exchanged(spark):
    # every rule join must broadcast the ontology-sized side
    t = _triples(spark, [
        ("A", SC, "B"), ("by", SP, "party"),
        ("by", DOM, "PlacedOrder"), ("by", RNG, "Purchaser"),
        ("o1", "by", "c1"), ("x", RDF_TYPE, "A"),
    ])
    plan = rdfs_entail(t)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Cartesian" not in plan


def test_incremental_equals_full_recompute(spark):
    from rdf_converter_spark.operators.rdfs import rdfs_entail_incremental

    schema = _triples(spark, [
        ("PlacedOrder", SC, "Event"), ("Event", SC, "Entity"),
        ("by", SP, "party"),
        ("by", DOM, "PlacedOrder"), ("by", RNG, "Purchaser"),
    ])
    old = _triples(spark, [
        ("x", RDF_TYPE, "Event"), ("o0", "by", "c0"),
    ])
    delta = _triples(spark, [
        ("o1", "by", "c1"), ("o2", "by", "c2"),
        ("y", RDF_TYPE, "PlacedOrder"),
    ])
    closed = rdfs_entail(old.unionByName(schema))
    inc = rdfs_entail_incremental(closed, delta, schema)
    full = rdfs_entail(old.unionByName(delta).unionByName(schema))
    assert _set(inc) == _set(full)
    # and the incremental result is itself a set (no dup rows)
    rows = inc.collect()
    assert len(rows) == len(set(map(tuple, rows)))


def test_incremental_store_never_exchanged(spark):
    from rdf_converter_spark.operators.rdfs import rdfs_entail_incremental

    schema = _triples(spark, [("by", DOM, "PlacedOrder")])
    closed = rdfs_entail(
        _triples(spark, [("o0", "by", "c0")]).unionByName(schema))
    # materialize the store so its side of the plan is a plain scan
    closed = closed.localCheckpoint()
    delta = _triples(spark, [("o1", "by", "c1")])
    inc = rdfs_entail_incremental(closed, delta, schema)
    plan = inc._jdf.queryExecution().executedPlan().toString()
    # the store is probed by a BROADCAST anti join: no shuffle
    # exchange may appear between the store scan and the union
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
