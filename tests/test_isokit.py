# -*- coding: utf-8 -*-
"""Blank-node isomorphism checker (operators/isokit.py).

The reference compares graphs by exact triple-set equality because its
converters emit ground terms only; isokit supplies the
``rdflib.compare.isomorphic`` equivalent (rdflib itself is not
installable here) for graphs that DO carry
blank nodes, e.g. anything read back through the full Turtle 1.1
parser. Covers: label-invariance, soundness (non-isomorphic graphs
rejected even when 1-WL alone cannot tell them apart), literal/bnode
homograph safety, multiplicity, self-loops, the Turtle round-trip,
and the fail-fast caps.
"""

import pytest

from pyspark.sql import functions as F

SCHEMA = (
    "subj string, pred string, obj string, obj_is_uri boolean, "
    "obj_lang string, obj_datatype string"
)
P = "http://ex/p"
Q = "http://ex/q"


def g(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def bn(s, p, o):
    return (s, p, o, True, None, None)


@pytest.fixture(scope="module")
def iso():
    from rdf_converter_spark.operators import isokit

    return isokit


def test_relabel_invariance(spark, iso):
    a = g(spark, [bn("_:a", P, "_:b"), bn("_:b", P, "http://x"),
                  ("_:a", Q, "lit", False, "fi", None)])
    b = g(spark, [bn("_:n1", P, "_:n2"), bn("_:n2", P, "http://x"),
                  ("_:n1", Q, "lit", False, "fi", None)])
    assert iso.isomorphic(a, b)


def test_structural_difference_rejected(spark, iso):
    a = g(spark, [bn("_:a", P, "_:b"), bn("_:b", P, "http://x")])
    c = g(spark, [bn("_:a", P, "_:b"), bn("_:a", P, "http://x")])
    assert not iso.isomorphic(a, c)


def test_ground_only_is_multiset_equality(spark, iso):
    d = g(spark, [("http://s", P, "o", False, None, None)])
    e = g(spark, [("http://s", P, "o", False, None, None)])
    f = g(spark, [("http://s", P, "o2", False, None, None)])
    assert iso.isomorphic(d, e)
    assert not iso.isomorphic(d, f)
    # multiplicity matters: {t, t} != {t}
    d2 = d.unionByName(d)
    assert not iso.isomorphic(d, d2)


def test_lang_and_datatype_distinguish(spark, iso):
    a = g(spark, [("_:a", P, "x", False, "fi", None)])
    b = g(spark, [("_:a", P, "x", False, "sv", None)])
    c = g(spark, [("_:a", P, "x", False, None,
                   "http://www.w3.org/2001/XMLSchema#string")])
    assert not iso.isomorphic(a, b)
    assert not iso.isomorphic(a, c)


def test_literal_bnode_homograph_not_relabeled(spark, iso):
    """A LITERAL whose text is '_:b0' must survive canonicalization
    untouched (obj_is_uri gates the relabel join)."""
    h = g(spark, [("http://s", P, "_:b0", False, None, None)])
    row = iso.canonical_form(h).collect()[0]
    assert row["obj"] == "_:b0" and row["n"] == 1
    h2 = g(spark, [bn("http://s", P, "_:b0")])  # a real bnode object
    assert not iso.isomorphic(h, h2)


def test_wl_ambiguous_pair_rejected_exactly(spark, iso):
    """One 4-cycle vs two 2-cycles of unlabeled blank nodes: identical
    1-WL canonical forms, NOT isomorphic — the exact backtracking
    stage must reject, and exact=False must accept (documented
    WL-equivalence approximation)."""
    cyc4 = g(spark, [bn("_:1", P, "_:2"), bn("_:2", P, "_:3"),
                     bn("_:3", P, "_:4"), bn("_:4", P, "_:1")])
    two2 = g(spark, [bn("_:1", P, "_:2"), bn("_:2", P, "_:1"),
                     bn("_:3", P, "_:4"), bn("_:4", P, "_:3")])
    assert not iso.isomorphic(cyc4, two2)
    assert iso.isomorphic(cyc4, two2, exact=False)


def test_wl_ambiguous_pair_accepted_when_truly_isomorphic(spark, iso):
    cyc4 = g(spark, [bn("_:1", P, "_:2"), bn("_:2", P, "_:3"),
                     bn("_:3", P, "_:4"), bn("_:4", P, "_:1")])
    cyc4b = g(spark, [bn("_:w", P, "_:x"), bn("_:x", P, "_:y"),
                      bn("_:y", P, "_:z"), bn("_:z", P, "_:w")])
    assert iso.isomorphic(cyc4, cyc4b)
    two2 = g(spark, [bn("_:1", P, "_:2"), bn("_:2", P, "_:1"),
                     bn("_:3", P, "_:4"), bn("_:4", P, "_:3")])
    two2b = g(spark, [bn("_:q", P, "_:r"), bn("_:r", P, "_:q"),
                      bn("_:s", P, "_:t"), bn("_:t", P, "_:s")])
    assert iso.isomorphic(two2, two2b)


def test_self_loops(spark, iso):
    sl1 = g(spark, [bn("_:a", P, "_:a"), bn("_:b", P, "_:c"),
                    bn("_:c", P, "_:b")])
    sl2 = g(spark, [bn("_:z", P, "_:z"), bn("_:x", P, "_:y"),
                    bn("_:y", P, "_:x")])
    sl3 = g(spark, [bn("_:a", P, "_:a"), bn("_:b", P, "_:b"),
                    bn("_:c", P, "_:c")])
    assert iso.isomorphic(sl1, sl2)
    assert not iso.isomorphic(sl1, sl3)


def test_edge_cap_raises_instead_of_guessing(spark, iso):
    cyc4 = g(spark, [bn("_:1", P, "_:2"), bn("_:2", P, "_:3"),
                     bn("_:3", P, "_:4"), bn("_:4", P, "_:1")])
    two2 = g(spark, [bn("_:1", P, "_:2"), bn("_:2", P, "_:1"),
                     bn("_:3", P, "_:4"), bn("_:4", P, "_:3")])
    with pytest.raises(iso.AmbiguousIsomorphism):
        iso.isomorphic(cyc4, two2, exact_edge_cap=3)


def test_turtle_roundtrip_with_bnodes_is_isomorphic(spark, iso, tmp_path):
    """Serialize a bnode-bearing graph to N-Triples, read it back:
    skolemized labels differ, the graphs must still compare equal."""
    from rdf_converter_spark.graph import SparkGraph
    from rdf_converter_spark.sources.rdf import read_ntriples

    rows = [
        bn("_:auth", "http://ex/name", "http://ex/someone"),
        ("_:auth", "http://ex/label", "Auteur", False, "fr", None),
        bn("http://ex/doc", "http://ex/creator", "_:auth"),
        ("http://ex/doc", "http://ex/title", "T", False, None, None),
    ]
    a = SparkGraph(g(spark, rows))
    p = str(tmp_path / "g.nt")
    a.serialize(p, format="nt")
    back = read_ntriples(spark, p)
    # reader skolemizes per-document labels -> textual identity fails,
    # isomorphism must hold
    assert iso.isomorphic(a.df, back)
    assert SparkGraph(back).isomorphic(a)


def test_mixed_ground_and_bnode_sections(spark, iso):
    """Ground triples ride along unchanged; only bnode rows enter the
    refinement loop."""
    ground = [("http://s%d" % i, P, "v%d" % i, False, None, None)
              for i in range(20)]
    a = g(spark, ground + [bn("_:x", Q, "_:y"), bn("_:y", Q, "http://t")])
    b = g(spark, ground + [bn("_:u", Q, "_:v"), bn("_:v", Q, "http://t")])
    c = g(spark, ground[:19] + [("http://zz", P, "zz", False, None, None),
                                bn("_:u", Q, "_:v"),
                                bn("_:v", Q, "http://t")])
    assert iso.isomorphic(a, b)
    assert not iso.isomorphic(a, c)


def test_automorphic_twins_multiset_counts(spark, iso):
    """Two indistinguishable twins vs three: canonical forms must
    differ via the multiplicity column."""
    twins2 = g(spark, [bn("_:a", P, "http://t"), bn("_:b", P, "http://t")])
    twins3 = g(spark, [bn("_:a", P, "http://t"), bn("_:b", P, "http://t"),
                       bn("_:c", P, "http://t")])
    assert not iso.isomorphic(twins2, twins3)
    twins2b = g(spark, [bn("_:p", P, "http://t"), bn("_:q", P, "http://t")])
    assert iso.isomorphic(twins2, twins2b)
