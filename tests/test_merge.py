# -*- coding: utf-8 -*-
"""Incremental triple upsert and snapshot diff (operators/merge.py) on
hand-computable inputs, small enough to verify by eye."""

from rdf_converter_spark.operators.merge import upsert_triples


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
