# -*- coding: utf-8 -*-
"""R2RML-lite mapping compiler (operators/r2rml.py).

Generalizes the reference's hard-coded per-field ``graph.add`` loops
(ld_converter.py / pa_converter.py / yle_converter.py) into a
declarative triples map.
"""
import pytest
from pyspark.sql import functions as F

from rdf_converter_spark.operators.r2rml import (
    RDF_TYPE, compile_template, r2rml_triples,
)

P = "http://x/p#"


@pytest.fixture(scope="module")
def people(spark):
    return spark.createDataFrame(
        [
            (1, "Alice", "fr", "a-b"),
            (2, "Bob", None, "c-c"),
            (None, "Ghost", "en", "d-e"),  # null subject ref
        ],
        "id long, name string, lang string, tags string",
    )


def _set(df):
    return {tuple(r) for r in df.collect()}


def test_basic_mapping(people):
    out = r2rml_triples(people, {
        "subject": {"template": "http://x/person/{id}",
                    "class": "http://x/Person"},
        "predicate_objects": [
            {"pred": P + "name", "column": "name"},
            {"pred": P + "langPage",
             "template": "http://x/lang/{lang}"},
        ],
    })
    s = _set(out.select("subj", "pred", "obj", "obj_is_uri"))
    assert ("http://x/person/1", RDF_TYPE, "http://x/Person", True) in s
    assert ("http://x/person/1", P + "name", "Alice", False) in s
    assert ("http://x/person/1", P + "langPage",
            "http://x/lang/fr", True) in s
    # NULL column -> that triple only is absent (R2RML null rule)
    assert not any(r[0] == "http://x/person/2" and r[1] == P + "langPage"
                   for r in s)
    assert ("http://x/person/2", P + "name", "Bob", False) in s
    # NULL subject reference suppresses the whole row
    assert not any("Ghost" in r[2] for r in s)


def test_split_multivalued_and_set_semantics(people):
    out = r2rml_triples(people, {
        "subject": {"template": "http://x/person/{id}"},
        "predicate_objects": [
            {"pred": P + "tag", "column": "tags", "split": "-"},
        ],
    })
    rows = sorted((r.subj, r.obj) for r in out.collect())
    # 'c-c' collapses to ONE triple (graph set semantics)
    assert rows == [
        ("http://x/person/1", "a"), ("http://x/person/1", "b"),
        ("http://x/person/2", "c"),
    ]


def test_datatype_and_lang_terms(people):
    out = r2rml_triples(people, {
        "subject": {"template": "http://x/person/{id}"},
        "predicate_objects": [
            {"pred": P + "id", "column": "id",
             "datatype": "http://www.w3.org/2001/XMLSchema#integer"},
            {"pred": P + "name", "column": "name", "lang": "en"},
        ],
    })
    r = {(t.pred, t.obj): (t.obj_datatype, t.obj_lang)
         for t in out.collect()}
    assert r[(P + "id", "1")] == (
        "http://www.w3.org/2001/XMLSchema#integer", None)
    assert r[(P + "name", "Alice")] == (None, "en")


def test_encode_percent_encoding(spark):
    df = spark.createDataFrame([("a b/c",)], "k string")
    out = r2rml_triples(df, {
        "subject": {"template": "http://x/item/{k}", "encode": True,
                    "class": "http://x/T"},
    })
    assert [r.subj for r in out.collect()] == ["http://x/item/a%20b%2Fc"]


def test_graph_column(people):
    out = r2rml_triples(people, {
        "subject": {"template": "http://x/person/{id}",
                    "class": "http://x/Person"},
    }, graph="people")
    assert set(out.columns) >= {"subj", "pred", "obj", "graph"}
    assert {r.graph for r in out.collect()} == {"people"}


def test_validation_errors(people):
    with pytest.raises(ValueError, match="subject map"):
        r2rml_triples(people, {"predicate_objects": []})
    with pytest.raises(ValueError, match="exactly one"):
        r2rml_triples(people, {
            "subject": {"template": "http://x/{id}"},
            "predicate_objects": [
                {"pred": P + "x", "template": "t{id}", "column": "name"}],
        })
    with pytest.raises(ValueError, match="mutually exclusive"):
        r2rml_triples(people, {
            "subject": {"template": "http://x/{id}"},
            "predicate_objects": [
                {"pred": P + "x", "column": "name",
                 "datatype": "d", "lang": "l"}],
        })
    with pytest.raises(ValueError, match="datatype/lang"):
        r2rml_triples(people, {
            "subject": {"template": "http://x/{id}"},
            "predicate_objects": [
                {"pred": P + "x", "template": "t{id}", "lang": "l"}],
        })
    with pytest.raises(ValueError, match="emits no triples"):
        r2rml_triples(people, {"subject": {"template": "http://x/{id}"}})


def test_single_explode_plan(people):
    out = r2rml_triples(people, {
        "subject": {"template": "http://x/person/{id}",
                    "class": "http://x/Person"},
        "predicate_objects": [
            {"pred": P + "name", "column": "name"},
            {"pred": P + "tag", "column": "tags", "split": "-"},
        ],
    })
    plan = out._jdf.queryExecution().executedPlan().toString()
    # static bundle + N multi-valued arrays concat into ONE explode
    assert plan.count("Generate") == 1


def test_compile_template_literal_only(spark):
    df = spark.createDataFrame([(1,)], "id long")
    col = compile_template("no-placeholders")
    assert df.select(col.alias("v")).collect()[0].v == "no-placeholders"


def test_quotes_and_backslashes_emitted_verbatim(spark):
    df = spark.createDataFrame([(1, "it's")], "id long, name string")
    pred = P + "o'k\\x"
    cls = "http://x/C'l\\ass"
    out = r2rml_triples(df, {
        "subject": {"template": "http://x/it's\\{id}", "class": cls},
        "predicate_objects": [
            {"pred": pred, "column": "name"},
            {"pred": pred, "template": "http://x/a'b\\c/{name}"},
        ],
    })
    assert _set(out.select("subj", "pred", "obj", "obj_is_uri")) == {
        ("http://x/it's\\1", RDF_TYPE, cls, True),
        ("http://x/it's\\1", pred, "it's", False),
        ("http://x/it's\\1", pred, "http://x/a'b\\c/it's", True),
    }
