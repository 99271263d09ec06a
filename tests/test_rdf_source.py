# -*- coding: utf-8 -*-
"""Distributed N-Triples source (sources/rdf.py): unescape kernel,
line parsing, and the write->read round trip against
operators/export.py's distributed N-Triples writer.
"""
import pytest
from pyspark.sql import functions as F

from rdf_converter_spark.sources.rdf import (
    parse_ntriples, read_ntriples, unescape_literal,
)

SCHEMA = ("subj string, pred string, obj string, obj_is_uri boolean, "
          "obj_lang string, obj_datatype string")


def _lines(spark, rows):
    return spark.createDataFrame([(r,) for r in rows], "value string")


def test_unescape_scalar():
    assert unescape_literal(r"a\nb") == "a\nb"
    assert unescape_literal(r"a\\n") == "a\\n"          # NOT a newline
    assert unescape_literal(r"\"q\"") == '"q"'
    assert unescape_literal(r"\u00e9t\u00e9") == "été"
    assert unescape_literal(r"\U0001F600") == "\U0001F600"
    assert unescape_literal(r"\t\r\b\f") == "\t\r\b\f"
    with pytest.raises(ValueError, match="invalid"):
        unescape_literal(r"\x41")


def test_parse_basic_forms(spark):
    df = parse_ntriples(_lines(spark, [
        "<http://x/s> <http://x/p> <http://x/o> .",
        '<http://x/s> <http://x/p> "plain" .',
        '<http://x/s> <http://x/p> "salut"@fr .',
        '<http://x/s> <http://x/p> "2020-01-01"'
        "^^<http://www.w3.org/2001/XMLSchema#date> .",
        "",
        "# a comment",
        "   # indented comment",
    ]))
    rows = {(r.obj, r.obj_is_uri, r.obj_lang, r.obj_datatype)
            for r in df.collect()}
    assert rows == {
        ("http://x/o", True, None, None),
        ("plain", False, None, None),
        ("salut", False, "fr", None),
        ("2020-01-01", False, None,
         "http://www.w3.org/2001/XMLSchema#date"),
    }


def test_parse_escaped_literals(spark):
    df = parse_ntriples(_lines(spark, [
        r'<http://x/s> <http://x/p> "line1\nline2\t\"q\" c:\\d" .',
        r'<http://x/s> <http://x/p2> "caf\u00e9" .',
    ]))
    got = {r.pred.rsplit("/", 1)[1]: r.obj for r in df.collect()}
    assert got["p"] == 'line1\nline2\t"q" c:\\d'
    assert got["p2"] == "café"


def test_malformed_raise_vs_drop(spark):
    bad = _lines(spark, [
        "<http://x/s> <http://x/p> <http://x/o> .",
        "this is not a triple",
        '<http://x/s> <http://x/p> "unterminated .',
        "<http://x/s> <http://x/p> <http://x/o> <http://x/g> .",
    ])
    with pytest.raises(Exception, match="malformed N-Triples"):
        parse_ntriples(bad).collect()
    quad = _lines(spark, [
        "<http://x/s> <http://x/p> <http://x/o> <http://x/g> .",
    ])
    with pytest.raises(Exception, match="malformed N-Triples"):
        parse_ntriples(quad).collect()
    ok = parse_ntriples(bad, on_error="drop")
    assert ok.count() == 1
    with pytest.raises(ValueError, match="on_error"):
        parse_ntriples(bad, on_error="ignore")


def test_roundtrip_with_distributed_writer(spark, tmp_path):
    from rdf_converter_spark.operators.export import to_turtle_distributed

    rows = [
        ("http://x/a", "http://x/p", "plain", False, None, None),
        ("http://x/a", "http://x/p", "with\nnewline\tand\ttabs",
         False, None, None),
        ("http://x/a", "http://x/p", 'quote " and \\ backslash',
         False, None, None),
        ("http://x/a", "http://x/q", "http://x/b", True, None, None),
        ("http://x/a", "http://x/r", "bonjour", False, "fr", None),
        ("http://x/a", "http://x/s", "42", False, None,
         "http://www.w3.org/2001/XMLSchema#integer"),
    ]
    src = spark.createDataFrame(rows, SCHEMA)
    out = str(tmp_path / "nt")
    to_turtle_distributed(src, out)
    back = read_ntriples(spark, out)
    assert {tuple(r) for r in back.collect()} == set(rows)


def test_parse_is_jvm_side_except_escape_kernel(spark):
    df = parse_ntriples(_lines(spark, [
        "<http://x/s> <http://x/p> <http://x/o> .",
    ]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # no row-at-a-time Python anywhere; the only Python is the Arrow
    # escape kernel, gated behind a contains-backslash branch
    assert "BatchEvalPython" not in plan


QSCHEMA = SCHEMA + ", graph string"


def test_parse_nquads_forms_and_ambiguity(spark):
    from rdf_converter_spark.sources.rdf import parse_nquads

    out = parse_nquads(_lines(spark, [
        '<http://x/s> <http://x/p> <http://x/o> .',                # triple
        '<http://x/s> <http://x/p> <http://x/o> <http://g/1> .',   # quad
        '<http://x/s> <http://x/p> "lit with <g> inside" .',       # bait
        '<http://x/s> <http://x/p> "v"@en <http://g/2> .',
        '<http://x/s> <http://x/p> "a\\nb" <http://g/3> .',
        '# comment', '   ',
    ])).collect()
    got = {(r.obj, r.obj_is_uri, r.obj_lang, r.graph) for r in out}
    assert got == {
        ("http://x/o", True, None, None),          # graph NOT stolen
        ("http://x/o", True, None, "http://g/1"),
        ("lit with <g> inside", False, None, None),
        ("v", False, "en", "http://g/2"),
        ("a\nb", False, None, "http://g/3"),
    }


def test_parse_nquads_malformed(spark):
    from rdf_converter_spark.sources.rdf import parse_nquads

    bad = _lines(spark, [
        '<http://x/s> <http://x/p> <http://x/o> <http://g> extra .',
        '<http://x/s> <http://x/p> "unclosed .',
    ])
    assert parse_nquads(bad, on_error="drop").collect() == []
    with pytest.raises(Exception, match="malformed N-Quads"):
        parse_nquads(bad, on_error="raise").collect()


def test_nquads_roundtrip_with_distributed_writer(spark, tmp_path):
    from rdf_converter_spark.operators.export import to_nquads_distributed
    from rdf_converter_spark.sources.rdf import read_nquads

    rows = [
        ("http://x/a", "http://x/p", 'sal\tut\n"q" \\ fin', False,
         None, None, "http://g/a"),
        ("http://x/a", "http://x/q", "http://x/b", True, None, None,
         None),  # default graph -> plain triple line
        ("http://x/a", "http://x/r", "bonjour", False, "fr", None,
         "http://g/b"),
        ("http://x/a", "http://x/s", "42", False, None,
         "http://www.w3.org/2001/XMLSchema#integer", "http://g/a"),
    ]
    src = spark.createDataFrame(rows, QSCHEMA)
    out = str(tmp_path / "nq")
    to_nquads_distributed(src, out)
    back = read_nquads(spark, out)
    assert {tuple(r) for r in back.collect()} == set(rows)


# --- Turtle source (round-5: whole-file distributed parse) ------------

def test_turtle_roundtrip_through_pretty_writer(spark, tmp_path):
    from rdf_converter_spark.operators.export import to_turtle_pretty
    from rdf_converter_spark.sources.rdf import read_turtle

    rows = [
        ("http://e/s1", "http://e/p", "o plain", False, None, None),
        ("http://e/s1", "http://e/p", "http://e/o", True, None, None),
        ("http://e/s1", "http://e/q", "fi text", False, "fi", None),
        ("http://e/s2", "http://e/p", "2024-01-01", False, None,
         "http://www.w3.org/2001/XMLSchema#date"),
        ("http://e/s2", "http://e/p", 'quote " back \\ slash', False,
         None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_uri boolean, "
        "obj_lang string, obj_datatype string",
    )
    p = str(tmp_path / "g.ttl")
    to_turtle_pretty(df, p)
    back = read_turtle(spark, p)
    assert {tuple(r) for r in back.collect()} == set(rows)


def test_turtle_parser_rejects_malformed():
    from rdf_converter_spark.sources.rdf import parse_turtle_text

    import pytest as _pt
    with _pt.raises(ValueError, match="undeclared"):
        parse_turtle_text("ex:s <http://p> <http://o> .")
    with _pt.raises(ValueError, match="mid-statement"):
        parse_turtle_text("<http://s> <http://p>")
    with _pt.raises(ValueError, match="without a BASE"):
        parse_turtle_text("<rel> <http://p> <http://o> .")
    with _pt.raises(ValueError, match="unterminated"):
        parse_turtle_text('<http://s> <http://p> "open .')
    with _pt.raises(ValueError, match="object position"):
        parse_turtle_text("<http://s> <http://p> <http://o> ,, .")
    with _pt.raises(ValueError, match="prefix"):
        parse_turtle_text("@prefix ex <http://e/> .")


def test_sparkgraph_parse_turtle(spark, tmp_path):
    from rdf_converter_spark.graph import SparkGraph

    p = str(tmp_path / "g.ttl")
    with open(p, "w") as fh:
        fh.write(
            "@prefix ex: <http://ex.org/> .\n"
            "ex:a a ex:T ; ex:n \"x\" .\n"
        )
    g = SparkGraph.parse(spark, p, format="turtle")
    assert len(g) == 2
    assert ("http://ex.org/a", "http://ex.org/n", "x") in g


def test_turtle_trailing_dot_and_quote_runs():
    """Review findings: a '.' glued to a qname object is the
    statement terminator (PN_LOCAL cannot end with '.'), apostrophe
    runs INSIDE a single-line literal are data, a glued datatype
    terminator must not leak into the datatype IRI, and a dangling
    subject raises."""
    from rdf_converter_spark.sources.rdf import parse_turtle_text

    import pytest as _pt

    got = parse_turtle_text(
        "@prefix ex: <http://e/> .\n<http://s> <http://p> ex:o.")
    assert got == [("http://s", "http://p", "http://e/o",
                    True, None, None)]
    got2 = parse_turtle_text(
        '@prefix x: <http://x#> .\n<http://s> <http://p> "1"^^x:int.')
    assert got2 == [("http://s", "http://p", "1",
                     False, None, "http://x#int")]
    got3 = parse_turtle_text(
        '<http://s> <http://p> "it\'s \'\'\' fine" .')
    assert got3[0][2] == "it's ''' fine"
    with _pt.raises(ValueError, match="mid-statement"):
        parse_turtle_text("<http://s>")
    # long literals parse for real since r6
    got4 = parse_turtle_text('<http://s> <http://p> """long""" .')
    assert got4[0][2] == "long"


# --- r6: end-of-line Turtle comments (ADVICE r5 #3) ------------------

def test_turtle_eol_comments():
    from rdf_converter_spark.sources.rdf import parse_turtle_text

    ttl = (
        '@prefix ex: <http://ex.org/> .  # prologue comment\n'
        'ex:s ex:p ex:o .  # after a statement\n'
        '<http://ex.org/a#frag> ex:p "x # not a comment" .\n'
        'ex:s2 ex:p "y"@fr . # tagged\n'
    )
    got = set(parse_turtle_text(ttl))
    assert got == {
        ("http://ex.org/s", "http://ex.org/p", "http://ex.org/o",
         True, None, None),
        ("http://ex.org/a#frag", "http://ex.org/p",
         "x # not a comment", False, None, None),
        ("http://ex.org/s2", "http://ex.org/p", "y", False, "fr", None),
    }
