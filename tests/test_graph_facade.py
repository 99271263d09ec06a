# -*- coding: utf-8 -*-
"""SparkGraph — the rdflib-Graph-shaped façade (graph.py): query /
triples / membership / functional add-remove-update / parse /
serialize round trip."""

import pytest

from rdf_converter_spark.graph import SparkGraph

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
EX = "http://ex.org/"


@pytest.fixture()
def g(spark):
    rows = [
        (EX + "alice", RDF_TYPE, EX + "Person", True, None, None),
        (EX + "alice", EX + "name", "Alice", False, None, None),
        (EX + "alice", EX + "knows", EX + "bob", True, None, None),
        (EX + "bob", RDF_TYPE, EX + "Person", True, None, None),
        (EX + "bob", EX + "name", "Bob", False, None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_uri boolean, "
        "obj_lang string, obj_datatype string",
    )
    return SparkGraph(df)


def test_len_contains_value(g):
    assert len(g) == 5
    assert (EX + "alice", EX + "name", "Alice") in g
    assert (EX + "alice", EX + "name", "Bob") not in g
    assert g.value(EX + "bob", EX + "name") == "Bob"
    assert g.value(EX + "bob", EX + "missing") is None


def test_triples_pattern_iteration(g):
    got = set(g.triples((None, RDF_TYPE, None)))
    assert got == {
        (EX + "alice", RDF_TYPE, EX + "Person"),
        (EX + "bob", RDF_TYPE, EX + "Person"),
    }
    assert set(g.triples((EX + "alice", EX + "name", None))) == {
        (EX + "alice", EX + "name", "Alice")}


def test_query_select_and_ask(g):
    df = g.query("""
        PREFIX ex: <http://ex.org/>
        SELECT ?n WHERE { ?p a ex:Person ; ex:name ?n }
    """)
    assert {r.n for r in df.collect()} == {"Alice", "Bob"}
    assert g.query(
        "PREFIX ex: <http://ex.org/> ASK { ?x ex:knows ?y }") is True


def test_functional_add_remove(g):
    g2 = g.add((EX + "carol", EX + "name", "Carol"))
    assert len(g2) == 6 and len(g) == 5  # original untouched
    g3 = g2.add((EX + "carol", EX + "name", "Carol"))
    assert len(g3) == 6  # set semantics
    g4 = g3.remove((None, EX + "name", None))
    assert len(g4) == 3
    assert (EX + "bob", EX + "name", "Bob") not in g4


def test_update_string(g):
    g2 = g.update("""
        PREFIX ex: <http://ex.org/>
        INSERT DATA { ex:dave a ex:Person }
    """)
    assert (EX + "dave", RDF_TYPE, EX + "Person") in g2
    with pytest.raises(ValueError, match="Update"):
        g.update("SELECT ?s WHERE { ?s ?p ?o }")


def test_graph_union(g):
    other = SparkGraph(g.df.sparkSession.createDataFrame(
        [(EX + "alice", RDF_TYPE, EX + "Person", True, None, None),
         (EX + "zed", EX + "name", "Zed", False, None, None)],
        g.df.schema))
    merged = g + other
    assert len(merged) == 6  # dup alice-type collapses


def test_serialize_parse_roundtrip(g, spark, tmp_path):
    nt = str(tmp_path / "g.nt")
    g.serialize(nt, format="nt")
    back = SparkGraph.parse(spark, nt, format="nt")
    assert set(back.triples()) == set(g.triples())
    ttl = str(tmp_path / "g.ttl")
    n = g.serialize(ttl, format="turtle")
    assert n == 5
    text = open(ttl).read()
    lines = text.split("\n")
    assert lines[0].startswith("@prefix")
    # subjects are grouped (one block per subject, ';' continuation)
    assert text.count("<" + EX + "alice>") == 1
    assert " ;" in text and '"Alice"' in text
    # distributed turtle output is an explicit unsupported combo
    with pytest.raises(ValueError, match="distributed"):
        g.serialize(ttl, format="turtle", distributed=True)


def test_full_term_identity_lang_variants(spark):
    from rdf_converter_spark.graph import SparkGraph as G

    base = G(spark.createDataFrame(
        [(EX + "s", EX + "p", "x", False, "en", None)],
        "subj string, pred string, obj string, obj_is_uri boolean, "
        "obj_lang string, obj_datatype string"))
    # "x"@fr is a DISTINCT triple from "x"@en — both survive a union
    other = G(spark.createDataFrame(
        [(EX + "s", EX + "p", "x", False, "fr", None)], base.df.schema))
    assert len(base + other) == 2
    # a plain (untagged) "x" is distinct again, and adding it twice
    # is a no-op (null-safe identity join)
    g2 = base.add((EX + "s", EX + "p", "x"))
    assert len(g2) == 2
    assert len(g2.add((EX + "s", EX + "p", "x"))) == 2


def test_obj_is_uri_heuristic_requires_scheme(spark):
    from rdf_converter_spark.graph import SparkGraph as G

    g = G(spark.createDataFrame(
        [("http://s", "http://p", "http error 404"),
         ("http://s", "http://p", "https://real/iri")],
        "subj string, pred string, obj string"))
    flags = {r.obj: r.obj_is_uri for r in g.df.collect()}
    assert flags == {"http error 404": False, "https://real/iri": True}


def test_missing_flag_columns_defaulted(spark):
    df = spark.createDataFrame(
        [("http://s", "http://p", "http://o"),
         ("http://s", "http://p", "lit")],
        "subj string, pred string, obj string")
    g = SparkGraph(df)
    flags = {r.obj: r.obj_is_uri for r in g.df.collect()}
    assert flags == {"http://o": True, "lit": False}
    with pytest.raises(ValueError, match="missing"):
        SparkGraph(df.select("subj", "pred"))


# -- prepared plans: each SPARQL text is lowered once per graph --------
NAMES = "PREFIX ex: <http://ex.org/> SELECT ?n WHERE { ?p ex:name ?n }"


@pytest.fixture()
def lowerings(monkeypatch):
    """The forms ``sparql_text.lower`` was called for, in call order."""
    from rdf_converter_spark.operators import sparql_text

    calls = []
    real = sparql_text.lower

    def counted(triples, spec, *a, **kw):
        calls.append(spec["form"])
        return real(triples, spec, *a, **kw)

    monkeypatch.setattr(sparql_text, "lower", counted)
    return calls


def _names(df):
    return sorted(r.n for r in df.collect())


def test_repeated_select_is_lowered_once(g, lowerings):
    first = g.query(NAMES)
    assert _names(first) == ["Alice", "Bob"]
    again = g.query(NAMES)
    assert again is first
    assert _names(again) == ["Alice", "Bob"]
    assert lowerings == ["select"]


def test_ask_is_a_bool_on_first_and_repeated_calls(g, lowerings):
    pfx = "PREFIX ex: <http://ex.org/> "
    yes = pfx + "ASK { ?x ex:knows ?y }"
    no = pfx + "ASK { ?x ex:knows ex:alice }"
    # a UNION of plain branches lowers to one probe over both
    union = pfx + "ASK { { ?x ex:knows ex:alice } UNION { ?x ex:name %s } }"
    union_yes, union_no = union % '"Bob"', union % '"Zed"'
    for _ in range(2):
        assert g.query(yes) is True
        assert g.query(no) is False
        assert g.query(union_yes) is True
        assert g.query(union_no) is False
    assert lowerings == ["ask"] * 4


def test_memoized_select_is_a_snapshot_of_its_graph(g):
    assert _names(g.query(NAMES)) == ["Alice", "Bob"]
    insert = ('PREFIX ex: <http://ex.org/> '
              'INSERT DATA { ex:carol ex:name "Carol" }')
    g2 = g.update(insert)
    assert g.update(insert) is g2
    assert _names(g.query(NAMES)) == ["Alice", "Bob"]
    assert _names(g2.query(NAMES)) == ["Alice", "Bob", "Carol"]


def test_refused_text_raises_on_every_call_and_is_not_kept(g, lowerings):
    from rdf_converter_spark.operators.sparql_text import SparqlSyntaxError

    now = "SELECT ?s ?t WHERE { ?s ?p ?o BIND (NOW() AS ?t) }"
    # a Spark function that is no SPARQL builtin
    draw = "SELECT ?s WHERE { ?s ?p ?o FILTER (random() < 0.5) }"
    for _ in range(2):
        with pytest.raises(SparqlSyntaxError, match="NOW"):
            g.query(now)
        with pytest.raises(SparqlSyntaxError, match="RANDOM"):
            g.query(draw)
        # update() refuses a query form before lowering it
        with pytest.raises(ValueError, match="Update"):
            g.update(NAMES)
    assert g._prepared == {} and lowerings == []
    g.query(NAMES)
    with pytest.raises(ValueError, match="Update"):
        g.update(NAMES)
    assert lowerings == ["select"]


def _chars(text):
    """``text`` spelled as a Spark SQL expression with no quote."""
    return "concat(%s)" % ",".join("chr(%d)" % ord(c) for c in text)


def test_text_cannot_reach_arbitrary_spark_sql(g, lowerings):
    """A SPARQL text reaches Spark only through the builtins it
    lowers: another function call or bare word is refused, and IRI or
    string text stays data even when it holds quotes and
    backslashes."""
    from rdf_converter_spark.operators.sparql_text import SparqlSyntaxError

    bind = "SELECT ?u WHERE { ?s ?p ?o BIND (%s AS ?u) }"
    call = bind % ('reflect("java.lang.System","getProperty",'
                   '"java.version")')
    for _ in range(2):
        with pytest.raises(SparqlSyntaxError, match="REFLECT"):
            g.query(call)
        with pytest.raises(SparqlSyntaxError, match="current_user"):
            g.query(bind % "current_user")
    assert g._prepared == {} and lowerings == []

    iri = ("x'||reflect('java.lang.System','getProperty',"
           "'java.version')||'")
    sql = "java_method(%s,%s,%s)" % (
        _chars("java.lang.System"), _chars("getProperty"),
        _chars("java.version"))
    for term, value in (
            ("<%s>" % iri, iri),
            ('"x\\\\\' || %s --"' % sql, "x\\' || %s --" % sql)):
        got = g.query("SELECT DISTINCT ?u WHERE "
                      "{ ?s ?p ?o BIND (%s AS ?u) }" % term)
        assert [r.u for r in got.collect()] == [value]


@pytest.fixture()
def lit_g(spark):
    rows = [(EX + "s%d" % i, EX + "name", o, False, None, None)
            for i, o in enumerate(("O'Brien", "C:\\dir", "what?x",
                                   "colour"))]
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_uri boolean, "
        "obj_lang string, obj_datatype string",
    )
    return SparkGraph(df)


@pytest.mark.parametrize("cond, hit", [
    ('?o = "O\'Brien"', "s0"),
    ('?o = "C:\\\\dir"', "s1"),
    ('?o = "what?x"', "s2"),
    ('regex(?o, "^colou?r$")', "s3"),
])
def test_filter_literal_text_is_matched_as_written(lit_g, cond, hit):
    # ?x is bound, so a '?x' read inside a literal would be rewritten
    got = lit_g.query("PREFIX ex: <http://ex.org/> SELECT ?x WHERE "
                      "{ ?x ex:name ?o FILTER (%s) }" % cond)
    assert [r.x for r in got.collect()] == [EX + hit]


@pytest.mark.parametrize("text", ["count(", "sample(", "group_concat("])
def test_projection_literal_text_is_no_call(lit_g, text):
    # a call's name inside a literal neither makes the projection an
    # aggregate nor a nested GROUP_CONCAT/SAMPLE
    got = lit_g.query(
        'PREFIX ex: <http://ex.org/> SELECT ?x (CONCAT(?o, "%s") AS ?u) '
        'WHERE { ?x ex:name ?o FILTER (?o = "colour") }' % text)
    assert [(r.x, r.u) for r in got.collect()] == [
        (EX + "s3", "colour" + text)]


def test_oldest_text_is_lowered_again_past_the_bound(g, lowerings):
    from rdf_converter_spark.graph import _PREPARED_MAX

    texts = ["SELECT ?s WHERE { ?s ?p ?o } LIMIT %d" % (i + 1)
             for i in range(_PREPARED_MAX + 1)]
    for t in texts:
        g.query(t)
    assert len(lowerings) == len(texts)
    assert len(g._prepared) == _PREPARED_MAX
    g.query(texts[-1])
    assert len(lowerings) == len(texts)
    g.query(texts[0])
    assert len(lowerings) == len(texts) + 1


def test_threads_racing_on_texts_share_one_kept_lowering(g, monkeypatch):
    """Eight threads (more than the cores) query the same graph: every
    caller of a text gets the one lowering that was kept, and eviction
    under the race keeps the memo at its bound without an error."""
    import sys
    import threading
    import time

    from rdf_converter_spark.graph import _PREPARED_MAX
    from rdf_converter_spark.operators import sparql_text

    def slow_lower(triples, spec, *a, **kw):
        time.sleep(0.001)  # widen the gap between lookup and store
        return spec["form"], object()

    monkeypatch.setattr(sparql_text, "lower", slow_lower)
    few = ["SELECT ?s WHERE { ?s ?p ?o } LIMIT %d" % (i + 1)
           for i in range(4)]
    many = ["SELECT ?o WHERE { ?s ?p ?o } LIMIT %d" % (i + 1)
            for i in range(3 * _PREPARED_MAX)]
    got = {t: [] for t in few}
    errors = []

    def client():
        try:
            for _ in range(20):
                for t in few:
                    got[t].append(g.query(t))
            for t in many:
                g.query(t)
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    for t in few:
        assert len(got[t]) == 8 * 20
        assert all(o is got[t][0] for o in got[t])
    assert len(g._prepared) == _PREPARED_MAX
