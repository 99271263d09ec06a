# -*- coding: utf-8 -*-
"""SPARQL property paths (operators/paths.py).

Semantics mirror rdflib's SPARQL path evaluation over the reference's
emitted graphs (sequence / alternation / inverse / one-or-more).
"""
import pytest

from rdf_converter_spark.operators.paths import path_match

TRIPLES = [
    ("a", "knows", "b"),
    ("b", "knows", "c"),
    ("c", "knows", "d"),
    ("a", "name", "Alice"),
    ("b", "name", "Bob"),
    ("d", "name", "Dave"),
    ("a", "likes", "d"),
]


@pytest.fixture(scope="module")
def triples(spark):
    return spark.createDataFrame(TRIPLES, ["subj", "pred", "obj"])


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


def test_sequence_path(triples):
    out = path_match(triples, "?x", "knows/name", "?n")
    # a knows b (named Bob); c knows d (named Dave); b knows c (no name)
    assert _pairs(out) == [("a", "Bob"), ("c", "Dave")]


def test_alternation_path(triples):
    out = path_match(triples, "a", "knows|likes", "?y")
    assert sorted(r.y for r in out.collect()) == ["b", "d"]


def test_inverse_path(triples):
    out = path_match(triples, "?x", "^knows", "a")
    assert [r.x for r in out.collect()] == ["b"]


def test_inverse_in_sequence(triples):
    # who shares a known-person with a?  a knows b, ^knows back: just a
    out = path_match(triples, "a", "knows/^knows", "?peer")
    assert sorted(r.peer for r in out.collect()) == ["a"]


def test_plus_converges_to_exact_closure(triples):
    out = path_match(triples, "a", "knows+", "?y")
    assert sorted(r.y for r in out.collect()) == ["b", "c", "d"]


def test_plus_grouped_alternation(triples):
    out = path_match(triples, "a", "(knows|likes)+", "?y")
    assert sorted(r.y for r in out.collect()) == ["b", "c", "d"]


def test_angle_bracket_iris(triples, spark):
    t = spark.createDataFrame(
        [("s", "http://x/p", "m"), ("m", "http://x/q", "o")],
        ["subj", "pred", "obj"],
    )
    out = path_match(t, "?a", "<http://x/p>/<http://x/q>", "?b")
    assert _pairs(out) == [("s", "o")]


def test_repeated_variable_filters_equality(triples, spark):
    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "a"), ("c", "p", "d")],
        ["subj", "pred", "obj"],
    )
    # ?x p/p ?x -> two-step cycles back to self
    out = path_match(t, "?x", "p/p", "?x")
    assert sorted(r.x for r in out.collect()) == ["a", "b"]


def test_constant_endpoints_raise(triples):
    with pytest.raises(ValueError, match="no bindings"):
        path_match(triples, "a", "knows", "b")


NODES = sorted({t[0] for t in TRIPLES} | {t[2] for t in TRIPLES})


def test_star_includes_identity_and_closure(triples):
    out = path_match(triples, "?x", "knows*", "?y")
    got = set(_pairs(out))
    # zero-length: every term in the graph self-matches (incl. the
    # literal names — SPARQL's node universe is all terms)
    assert {(n, n) for n in NODES} <= got
    # plus-closure on top
    assert {("a", "b"), ("a", "c"), ("a", "d"), ("b", "d")} <= got
    assert ("a", "Alice") not in got  # star of knows only


def test_star_with_constant_endpoint(triples):
    out = path_match(triples, "a", "knows*", "?y")
    assert sorted(r.y for r in out.collect()) == ["a", "b", "c", "d"]


def test_star_constant_absent_from_graph_self_matches(triples):
    out = path_match(triples, "ghost", "knows*", "?y")
    assert [r.y for r in out.collect()] == ["ghost"]
    # non-nullable path: absent constant matches nothing
    out2 = path_match(triples, "ghost", "knows+", "?y")
    assert out2.count() == 0


def test_opt_zero_or_one(triples):
    out = path_match(triples, "a", "likes?", "?y")
    assert sorted(r.y for r in out.collect()) == ["a", "d"]


def test_seq_with_nullable_tail(triples):
    # knows/knows* = one-or-more knows
    out = path_match(triples, "a", "knows/knows*", "?y")
    assert sorted(r.y for r in out.collect()) == ["b", "c", "d"]


def test_negated_property_set_forward(triples):
    out = path_match(triples, "a", "!(knows|name)", "?y")
    assert sorted(r.y for r in out.collect()) == ["d"]  # likes only


def test_negated_property_set_bare_and_inverse(triples):
    # bare !p : any forward edge except p
    out = path_match(triples, "a", "!name", "?y")
    assert sorted(r.y for r in out.collect()) == ["b", "d"]
    # inverse-only NPS: ONLY reversed edges, pred not in {likes}
    out2 = path_match(triples, "b", "!(^likes)", "?y")
    assert sorted(r.y for r in out2.collect()) == ["a"]
    # mixed: forward non-knows (name) ∪ reversed non-knows (^likes)
    out3 = path_match(triples, "d", "!(knows|^knows)", "?y")
    assert sorted(r.y for r in out3.collect()) == ["Dave", "a"]


def test_malformed_paths_raise(triples):
    with pytest.raises(ValueError, match="empty property path"):
        path_match(triples, "?x", "  ", "?y")
    with pytest.raises(ValueError):
        path_match(triples, "?x", "(knows", "?y")
    with pytest.raises(ValueError, match="unterminated"):
        path_match(triples, "?x", "<http://x/p", "?y")
    with pytest.raises(ValueError, match="trailing"):
        path_match(triples, "?x", "knows)x", "?y")


def test_bounded_plus_on_long_chain(spark):
    # 40-node chain with max_rounds=2 -> paths of length <= 4 only
    rows = [("n%02d" % i, "next", "n%02d" % (i + 1)) for i in range(40)]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    out = path_match(t, "n00", "next+", "?y", max_rounds=2)
    assert sorted(r.y for r in out.collect()) == [
        "n01", "n02", "n03", "n04"]


def test_plus_over_non_nullable_columns(spark):
    """A step relation whose columns are declared NOT NULL closes like
    any other: the driver rounds' joins yield nullable columns, and the
    result keeps the step's schema."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField(c, T.StringType(), False)
                           for c in ("subj", "pred", "obj")])
    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "a")], schema)
    out = path_match(t, "?x", "p+", "?y")
    assert [f.nullable for f in out.schema] == [False, False]
    assert len(_pairs(out)) == 9


def test_no_cartesian_plan(triples):
    out = path_match(triples, "?x", "knows/name", "?n")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoop" not in plan


# --- size dispatch: driver closure vs the distributed doubling loop ---

_NODES = ["n%d" % i for i in range(5)]


def _bounded_reach(edges, length):
    """(s, o) pairs joined by a path of 1..length edges."""
    succ = {}
    for s, o in edges:
        succ.setdefault(s, set()).add(o)
    out = set()
    for s in {s for s, _ in edges}:
        frontier = {s}
        for _ in range(length):
            frontier = {o for n in frontier for o in succ.get(n, ())}
            if not frontier:
                break
            out |= {(s, o) for o in frontier}
    return out


def _expected(rows, op, max_rounds, keyed):
    """The SPARQL answer of ``?x p<op> ?y`` over ``rows`` (graph, subj,
    pred, obj): per graph when keyed, where a null graph keeps its own
    edges and composes with nothing."""
    def key_of(g):
        return (g,) if keyed else ()

    step, universe = {}, {}
    for g, s, p, o in rows:
        universe.setdefault(key_of(g), set()).update((s, o))
        if p == "p":
            step.setdefault(key_of(g), set()).add((s, o))
    out = set()
    for k, edges in step.items():
        rel = edges
        if op in ("+", "*") and None not in k:
            rel = _bounded_reach(edges, 2 ** max_rounds)
        out |= {k + e for e in rel}
    if op in ("*", "?"):
        out |= {k + (n, n) for k, ns in universe.items() for n in ns}
    return out


def test_driver_and_distributed_closures_agree(spark):
    """The driver closure (step within ``_DRIVER_ROWS``), the
    distributed doubling loop (forced by a cap of 0) and the hand-over
    between them (a cap the step fits in but a growing closure does
    not) return the same rows and columns for ``+``, ``*`` and ``?``,
    unkeyed or keyed by a graph column that may be null, bounded at
    paths of length <= 2^max_rounds; all equal a breadth-first
    reference."""
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from rdf_converter_spark.operators import paths

    edge = st.tuples(st.sampled_from(["g1", "g2", None]),
                     st.sampled_from(_NODES), st.sampled_from(["p", "q"]),
                     st.sampled_from(_NODES))
    chain20 = [("g1", "c%02d" % i, "p", "c%02d" % (i + 1))
               for i in range(20)]

    @settings(max_examples=4, deadline=None, derandomize=True)
    @given(rows=st.lists(edge, min_size=1, max_size=12),
           chain=st.integers(0, 20), op=st.sampled_from(["+", "*", "?"]),
           max_rounds=st.integers(1, 4), keyed=st.booleans())
    @example(rows=[("g1", "a", "q", "b")], chain=0, op="+",
             max_rounds=2, keyed=True)  # empty step relation
    @example(rows=[(None, "a", "p", "b"), (None, "b", "p", "a"),
                   ("g1", "a", "p", "b"), ("g1", "b", "p", "c"),
                   ("g2", "c", "p", "c")],
             chain=0, op="+", max_rounds=2, keyed=True)  # null key
    @example(rows=[("g2", "a", "p", "a")], chain=20, op="+",
             max_rounds=1, keyed=False)
    @example(rows=[("g2", "a", "p", "a")], chain=20, op="*",
             max_rounds=3, keyed=True)
    @example(rows=[(None, "a", "p", "b")], chain=20, op="+",
             max_rounds=4, keyed=True)
    def check(rows, chain, op, max_rounds, keyed):
        rows = rows + chain20[:chain]
        t = spark.createDataFrame(
            rows, "graph string, subj string, pred string, obj string")
        keys = ("graph",) if keyed else ()

        def run():
            out = path_match(t, "?x", "p" + op, "?y",
                             max_rounds=max_rounds, partition_cols=keys)
            return out.dtypes, sorted(map(tuple, out.collect()), key=repr)

        driver = run()
        for cap in (0, sum(1 for r in rows if r[2] == "p")):
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(paths, "_DRIVER_ROWS", cap)
                assert run() == driver, cap
        assert set(driver[1]) == _expected(rows, op, max_rounds, keyed)
        assert len(set(driver[1])) == len(driver[1])

    check()


def test_plus_query_launches_at_most_two_jobs(spark, tmp_path):
    """Lowering ``?x <p>+ ?y`` and collecting it costs one bounded
    Arrow collect of the step relation plus at most one job for the
    result — not a checkpoint and a count per doubling round."""
    from rdf_converter_spark.graph import SparkGraph

    rows = [("n%02d" % i, "p", "n%02d" % (i + 1)) for i in range(30)]
    rows += [("n30", "p", "n00"), ("a", "q", "b")]
    path = str(tmp_path / "graph")
    spark.createDataFrame(rows, ["subj", "pred", "obj"]).write.parquet(path)
    g = SparkGraph(spark.read.parquet(path))
    sc = spark.sparkContext
    sc.setJobGroup("paths-job-count", "p+ lowering and collect")
    try:
        got = g.query("SELECT ?x ?y WHERE { ?x <p>+ ?y }").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # a 31-node cycle bounded at paths of length <= 2^4
    assert len(got) == 31 * 16
    assert len(sc.statusTracker().getJobIdsForGroup("paths-job-count")) <= 2
