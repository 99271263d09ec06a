"""The ``sparql_mix`` request mix and its DuckDB twins.

One client sends the operations below in this fixed order, each after
the previous one has returned (a closed loop). Every operation has a
SQL twin over the same parquet table; the twins run once in setup,
untimed, and every timed result must equal its twin's.

The graph (``perfbench/kg.py``) holds no duplicate on the six-column
triple key, so a SPARQL solution multiset and its SQL twin count the
same rows.
"""

from __future__ import annotations

import contextlib
from dataclasses import dataclass
from typing import Optional

EB = "http://www.ebu.ch/metadata/ontologies/ebucore/ebucore#"
MEMAD = "http://data.memad.eu/ontology#"
SKOS_NOTE = "http://www.w3.org/2004/02/skos/core#note"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

PREFIXES = (
    "PREFIX ebucore: <%s>\nPREFIX memad: <%s>\n"
    "PREFIX skos: <http://www.w3.org/2004/02/skos/core#>\n" % (EB, MEMAD)
)


@dataclass(frozen=True)
class Op:
    name: str
    form: str            # select | ask | construct | update
    sparql: str
    twin_sql: str
    # update only: the predicate whose count the post-update check reads
    tag_pred: Optional[str] = None


def _q(body: str) -> str:
    return PREFIXES + body


def build_mix(point_subject: str):
    """The fixed-order mix; ``point_subject`` is an IRI taken from the
    generated graph (the smallest TVProgramme subject)."""
    tag = MEMAD + "benchTag"
    return [
        Op("star_bgp", "select", _q(
            "SELECT ?p ?t ?d WHERE { ?p a ebucore:TVProgramme ;"
            " ebucore:title ?t ; ebucore:duration ?d }"),
            f"""SELECT a.subj, b.obj, c.obj FROM t a
                JOIN t b ON b.subj = a.subj AND b.pred = '{EB}title'
                JOIN t c ON c.subj = a.subj AND c.pred = '{EB}duration'
                WHERE a.pred = '{RDF_TYPE}' AND a.obj = '{EB}TVProgramme'"""),
        Op("optional", "select", _q(
            "SELECT ?p ?t ?s WHERE { ?p a ebucore:RadioProgramme ;"
            " ebucore:title ?t OPTIONAL { ?p ebucore:summary ?s } }"),
            f"""SELECT a.subj, b.obj, c.obj FROM t a
                JOIN t b ON b.subj = a.subj AND b.pred = '{EB}title'
                LEFT JOIN t c ON c.subj = a.subj AND c.pred = '{EB}summary'
                WHERE a.pred = '{RDF_TYPE}'
                  AND a.obj = '{EB}RadioProgramme'"""),
        Op("group_by", "select", _q(
            "SELECT ?g (COUNT(?p) AS ?n) WHERE { ?p ebucore:hasGenre ?g }"
            " GROUP BY ?g"),
            f"""SELECT obj, count(*) FROM t WHERE pred = '{EB}hasGenre'
                GROUP BY obj"""),
        Op("filter_contains", "select", _q(
            'SELECT ?s ?t WHERE { ?s ebucore:title ?t'
            ' FILTER (CONTAINS(?t, "Journal")) }'),
            f"""SELECT subj, obj FROM t WHERE pred = '{EB}title'
                AND contains(obj, 'Journal')"""),
        Op("path_plus", "select", _q(
            "SELECT ?c ?x WHERE { ?c ebucore:isParentOf+ ?x }"),
            f"""WITH RECURSIVE e AS (
                  SELECT DISTINCT subj AS s, obj AS o FROM t
                  WHERE pred = '{EB}isParentOf'),
                r(s, o) AS (SELECT s, o FROM e
                  UNION SELECT r.s, e.o FROM r JOIN e ON r.o = e.s)
                SELECT s, o FROM r"""),
        Op("point_lookup", "select", _q(
            "SELECT ?p ?o WHERE { <%s> ?p ?o }" % point_subject),
            f"""SELECT pred, obj FROM t WHERE subj = '{point_subject}'"""),
        Op("ask", "ask", _q(
            "ASK { ?p a ebucore:TVProgramme ; ebucore:hasContributor ?c }"),
            f"""SELECT EXISTS (SELECT 1 FROM t a JOIN t b
                  ON b.subj = a.subj AND b.pred = '{EB}hasContributor'
                WHERE a.pred = '{RDF_TYPE}' AND a.obj = '{EB}TVProgramme')"""),
        Op("construct", "construct", _q(
            "CONSTRUCT { ?a memad:contributesTo ?p } WHERE"
            " { ?p ebucore:hasContributor ?a }"),
            f"""SELECT DISTINCT obj, '{MEMAD}contributesTo', subj FROM t
                WHERE pred = '{EB}hasContributor'"""),
        Op("insert_where", "update", _q(
            'INSERT { ?s memad:benchTag "agent" } WHERE'
            " { ?s a ebucore:Agent }"),
            f"""SELECT (SELECT count(*) FROM t)
                     + (SELECT count(DISTINCT subj) FROM t
                        WHERE pred = '{RDF_TYPE}' AND obj = '{EB}Agent'),
                   (SELECT count(DISTINCT subj) FROM t
                    WHERE pred = '{RDF_TYPE}' AND obj = '{EB}Agent')""",
            tag_pred=tag),
        Op("delete_where", "update", _q(
            "DELETE WHERE { ?s skos:note ?n }"),
            f"""SELECT (SELECT count(*) FROM t WHERE pred <> '{SKOS_NOTE}'),
                       0""",
            tag_pred=SKOS_NOTE),
    ]


def _rows(rows) -> list:
    return sorted((tuple(r) for r in rows), key=repr)


def run_op(graph, op: Op, consume=contextlib.nullcontext):
    """Send one operation and consume its whole result; returns the
    result in the form ``twin`` returns. ``consume()`` is entered around
    the action that executes the returned plan (ASK executes inside
    ``query``)."""
    if op.form == "ask":
        return bool(graph.query(op.sparql))
    if op.form == "update":
        from pyspark.sql import functions as F

        new = graph.update(op.sparql)
        with consume():
            row = new.df.agg(
                F.count(F.lit(1)),
                F.sum((F.col("pred") == op.tag_pred).cast("long")),
            ).collect()[0]
        return (int(row[0]), int(row[1] or 0))
    df = graph.query(op.sparql)
    with consume():
        rows = df.collect()
    return _rows(rows)


def twin(con, op: Op):
    rows = con.execute(op.twin_sql).fetchall()
    if op.form == "ask":
        return bool(rows[0][0])
    if op.form == "update":
        return (int(rows[0][0]), int(rows[0][1]))
    return _rows(rows)
