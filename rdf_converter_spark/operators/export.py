# -*- coding: utf-8 -*-
"""Fixture-only Turtle export (S6).

Production output stays relational (the partitioned triple table); TTL
serialization exists for golden-fixture comparison and small graph
handoffs, mirroring ld_converter.py:95-96. The formatter is
deterministic: triples sorted by (subj, pred, obj), N-Triples-style
one statement per line with language tags and datatypes.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def _escape(s: str) -> str:
    return (
        s.replace("\\", "\\\\")
        .replace('"', '\\"')
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\t", "\\t")
    )


def _res(term: str) -> str:
    """A resource term: '_:label' blank nodes stay unangled, IRIs get
    '<>' (blank nodes ride the 6-column schema as '_:'-prefixed
    strings with obj_is_uri=True — see sources/rdf.py)."""
    return term if term.startswith("_:") else "<%s>" % term


def format_triple(subj, pred, obj, obj_is_uri, lang, datatype) -> str:
    if obj_is_uri:
        o = _res(obj)
    else:
        o = '"%s"' % _escape(obj)
        if lang:
            o += "@%s" % lang
        elif datatype:
            o += "^^<%s>" % datatype
    return "%s <%s> %s ." % (_res(subj), pred, o)


# driver-side writers refuse above this many triples: they exist for
# fixture/CLI-scale graphs; bigger graphs go to to_turtle_distributed
COLLECT_CAP = 10_000_000


def _collect_capped(triples: DataFrame):
    rows = triples.select(
        "subj", "pred", "obj", "obj_is_uri", "obj_lang", "obj_datatype"
    ).limit(COLLECT_CAP + 1).collect()
    if len(rows) > COLLECT_CAP:
        raise ValueError(
            "refusing to collect > %d triples on the driver — use "
            "to_turtle_distributed for graphs at this scale" % COLLECT_CAP
        )
    return rows


def to_turtle(triples: DataFrame, path: str) -> int:
    """Collect (small graphs only) and write deterministic TTL/NT."""
    rows = _collect_capped(triples)
    lines = sorted(
        format_triple(r["subj"], r["pred"], r["obj"], r["obj_is_uri"],
                      r["obj_lang"], r["obj_datatype"])
        for r in rows
    )
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + ("\n" if lines else ""))
    return len(lines)


# the reference's prefix bindings (ld_converter.py:85-86,101-104) plus
# the rdflib defaults it inherits
DEFAULT_PREFIXES = {
    "memad": "http://data.memad.eu/ontology#",
    "ebucore": "http://www.ebu.ch/metadata/ontologies/ebucore/ebucore#",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "dcterm": "http://purl.org/dc/terms/",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
}

_PN_LOCAL = re.compile(r"^[A-Za-z_][A-Za-z0-9_.\-]*$")

_IRI_BAD = re.compile(r'[\x00-\x20<>"{}|^`\\]')


def _iri(uri: str) -> str:
    """Percent-encode characters forbidden inside an IRIREF (spaces,
    angle brackets, control chars) so the emitted Turtle stays
    parseable even for malformed source identifiers."""
    return _IRI_BAD.sub(lambda m: "%%%02X" % ord(m.group(0)), uri)


def _qname(uri: str, prefixes: dict) -> str:
    """prefix:local when a binding matches and the local part is a
    plain PN_LOCAL (no trailing dot); <uri> otherwise; '_:' blank
    node labels pass through unangled."""
    if uri.startswith("_:"):
        return uri
    best = None
    for pfx, ns in prefixes.items():
        if uri.startswith(ns) and (best is None or len(ns) > len(best[1])):
            best = (pfx, ns)
    if best:
        local = uri[len(best[1]):]
        if local and _PN_LOCAL.match(local) and not local.endswith("."):
            return "%s:%s" % (best[0], local)
    return "<%s>" % _iri(uri)


def _ttl_object(obj, obj_is_uri, lang, datatype, prefixes) -> str:
    if obj_is_uri:
        return _qname(obj, prefixes)
    o = '"%s"' % _escape(obj)
    if lang:
        return o + "@%s" % lang
    if datatype:
        return o + "^^" + _qname(datatype, prefixes)
    return o


def to_turtle_pretty(triples: DataFrame, path: str,
                     prefixes: dict = None) -> int:
    """Real Turtle with @prefix bindings and subject grouping
    (``<s> p o ; p2 o2 , o3 .``) — the serialization shape a consumer
    of the reference's ``g.serialize(format='turtle')`` output expects
    (ld_converter.py:95-96). Deterministic: prefixes, subjects,
    predicates and objects all sorted. Driver-side collect — fixture
    graphs and small handoffs only; the scale path stays
    ``to_turtle_distributed``."""
    prefixes = dict(DEFAULT_PREFIXES if prefixes is None else prefixes)
    rows = _collect_capped(triples)
    out = []
    for pfx in sorted(prefixes):
        out.append("@prefix %s: <%s> ." % (pfx, prefixes[pfx]))
    if prefixes:
        out.append("")
    out.extend(_ttl_statements(rows, prefixes))
    text = "\n".join(out).rstrip("\n") + "\n"
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(text)
    return len(rows)


def _ttl_statements(rows, prefixes, indent="") -> list:
    """Deterministic subject-grouped Turtle statements (shared by the
    pretty Turtle and TriG writers); ``rows`` iterate as (subj, pred,
    obj, obj_is_uri, obj_lang, obj_datatype) records."""
    by_subj: dict = {}
    for r in rows:
        by_subj.setdefault(r["subj"], {}).setdefault(r["pred"], set()).add(
            (r["obj"], bool(r["obj_is_uri"]), r["obj_lang"],
             r["obj_datatype"])
        )
    out = []
    for subj in sorted(by_subj):
        preds = by_subj[subj]
        plines = []
        for pred in sorted(preds):
            objs = ", ".join(
                _ttl_object(o, u, lg, dt, prefixes)
                for o, u, lg, dt in sorted(
                    preds[pred], key=lambda t: (t[0], t[2] or "", t[3] or "")
                )
            )
            plines.append("%s    %s %s" % (indent, _qname(pred, prefixes),
                                           objs))
        out.append("%s%s\n%s ." % (indent, _qname(subj, prefixes),
                                   " ;\n".join(plines)))
        out.append("")
    return out


def to_trig(quads: DataFrame, path: str, prefixes: dict = None) -> int:
    """Driver-sized deterministic TriG writer: the 7-column quad
    table (``graph`` NULL = default graph, as produced by
    ``sources/rdf.py`` parse_nquads / parse_trig_docs) serialized as
    prefix header + bare default-graph statements + one sorted
    ``<g> { … }`` block per named graph. Round-trips through
    :func:`rdf_converter_spark.sources.rdf.read_trig`. Scale path for
    quads stays :func:`to_nquads_distributed`."""
    prefixes = dict(DEFAULT_PREFIXES if prefixes is None else prefixes)
    rows = quads.select(
        "subj", "pred", "obj", "obj_is_uri", "obj_lang",
        "obj_datatype", "graph"
    ).limit(COLLECT_CAP + 1).collect()
    if len(rows) > COLLECT_CAP:
        raise ValueError(
            "refusing to collect > %d quads on the driver — use "
            "to_nquads_distributed for graphs at this scale"
            % COLLECT_CAP)
    by_graph: dict = {}
    for r in rows:
        by_graph.setdefault(r["graph"], []).append(r)
    out = []
    for pfx in sorted(prefixes):
        out.append("@prefix %s: <%s> ." % (pfx, prefixes[pfx]))
    if prefixes:
        out.append("")
    if None in by_graph:
        out.extend(_ttl_statements(by_graph.pop(None), prefixes))
    for gname in sorted(by_graph):
        out.append("%s {" % _qname(gname, prefixes))
        out.extend(_ttl_statements(by_graph[gname], prefixes,
                                   indent="    "))
        out.append("}")
        out.append("")
    text = "\n".join(out).rstrip("\n") + "\n"
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(text)
    return len(rows)


def nt_escape(col):
    """JVM-side N-Triples literal escape — same escape set as
    ``format_triple``/``_escape``: backslash FIRST, then quote and
    the control chars (a PA note with a newline must not break the
    N-Triples line on the scale path). Escaping (unlike UNescaping,
    see ``sources/rdf.py``) is safe as a sequential replace chain
    because each step's output characters are never another step's
    input pattern once backslash goes first."""
    from pyspark.sql import functions as F

    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(col, r"\\", r"\\\\"),
                    '"', '\\\\"'
                ),
                "\n", r"\\n"
            ),
            "\r", r"\\r"
        ),
        "\t", r"\\t"
    )


def nt_line(subj="subj", pred="pred", obj="obj", obj_is_uri="obj_is_uri",
            obj_lang="obj_lang", obj_datatype="obj_datatype"):
    """One N-Triples statement as a JVM string expression over the
    6-column triple schema (shared by the distributed writer and any
    query that needs to materialize NT lines in-plan)."""
    from pyspark.sql import functions as F

    def res(col):
        # '_:' blank node labels stay unangled (see sources/rdf.py)
        c = F.col(col) if isinstance(col, str) else col
        return F.when(c.startswith("_:"), c).otherwise(
            F.concat(F.lit("<"), c, F.lit(">")))

    return F.concat(
        res(subj), F.lit(" <"), pred, F.lit("> "),
        F.when(F.col(obj_is_uri), res(obj))
        .otherwise(
            F.concat(
                F.lit('"'), nt_escape(obj), F.lit('"'),
                F.when(F.col(obj_lang).isNotNull(),
                       F.concat(F.lit("@"), obj_lang))
                .when(F.col(obj_datatype).isNotNull(),
                      F.concat(F.lit("^^<"), obj_datatype, F.lit(">")))
                .otherwise(F.lit("")),
            )
        ),
        F.lit(" ."),
    )


def to_turtle_distributed(triples: DataFrame, path: str) -> None:
    """Scale path: one sorted text part per partition (for handoff to
    tools that stream N-Triples); no driver materialization."""
    lines = triples.select(nt_line().alias("value"))
    lines.sortWithinPartitions("value").write.mode("overwrite").text(path)


def nq_line(subj="subj", pred="pred", obj="obj", obj_is_uri="obj_is_uri",
            obj_lang="obj_lang", obj_datatype="obj_datatype",
            graph="graph"):
    """One N-Quads statement over the 6-column triple schema plus a
    ``graph`` column: ``<s> <p> o <g> .`` — a NULL graph emits the
    plain triple form (default graph), so a quad table with mixed
    provenance round-trips losslessly through
    ``sources/rdf.py:parse_nquads``."""
    from pyspark.sql import functions as F

    body = nt_line(subj, pred, obj, obj_is_uri, obj_lang, obj_datatype)
    # nt_line ends in ' .'; splice the graph term before the dot
    # rather than re-deriving the object serialization
    stem = F.substring(body, 1, F.length(body) - 2)
    g = F.col(graph)
    gterm = F.when(g.startswith("_:"), g).otherwise(
        F.concat(F.lit("<"), g, F.lit(">")))
    return F.when(
        g.isNull(), body
    ).otherwise(F.concat(stem, F.lit(" "), gterm, F.lit(" .")))


def to_nquads_distributed(quads: DataFrame, path: str) -> None:
    """Scale path for named-graph exports: one sorted text part per
    partition, graph term per line — the interchange format Spark can
    both write and re-read line-parallel (see ``sources/rdf.py``)."""
    lines = quads.select(nq_line().alias("value"))
    lines.sortWithinPartitions("value").write.mode("overwrite").text(path)
