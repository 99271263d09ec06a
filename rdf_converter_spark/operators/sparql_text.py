# -*- coding: utf-8 -*-
"""SPARQL 1.1 *text* front-end over the pattern-list query surface.

The engine's SPARQL semantics live in ``operators/bgp.py`` (BGP
joins, OPTIONAL, FILTER, MINUS, VALUES, BIND, EXISTS, aggregates,
solution modifiers) and take Python pattern lists. Users migrating
from ``rdflib.Graph.query`` hold QUERY STRINGS — this module closes
that gap: a tokenizer + recursive-descent parser for the SELECT /
ASK / CONSTRUCT subset the engine executes, lowering onto the
existing operators (the reference itself has no query surface at
all — its consumers query the emitted graphs through rdflib, e.g.
the graphs built by ``ld_converter.py:95-96``; this front-end is
what lets those consumers keep their query strings).

Supported grammar (fail-fast ``SparqlSyntaxError`` on anything
outside it — never a silent wrong answer):

- ``PREFIX``/``BASE`` declarations; ``<iri>``, ``pfx:local``, ``a``
  (= rdf:type), ``"literal"`` (with ``\\"`` escapes), numeric
  literals, ``?var``/``$var``.
- ``SELECT [DISTINCT] ?v ... | * | (expr AS ?v)`` with aggregate
  projections (COUNT/SUM/MIN/MAX/AVG/SAMPLE/GROUP_CONCAT),
  ``ASK``, ``CONSTRUCT { template } WHERE { ... }``.
- Group graph pattern: triple blocks with ``;`` predicate lists and
  ``,`` object lists; ``OPTIONAL { }``; ``MINUS { }``;
  ``FILTER (expr)`` / ``FILTER [NOT] EXISTS { }``;
  ``BIND (expr AS ?v)``; ``VALUES ?v { ... }`` (single- and
  multi-var row form, incl. ``UNDEF`` per §10.2 compatibility);
  ``{ } UNION { }`` — branches are FULL groups
  (FILTER, OPTIONAL, MINUS, BIND, VALUES, property paths, nested
  UNION), the union composes with the group's other patterns via
  the ``relations`` hook, and it works under SELECT (plain and
  aggregate), ASK, CONSTRUCT, and inside OPTIONAL/MINUS/EXISTS
  bodies. A group may carry several independent UNION blocks, each
  joined in on its shared variables. Branches may be GRAPH blocks
  themselves when ALL of them are and the enclosing group is
  GRAPH-scoped (or empty) — the ``{ GRAPH <a> {…} } UNION
  { GRAPH <b> {…} }`` shape; mixing scoped and unscoped branches
  raises.
- ``GROUP BY`` / ``HAVING`` / ``ORDER BY [ASC|DESC](?v)`` /
  ``LIMIT`` / ``OFFSET``.
- Property paths in predicate position of the MAIN where group
  (``^``, ``/``, ``|``, ``+``, ``*``, ``?``, ``!(...)`` negated
  sets, grouping parens) — lowered to
  ``operators/paths.py:path_match`` relations and joined into the
  BGP via ``bgp_match(relations=...)``.
- ``DESCRIBE <iri>`` (pushed-down subject point filter) and
  ``DESCRIBE ?v WHERE { … }`` with a full group graph pattern
  (``bgp.describe``); update WHERE groups are likewise full groups
  (everything but GRAPH blocks and subqueries).
- ``GRAPH <g> { … }`` / ``GRAPH ?g { … }`` blocks in SELECT queries
  (every pattern scoped; lowered to ``quad_match`` — a constant
  graph term is a partition-pruning filter on the quad table's
  graph column). GRAPH blocks also take property paths: a constant
  graph term prunes the scan and the path closes over that one
  slice; a variable graph term runs the partition-keyed closure
  (``path_match(partition_cols=...)``) — the path closes
  independently per graph, never across, and the graph column
  surfaces as the ``?g`` binding.
- ``{ SELECT … }`` subqueries — in the main WHERE group, inside
  OPTIONAL/MINUS/EXISTS bodies, and inside UNION branches
  (evaluated bottom-up per SPARQL 1.1 §12, joined on shared
  variables through the ``relations`` hook).
- SPARQL 1.1 Update strings: ``INSERT DATA`` / ``DELETE DATA`` /
  ``DELETE WHERE`` / ``DELETE { } INSERT { } WHERE { }`` — executed
  functionally (``sparql_query`` returns the NEW triple table, the
  caller persists it: the ``bgp.update_where`` contract).
- FILTER/BIND expressions are rewritten to Spark SQL: ``&&``/``||``
  / ``!`` to AND/OR/NOT, ``REGEX(v, p)`` to RLIKE, ``BOUND(?v)`` to
  IS NOT NULL, STRLEN/UCASE/LCASE/STRSTARTS/STRENDS/CONTAINS/STR/
  SUBSTR/CONCAT/COALESCE/IF/STRBEFORE/STRAFTER (§17.4.3 empty-needle
  rules), regex-based REPLACE and RFC 3986 ENCODE_FOR_URI to their
  Spark builtins — then validated by ``bgp_match`` against the bound
  variable set exactly like hand-passed filter strings. Builtins the
  lexical-string value model cannot express (STRLANG/STRDT/IRI/
  BNODE) or that break deterministic re-execution (NOW/RAND/UUID)
  raise a CLEAR SparqlSyntaxError.
- Term-metadata builtins in FILTER/BIND: ``LANG(?v)`` /
  ``LANGMATCHES(...)`` / ``DATATYPE(?v)`` / ``isIRI`` / ``isURI`` /
  ``isLiteral`` — rewritten to companion-column references that
  ``bgp_match``'s ``term_meta`` hook projects from the pattern
  binding the variable (``?v`` must be bound by a triple pattern in
  the same group). LANG() of an untagged literal is ``""``,
  DATATYPE() follows the SPARQL 1.1 ladder (explicit tag >
  rdf:langString > xsd:string; IRIs yield NULL = error-is-false).
  Not available in SELECT projections (BIND first), GRAPH queries,
  or on OPTIONAL-only variables.

- Language-tagged (``"x"@en``) and datatype-annotated
  (``"1"^^xsd:int``) literals in pattern object position — lowered
  to equality filters on the engine's ``obj_lang`` /
  ``obj_datatype`` columns.
- ``FROM <g>`` / ``FROM NAMED <g>`` dataset clauses over a quad
  table: one pushed-down ``isin`` filter on the graph column
  (``_apply_dataset``) — FROM graphs merge into the default graph,
  FROM NAMED graphs are what GRAPH blocks see.

GRAPH composes with the other group forms when everything stays
scoped: OPTIONAL / MINUS / FILTER [NOT] EXISTS bodies may be GRAPH
blocks themselves *when the enclosing group is GRAPH-scoped too*
(``GRAPH <a> { … } OPTIONAL { GRAPH <b> { … } }``) — each body
lowers to its own quad solution and left/anti/semi-joins in.

Out of scope, by design (raise): federated SERVICE; GRAPH-scoped
OPTIONAL/MINUS/EXISTS bodies or UNION branches under an unscoped
outer group (the outer patterns would silently match across every
graph), and unions mixing scoped with unscoped branches; GRAPH
mixed with unscoped patterns / non-SELECT forms; FROM inside
subqueries (not SPARQL grammar).

Scale shape: parsing is driver-side over a bounded query string
(microseconds); everything executed is the SAME plan the pattern-
list API builds — constants pushed to the scan,
most-constrained-first join order, fail-fast cartesian check.
"""

from __future__ import annotations

import re
from functools import reduce
from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bgp import (
    TaggedLiteral, _sql_expr, ask_probe, bag_union, bgp_aggregate,
    bgp_match, construct, solution_modifiers,
)
# answers an ASK from the probe ``lower`` built for it
from .bgp import probe_hit as ask

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


class SparqlSyntaxError(ValueError):
    pass


_TOKEN = re.compile(
    r"""
      (?P<ws>\s+|\#[^\n]*)
    | (?P<iri><[^<>\s]*>)
    | (?P<string>"(?:[^"\\]|\\.)*")
    | (?P<var>[?$]\w+)
    | (?P<pname>\w*:[\w.-]*)
    | (?P<num>[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<word>[A-Za-z_]\w*)
    | (?P<punct>&&|\|\||!=|<=|>=|\^\^|@|[{}().;,*=<>!/+^?|-])
    """,
    re.VERBOSE,
)

_KEYWORDS = {
    "select", "ask", "construct", "where", "prefix", "base", "distinct",
    "optional", "filter", "minus", "union", "bind", "values", "as",
    "group", "having", "order", "by", "asc", "desc", "limit", "offset",
    "exists", "not", "a", "true", "false", "undef", "in", "describe",
    "reduced", "from", "named", "graph", "service", "insert", "delete",
    "data",
}

_AGG_FNS = {"count", "sum", "min", "max", "avg", "sample", "group_concat"}

# SPARQL builtin -> Spark SQL rewrite (callable takes arg strings)
_FN_MAP = {
    "strlen": lambda a: "length(%s)" % a[0],
    "ucase": lambda a: "upper(%s)" % a[0],
    "lcase": lambda a: "lower(%s)" % a[0],
    "contains": lambda a: "contains(%s, %s)" % (a[0], a[1]),
    "strstarts": lambda a: "startswith(%s, %s)" % (a[0], a[1]),
    "strends": lambda a: "endswith(%s, %s)" % (a[0], a[1]),
    "regex": lambda a: "(%s RLIKE %s)" % (a[0], a[1]),
    "bound": lambda a: "(%s IS NOT NULL)" % a[0],
    "str": lambda a: "CAST(%s AS STRING)" % a[0],
    "substr": lambda a: "substring(%s)" % ", ".join(a),
    "concat": lambda a: "concat(%s)" % ", ".join(a),
    "abs": lambda a: "abs(%s)" % a[0],
    "ceil": lambda a: "ceil(%s)" % a[0],
    "floor": lambda a: "floor(%s)" % a[0],
    "round": lambda a: "round(%s)" % a[0],
    "coalesce": lambda a: "coalesce(%s)" % ", ".join(a),
    "if": lambda a: "if(%s, %s, %s)" % (a[0], a[1], a[2]),
    "sameterm": lambda a: "(%s = %s)" % (a[0], a[1]),
    # SPARQL 1.1 §17.4.3.4/.5: empty result when the needle is
    # absent; empty needle -> '' (STRBEFORE) / the whole string
    # (STRAFTER) — instr('x', '') is 1 in Spark, matching both
    "strbefore": lambda a: (
        "(CASE WHEN instr(%s, %s) > 0 THEN substring(%s, 1, "
        "instr(%s, %s) - 1) ELSE '' END)"
        % (a[0], a[1], a[0], a[0], a[1])),
    "strafter": lambda a: (
        "(CASE WHEN instr(%s, %s) > 0 THEN substring(%s, "
        "instr(%s, %s) + length(%s)) ELSE '' END)"
        % (a[0], a[1], a[0], a[0], a[1], a[1])),
    # SPARQL REPLACE is fn:replace — REGEX-based, not literal
    "replace": lambda a: "regexp_replace(%s, %s, %s)" % (
        a[0], a[1], a[2]),
    # RFC 3986 percent-encoding from Java URLEncoder semantics:
    # '+' back to %20, '*' encoded, '~' kept unreserved
    "encode_for_uri": lambda a: (
        "replace(replace(replace(url_encode(%s), '+', '%%20'), "
        "'*', '%%2A'), '%%7E', '~')" % a[0]),
    # term-metadata builtins: rewritten to companion-column
    # references in _builtin_call (never through these entries)
    "isliteral": lambda a: a[0],
    "isiri": lambda a: a[0],
    "isuri": lambda a: a[0],
    "lang": lambda a: a[0],
    "datatype": lambda a: a[0],
    "langmatches": lambda a: a[0],
    # Spark spells these the same way
    "year": lambda a: "year(%s)" % a[0],
    "month": lambda a: "month(%s)" % a[0],
    "day": lambda a: "day(%s)" % a[0],
    "md5": lambda a: "md5(%s)" % a[0],
    "sha1": lambda a: "sha1(%s)" % a[0],
}

# Builtins the engine's lexical-string value model cannot express
# (a BIND column carries no lang/datatype/kind metadata) or that
# would break deterministic re-execution — refused with a clear
# message instead of surfacing Spark's UNRESOLVED_ROUTINE
_UNSUPPORTED_FNS = {
    "strlang": "a BIND column cannot carry a language tag — match "
               "tagged literals with \"lex\"@tag pattern syntax",
    "strdt": "a BIND column cannot carry a datatype IRI — match "
             "typed literals with \"lex\"^^dt pattern syntax",
    "iri": "the engine binds lexical strings; an IRI() result "
           "would lose its is-IRI kind — use STR()/CONCAT()",
    "uri": "the engine binds lexical strings; a URI() result "
           "would lose its is-IRI kind — use STR()/CONCAT()",
    "bnode": "fresh blank-node allocation is not deterministic "
             "under distributed re-execution",
    "uuid": "not deterministic under distributed re-execution",
    "struuid": "not deterministic under distributed re-execution",
    "now": "not deterministic under distributed re-execution",
    "rand": "not deterministic under distributed re-execution",
}

# LANG() returns "" for untagged literals; DATATYPE() follows the
# SPARQL 1.1 ladder: explicit datatype, else rdf:langString for
# tagged literals, else xsd:string; IRIs have no datatype (NULL ->
# error-is-false in filters).
_XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
_RDF_LANGSTRING = (
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString")


def _tokenize(text: str) -> List[Tuple[str, str]]:
    out = []
    pos = 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if not m:
            raise SparqlSyntaxError(
                "cannot tokenize SPARQL at %r" % text[pos:pos + 30])
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        val = m.group()
        if kind == "word" and val.lower() in _KEYWORDS:
            kind = "kw"
            val = val.lower()
        out.append((kind, val))
    out.append(("eof", ""))
    return out


class _P:
    """Recursive-descent parser state."""

    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0
        self.prefixes: dict = {}
        self.base = ""
        # term-metadata variable registry: group() pushes a set;
        # LANG()/DATATYPE()/isIRI() calls parsed inside that group
        # register their variable so execution can project the
        # companion columns (bgp_match's term_meta hook)
        self.meta_stack: list = []
        self.in_projection = False
        # set when a projection expression calls an aggregate; read
        # from the function token, so a literal "count(" is no call
        self.aggregated = False

    # -- token plumbing -------------------------------------------------
    def peek(self, k: int = 0) -> Tuple[str, str]:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> Tuple[str, str]:
        t = self.toks[self.i]
        if t[0] != "eof":
            self.i += 1
        return t

    def at_kw(self, *words: str) -> bool:
        k, v = self.peek()
        return k == "kw" and v in words

    def eat_kw(self, word: str) -> None:
        k, v = self.next()
        if k != "kw" or v != word:
            raise SparqlSyntaxError("expected %r, got %r" % (word, v))

    def eat_punct(self, p: str) -> None:
        k, v = self.next()
        if k != "punct" or v != p:
            raise SparqlSyntaxError("expected %r, got %r" % (p, v))

    # -- terms ----------------------------------------------------------
    def expand_pname(self, pname: str) -> str:
        pfx, _, local = pname.partition(":")
        if pfx not in self.prefixes:
            raise SparqlSyntaxError("undeclared prefix %r" % pfx)
        return self.prefixes[pfx] + local

    def term(self) -> str:
        """One RDF term in pattern position -> the engine's string
        convention: ``?var`` stays, IRIs/literals become bare column
        values (the triple table stores both unquoted)."""
        k, v = self.next()
        if k == "var":
            return "?" + v[1:]
        if k == "iri":
            return self.base + v[1:-1]
        if k == "pname":
            return self.expand_pname(v)
        if k == "string":
            lex = _unescape(v[1:-1])
            nk, nv = self.peek()
            if (nk, nv) == ("punct", "@"):
                self.next()
                return TaggedLiteral(lex, lang=self._lang_tag())
            if (nk, nv) == ("punct", "^^"):
                self.next()
                dk, dv = self.next()
                if dk == "iri":
                    return TaggedLiteral(
                        lex, datatype=self.base + dv[1:-1])
                if dk == "pname":
                    return TaggedLiteral(
                        lex, datatype=self.expand_pname(dv))
                raise SparqlSyntaxError(
                    "expected a datatype IRI after '^^', got %r" % dv)
            return lex
        if k == "num":
            return v
        if k == "kw" and v == "a":
            return RDF_TYPE
        if k == "kw" and v in ("true", "false"):
            return v
        raise SparqlSyntaxError("expected an RDF term, got %r" % v)

    def _lang_tag(self) -> str:
        """LANGTAG after an already-consumed '@': primary subtag plus
        '-'-joined alphanumeric subtags (``fr``, ``fi-FI``). Tags are
        matched EXACTLY against the ``obj_lang`` column — the engine
        stores them as emitted (the reference writes lowercase
        ``fr``/``fi``/``sv``)."""
        k, v = self.next()
        if k not in ("word", "kw") or not re.fullmatch(r"[A-Za-z]+", v):
            raise SparqlSyntaxError(
                "expected a language tag after '@', got %r" % v)
        parts = [v]
        while self.peek() == ("punct", "-"):
            self.next()
            sk, sv = self.next()
            if sk not in ("word", "kw", "num") \
                    or not re.fullmatch(r"[A-Za-z0-9]+", sv):
                raise SparqlSyntaxError(
                    "bad language subtag %r" % sv)
            parts.append(sv)
        return "-".join(parts)

    # -- prologue -------------------------------------------------------
    def prologue(self) -> None:
        while self.at_kw("prefix", "base"):
            _, v = self.next()
            if v == "prefix":
                k, p = self.next()
                if k != "pname" or not p.endswith(":"):
                    raise SparqlSyntaxError("bad PREFIX name %r" % p)
                ki, iri = self.next()
                if ki != "iri":
                    raise SparqlSyntaxError("bad PREFIX IRI %r" % iri)
                self.prefixes[p[:-1]] = self.base + iri[1:-1]
            else:
                ki, iri = self.next()
                if ki != "iri":
                    raise SparqlSyntaxError("bad BASE IRI %r" % iri)
                self.base = iri[1:-1]

    # -- property paths in predicate position ---------------------------
    def _path_iri(self) -> str:
        k, v = self.next()
        if k == "iri":
            return self.base + v[1:-1]
        if k == "pname":
            return self.expand_pname(v)
        if k == "kw" and v == "a":
            return RDF_TYPE
        raise SparqlSyntaxError(
            "expected an IRI inside a property path, got %r" % v)

    def _path_text(self, first: "str | None" = None) -> str:
        """Consume a SPARQL 1.1 property-path expression, emitting
        the ``operators/paths.py`` text form (every IRI expanded and
        ``<>``-wrapped). ``first`` is an already-consumed leading
        IRI when the caller only discovered the path at its first
        operator token."""
        parts: List[str] = []

        def at_op(*ops):
            k, v = self.peek()
            return k == "punct" and v in ops

        def prim():
            if at_op("^"):
                self.next()
                parts.append("^")
                prim()
            elif at_op("!"):
                self.next()
                parts.append("!")
                nps()
            elif at_op("("):
                self.next()
                parts.append("(")
                alt()
                self.eat_punct(")")
                parts.append(")")
            else:
                parts.append("<%s>" % self._path_iri())

        def nps():
            if at_op("("):
                self.next()
                parts.append("(")
                member()
                while at_op("|"):
                    self.next()
                    parts.append("|")
                    member()
                self.eat_punct(")")
                parts.append(")")
            else:
                member()

        def member():
            if at_op("^"):
                self.next()
                parts.append("^")
            parts.append("<%s>" % self._path_iri())

        def post():
            prim()
            while at_op("+", "*", "?"):
                parts.append(self.next()[1])

        def seq_tail():
            while at_op("/"):
                self.next()
                parts.append("/")
                post()

        def seq():
            post()
            seq_tail()

        def alt_tail():
            while at_op("|"):
                self.next()
                parts.append("|")
                seq()

        def alt():
            seq()
            alt_tail()

        if first is not None:
            parts.append("<%s>" % first)
            while at_op("+", "*", "?"):
                parts.append(self.next()[1])
            seq_tail()
            alt_tail()
        else:
            alt()
        return "".join(parts)

    def _pred_or_path(self) -> Tuple[str, str]:
        """Predicate position: ``("term", t)`` for a plain term /
        variable, ``("path", text)`` for a property path."""
        k, v = self.peek()
        if k == "punct" and v in ("^", "!", "("):
            return ("path", self._path_text())
        p = self.term()
        nk, nv = self.peek()
        if (not p.startswith("?") and nk == "punct"
                and nv in ("/", "|", "+", "*", "?")):
            return ("path", self._path_text(first=p))
        return ("term", p)

    # -- triples block --------------------------------------------------
    def triples_block(
        self, paths: "List[Tuple[str, str, str]] | None" = None
    ) -> List[Tuple[str, str, str]]:
        """subj pred obj (';' pred obj)* (',' obj)* '.'? — repeated.
        Property-path predicates land in ``paths`` (as
        ``(s, path_text, o)``) instead of the returned pattern
        list; passing ``paths=None`` rejects them."""
        pats = []
        while True:
            k, v = self.peek()
            if k in ("eof",) or (k == "punct" and v in ("}", "{")) \
                    or k == "kw":
                break
            s = self.term()
            while True:
                kind, p = self._pred_or_path()
                if kind == "path" and paths is None:
                    raise SparqlSyntaxError(
                        "property paths are only supported in the "
                        "main WHERE group (not OPTIONAL/MINUS/EXISTS "
                        "groups or CONSTRUCT templates)")
                while True:
                    o = self.term()
                    if kind == "path":
                        paths.append((s, p, o))
                    else:
                        pats.append((s, p, o))
                    if self.peek() == ("punct", ","):
                        self.next()
                        continue
                    break
                if self.peek() == ("punct", ";"):
                    self.next()
                    # dangling ';' before '.' or '}' is legal SPARQL
                    nk, nv = self.peek()
                    if nk == "punct" and nv in (".", "}"):
                        break
                    continue
                break
            if self.peek() == ("punct", "."):
                self.next()
        return pats

    # -- expressions ----------------------------------------------------
    def expr_string(self, stop_comma: bool = False) -> str:
        """Consume a SPARQL expression, emitting a Spark SQL string
        with ``?var`` references (validated downstream by bgp_match).
        Stops at an unbalanced ')' (the caller's closer), at a
        top-level ',' when ``stop_comma`` (builtin argument lists),
        or at expression-terminating keywords."""
        parts: List[str] = []
        depth = 0
        while True:
            k, v = self.peek()
            if k == "eof":
                break
            if k == "punct" and v == ")" and depth == 0:
                break
            if stop_comma and k == "punct" and v in (",", ";") \
                    and depth == 0:
                break
            if k == "kw" and depth == 0 and v in (
                "as", "group", "having", "order", "limit", "offset",
                "filter", "optional", "minus", "bind", "values", "union",
            ):
                break
            if k == "punct" and v == "}" and depth == 0:
                break
            self.next()
            if k == "punct":
                if v == "(":
                    depth += 1
                    parts.append("(")
                elif v == ")":
                    depth -= 1
                    parts.append(")")
                elif v == "&&":
                    parts.append(" AND ")
                elif v == "||":
                    parts.append(" OR ")
                elif v == "!":
                    parts.append(" NOT ")
                elif v == "!=":
                    parts.append(" <> ")
                else:
                    parts.append(" %s " % v)
            elif k == "var":
                parts.append("?" + v[1:])
            elif k == "string":
                parts.append(_sql_str(_unescape(v[1:-1])))
            elif k == "num":
                parts.append(v)
            elif k == "kw" and v in ("true", "false"):
                parts.append(v.upper())
            elif k == "kw" and v in ("in", "not"):
                parts.append(" %s " % v.upper())
            elif k == "word":
                fn = v.lower()
                if self.peek() != ("punct", "("):
                    # a bare word is Spark SQL too (current_user):
                    # only CAST's target type passes
                    if parts[-1:] != [" AS "]:
                        raise SparqlSyntaxError(
                            "unexpected %r in expression" % v)
                    parts.append(v)
                elif fn in _FN_MAP:
                    parts.append(self._builtin_call(fn))
                elif fn in _AGG_FNS or fn == "cast":
                    if self.in_projection and fn in _AGG_FNS:
                        # COUNT/SUM/MIN/MAX/AVG nest fine inside a
                        # larger Spark aggregate expression;
                        # GROUP_CONCAT/SAMPLE are rewritten only when
                        # they ARE the projection (_proj_expr)
                        if fn in ("group_concat", "sample"):
                            raise SparqlSyntaxError(
                                "GROUP_CONCAT/SAMPLE nested inside a "
                                "larger expression is not supported — "
                                "project the bare aggregate "
                                "(... AS ?var) and post-process it")
                        self.aggregated = True
                    parts.append(v)
                else:
                    # only the builtins above reach Spark: any other
                    # call would run whatever Spark function it names
                    raise SparqlSyntaxError(
                        "%s() is not supported: %s" % (
                            v.upper(), _UNSUPPORTED_FNS.get(
                                fn, "not a SPARQL builtin")))
            elif k == "iri":
                parts.append(_sql_str(self.base + v[1:-1]))
            elif k == "pname":
                parts.append(_sql_str(self.expand_pname(v)))
            elif k == "kw":
                # keywords inside nested calls (CAST(?x AS INT)) pass
                # through; Spark's analyzer rejects genuine misuse
                parts.append(" %s " % v.upper())
            else:
                raise SparqlSyntaxError(
                    "unexpected %r in expression" % v)
        expr = "".join(parts).strip()
        if not expr:
            raise SparqlSyntaxError("empty expression")
        return expr

    def _builtin_call(self, fn: str) -> str:
        """Parse ``fn(arg, ...)`` where args are nested expressions."""
        self.eat_punct("(")
        args = []
        if self.peek() != ("punct", ")"):
            while True:
                args.append(self.expr_string(stop_comma=True))
                if self.peek() == ("punct", ","):
                    self.next()
                    continue
                break
        self.eat_punct(")")
        if fn in ("isliteral", "isiri", "isuri", "lang", "datatype",
                  "langmatches"):
            return self._term_builtin(fn, args)
        try:
            return _FN_MAP[fn](args)
        except IndexError:
            raise SparqlSyntaxError(
                "%s(): wrong argument count (%d)" % (fn.upper(), len(args)))

    def _term_builtin(self, fn: str, args: List[str]) -> str:
        """LANG() / DATATYPE() / isIRI() / isURI() / isLiteral() /
        LANGMATCHES(): rewritten to companion-column references
        (``?v__lang`` / ``?v__datatype`` / ``?v__is_uri``) that
        ``bgp_match``'s ``term_meta`` hook projects from the pattern
        binding the variable — how these builtins reach past the
        engine's lexical-string bindings."""
        if fn == "langmatches":
            if len(args) != 2:
                raise SparqlSyntaxError(
                    "LANGMATCHES(expr, range) takes 2 arguments")
            a, r = args
            # '*' matches any tagged value; otherwise the range
            # matches exactly or as a prefix ("fr" ~ "fr-BE"),
            # case-insensitively (RFC 4647 basic filtering)
            return ("(CASE WHEN %s = '*' THEN %s <> '' "
                    "ELSE lower(%s) = lower(%s) "
                    "OR startswith(lower(%s), lower(%s) || '-') END)"
                    % (r, a, a, r, a, r))
        if len(args) != 1 or not re.fullmatch(r"\?\w+", args[0]):
            raise SparqlSyntaxError(
                "%s() takes a single variable in text form"
                % fn.upper())
        if self.in_projection:
            raise SparqlSyntaxError(
                "%s() in a SELECT projection is not supported in "
                "text form — BIND it to a variable inside the WHERE "
                "group first" % fn.upper())
        if not self.meta_stack:
            raise SparqlSyntaxError(
                "%s() is only supported inside a group graph "
                "pattern" % fn.upper())
        v = args[0][1:]
        self.meta_stack[-1].add(v)
        lang_c = "?%s__lang" % v
        dt_c = "?%s__datatype" % v
        uri_c = "?%s__is_uri" % v
        if fn == "lang":
            return "coalesce(%s, '')" % lang_c
        if fn == "datatype":
            return ("(CASE WHEN %s THEN NULL "
                    "WHEN %s IS NOT NULL THEN %s "
                    "WHEN %s IS NOT NULL THEN '%s' ELSE '%s' END)"
                    % (uri_c, dt_c, dt_c, lang_c,
                       _RDF_LANGSTRING, _XSD_STRING))
        if fn in ("isiri", "isuri"):
            return "(%s)" % uri_c
        return "(NOT %s)" % uri_c  # isliteral

    # -- group graph pattern --------------------------------------------
    def group(self) -> dict:
        """Parse ``{ ... }`` into the bgp_match argument bundle, or a
        UNION of bundles."""
        self.eat_punct("{")
        g = {
            "patterns": [], "optional": [], "filters": [], "minus": [],
            "values": [], "exists": [], "not_exists": [], "binds": [],
            "paths": [], "graphs": [], "subqueries": [], "unions": [],
            "term_meta": set(),
        }
        self.meta_stack.append(g["term_meta"])
        while True:
            k, v = self.peek()
            if k == "punct" and v == "}":
                self.next()
                break
            if k == "punct" and v == "{" and \
                    self.peek(1) == ("kw", "select"):
                # { SELECT … } subquery: evaluated bottom-up and
                # joined into the enclosing group on shared variables
                # (via bgp_match's relations hook)
                self.next()
                self.eat_kw("select")
                g["subqueries"].append(_select_spec(self))
                self.eat_punct("}")
                continue
            if k == "punct" and v == "{":
                # nested group: only the UNION form is supported in
                # text. Branches are full groups (FILTER, OPTIONAL,
                # MINUS, BIND, VALUES, paths, nested UNION) —
                # evaluated independently and bag-unioned at exec
                # time (_union_relation); GRAPH blocks and subqueries
                # stay out (scoping rules differ inside branches).
                # A group may carry SEVERAL independent UNION blocks
                # (SPARQL 1.1 §7) — each becomes its own binding
                # relation, joined into the group on shared variables.
                branches = [self._union_branch()]
                while self.at_kw("union"):
                    self.next()
                    branches.append(self._union_branch())
                if len(branches) < 2:
                    raise SparqlSyntaxError(
                        "nested group without UNION — flatten it or use "
                        "the Python API for subqueries")
                n_scoped = sum(1 for b in branches if b["graphs"])
                if 0 < n_scoped < len(branches):
                    raise SparqlSyntaxError(
                        "UNION mixing GRAPH-scoped and unscoped "
                        "branches is not supported in text form")
                g["unions"].append(branches)
                continue
            if k == "kw":
                if v == "optional":
                    self.next()
                    g["optional"].append(self._sub_group("OPTIONAL"))
                    continue
                if v == "minus":
                    self.next()
                    g["minus"].append(self._sub_group("MINUS"))
                    continue
                if v == "filter":
                    self.next()
                    if self.at_kw("exists"):
                        self.next()
                        g["exists"].append(self._sub_group("EXISTS"))
                    elif self.at_kw("not"):
                        self.next()
                        self.eat_kw("exists")
                        g["not_exists"].append(
                            self._sub_group("NOT EXISTS"))
                    else:
                        self.eat_punct("(")
                        g["filters"].append(self.expr_string())
                        self.eat_punct(")")
                    continue
                if v == "bind":
                    self.next()
                    self.eat_punct("(")
                    expr = self.expr_string()
                    self.eat_kw("as")
                    vk, vv = self.next()
                    if vk != "var":
                        raise SparqlSyntaxError("BIND ... AS needs ?var")
                    self.eat_punct(")")
                    g["binds"].append((vv[1:], expr))
                    continue
                if v == "values":
                    self.next()
                    g["values"].extend(self._values_block())
                    continue
                if v == "graph":
                    self.next()
                    gk, gv = self.peek()
                    if gk == "var":
                        self.next()
                        gterm = "?" + gv[1:]
                    else:
                        gterm = self.term()
                    sub = self.group()
                    if sub["term_meta"]:
                        raise SparqlSyntaxError(
                            "LANG()/DATATYPE()/isIRI() are not "
                            "supported inside GRAPH blocks in text "
                            "form")
                    if sub["unions"] or sub["subqueries"]:
                        raise SparqlSyntaxError(
                            "UNION / subqueries cannot nest inside "
                            "GRAPH blocks in text form")
                    if (sub["optional"] or sub["minus"] or sub["values"]
                            or sub["exists"] or sub["not_exists"]
                            or sub["binds"] or sub["graphs"]):
                        raise SparqlSyntaxError(
                            "GRAPH blocks support plain triple "
                            "patterns, FILTERs and property paths "
                            "only in text form")
                    g["graphs"].append(
                        (gterm, sub["patterns"], sub["filters"],
                         sub["paths"]))
                    continue
                if v == "service":
                    raise SparqlSyntaxError(
                        "federated SERVICE is not supported")
                if v == "a":
                    pass  # falls through to triples_block
                else:
                    raise SparqlSyntaxError(
                        "unsupported keyword %r in group" % v)
            before = len(g["paths"])
            pats = self.triples_block(paths=g["paths"])
            if not pats and len(g["paths"]) == before:
                raise SparqlSyntaxError(
                    "expected a triple pattern, got %r" % (self.peek(),))
            g["patterns"].extend(pats)
        if g["unions"] and g["graphs"]:
            # a graphs-mode group takes a UNION only when every
            # branch is itself GRAPH-scoped (checked again at exec
            # for the programmatic path)
            for blk in g["unions"]:
                for b in blk:
                    if not b["graphs"]:
                        raise SparqlSyntaxError(
                            "UNION mixed with GRAPH blocks: every "
                            "UNION branch must be a GRAPH-scoped "
                            "group itself")
        self.meta_stack.pop()
        return g

    def _plain_group(self) -> dict:
        """A group that must stay plain (GRAPH block bodies, the
        CONSTRUCT template, DELETE WHERE): no UNION, paths, nested
        GRAPH or subqueries."""
        g = self.group()
        if g["term_meta"]:
            raise SparqlSyntaxError(
                "LANG()/DATATYPE()/isIRI() are not supported in this "
                "position (GRAPH blocks, CONSTRUCT templates, DELETE "
                "WHERE)")
        if g["unions"]:
            raise SparqlSyntaxError(
                "nested UNION is not supported in this position in "
                "text form")
        if g["paths"]:
            raise SparqlSyntaxError(
                "property paths are not supported in this position "
                "(GRAPH blocks, CONSTRUCT templates, DELETE WHERE)")
        if g["graphs"]:
            raise SparqlSyntaxError(
                "GRAPH blocks cannot nest inside other groups in "
                "text form")
        if g["subqueries"]:
            raise SparqlSyntaxError(
                "subqueries are only supported in the main WHERE "
                "group in text form")
        return g

    def _union_branch(self) -> dict:
        """A UNION alternative: a full group — FILTER, OPTIONAL,
        MINUS, BIND, VALUES, property paths, ``{ SELECT … }``
        subqueries and nested UNIONs all parse and execute (each
        branch is evaluated independently by ``_exec_group``,
        subqueries bottom-up per SPARQL 1.1 §12). A branch may be a
        GRAPH block itself — but then EVERY pattern of the branch
        must be scoped (mixing raises, same as at group level), and
        whether the union is accepted depends on the enclosing
        group's mode (checked at exec: a GRAPH-scoped branch under
        an unscoped outer group would mix default-graph and named-
        graph matching)."""
        g = self.group()
        if g["graphs"] and (g["patterns"] or g["paths"]):
            raise SparqlSyntaxError(
                "a GRAPH block inside a UNION branch must scope "
                "EVERY pattern of the branch")
        return g

    def _sub_group(self, kind: str) -> "list | dict":
        """An OPTIONAL / MINUS / (NOT) EXISTS body. A body of plain
        triple patterns returns the pattern LIST (executed exactly
        as before — plan-identical); a body that also carries
        FILTERs, property paths or nested groups returns the full
        group dict, lowered at execution time to a sub-BGP relation
        (``bgp_match`` joins a pre-computed DataFrame the same way
        it joins a pattern-list sub-BGP). Previously FILTERs and
        nested OPTIONALs inside these groups parsed and were then
        silently DROPPED — the one thing this module must never
        do."""
        sub = self.group()
        if sub["graphs"] and (sub["patterns"] or sub["paths"]):
            raise SparqlSyntaxError(
                "a GRAPH block inside %s must scope EVERY pattern of "
                "the body (mixing scoped and unscoped patterns is "
                "not supported)" % kind)
        rich = any(sub[x] for x in (
            "filters", "paths", "optional", "minus", "values",
            "binds", "exists", "not_exists", "unions", "term_meta",
            "subqueries", "graphs"))
        return sub if rich else sub["patterns"]

    def template_group(self, ground: bool = False) -> List[tuple]:
        """``{ s p o . … }`` update template: plain triples with
        ``;``/``,`` lists, each row ``(s, p, o, obj_is_iri)`` —
        the 4th element records whether the OBJECT was written as an
        IRI/prefixed name (the static ``obj_is_uri`` flag
        ``bgp.update_where`` takes). ``ground=True`` (the
        INSERT/DELETE DATA forms) rejects variables."""

        def term_k(positional: str):
            k, v = self.peek()
            t = self.term()
            if ground and t.startswith("?"):
                raise SparqlSyntaxError(
                    "variables are not allowed in DATA blocks (%s %r)"
                    % (positional, t))
            return t, k in ("iri", "pname") or (k, v) == ("kw", "a")

        self.eat_punct("{")
        pats: List[tuple] = []
        while self.peek() != ("punct", "}"):
            s, _ = term_k("subject")
            while True:
                pr, _ = term_k("predicate")
                while True:
                    o, is_iri = term_k("object")
                    pats.append((s, pr, o, is_iri))
                    if self.peek() == ("punct", ","):
                        self.next()
                        continue
                    break
                if self.peek() == ("punct", ";"):
                    self.next()
                    nk, nv = self.peek()
                    if nk == "punct" and nv in (".", "}"):
                        break
                    continue
                break
            if self.peek() == ("punct", "."):
                self.next()
        self.next()  # '}'
        if not pats:
            raise SparqlSyntaxError("empty update template")
        return pats

    def _values_block(self) -> List[dict]:
        """VALUES ?v { ... } or VALUES (?a ?b) { (..) (..) }."""
        rows: List[dict] = []
        k, v = self.peek()
        if k == "var":
            self.next()
            name = v[1:]
            self.eat_punct("{")
            while self.peek() != ("punct", "}"):
                if self.at_kw("undef"):
                    # a row that binds nothing: compatible with every
                    # solution (SPARQL 1.1 §10.2)
                    self.next()
                    rows.append({})
                else:
                    rows.append({name: self.term()})
            self.next()
            return rows
        self.eat_punct("(")
        names = []
        while self.peek()[0] == "var":
            names.append(self.next()[1][1:])
        self.eat_punct(")")
        if not names:
            raise SparqlSyntaxError("VALUES needs at least one variable")
        self.eat_punct("{")
        while self.peek() != ("punct", "}"):
            self.eat_punct("(")
            row = {}
            for n in names:
                if self.at_kw("undef"):
                    self.next()  # leave ?n out: UNDEF binds nothing
                else:
                    row[n] = self.term()
            self.eat_punct(")")
            rows.append(row)
        self.next()
        return rows


_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", '"': '"', "\\": "\\",
            "'": "'", "b": "\b", "f": "\f"}

_UNESCAPE_RE = re.compile(
    r"\\u([0-9A-Fa-f]{4})|\\U([0-9A-Fa-f]{8})|\\(.)")


def _sql_str(text: str) -> str:
    """``text`` as a Spark SQL string literal. Spark's lexer reads a
    backslash as an escape, so both it and the quote are escaped."""
    return "'%s'" % text.replace("\\", "\\\\").replace("'", "\\'")


def _unescape(s: str) -> str:
    # single left-to-right pass: sequential str.replace corrupted
    # escaped backslashes followed by n/t/r ("C:\\network" ->
    # backslash+NEWLINE) because the \n rule saw the second
    # backslash before the \\ rule could consume the pair.
    # \uXXXX / \UXXXXXXXX decode per the SPARQL grammar (ADVICE r5:
    # leaving them as literal backslash text made "caf\u00e9"
    # silently never match); an unknown escape raises — the module's
    # fail-fast contract.
    def sub(m):
        u4, u8, ch = m.groups()
        if u4 is not None:
            return chr(int(u4, 16))
        if u8 is not None:
            return chr(int(u8, 16))
        if ch in _ESCAPES:
            return _ESCAPES[ch]
        raise SparqlSyntaxError(
            "unknown string escape '\\%s'" % ch)
    return _UNESCAPE_RE.sub(sub, s)


def _select_spec(p: "_P") -> dict:
    """Parse a SELECT body (the ``select`` keyword already consumed):
    projection, WHERE group, solution modifiers. Shared between the
    top-level form and ``{ SELECT ... }`` subqueries."""
    spec = {"form": "select"}
    spec["distinct"] = False
    if p.at_kw("distinct"):
        p.next()
        spec["distinct"] = True
    elif p.at_kw("reduced"):
        p.next()  # REDUCED may drop dups; treating as plain is legal
    proj: List[Tuple[str, Optional[str]]] = []
    star = False
    p.aggregated = False
    while True:
        tk, tv = p.peek()
        if tk == "var":
            p.next()
            proj.append((tv[1:], None))
        elif (tk, tv) == ("punct", "*"):
            p.next()
            star = True
        elif (tk, tv) == ("punct", "("):
            p.next()
            p.in_projection = True
            try:
                expr = _proj_expr(p)
            finally:
                p.in_projection = False
            p.eat_kw("as")
            vk, vv = p.next()
            if vk != "var":
                raise SparqlSyntaxError("(expr AS ?var) needs ?var")
            p.eat_punct(")")
            proj.append((vv[1:], expr))
        else:
            break
    if not star and not proj:
        raise SparqlSyntaxError("SELECT needs a projection")
    spec["star"] = star
    spec["projection"] = proj
    spec["aggregated"] = p.aggregated
    _dataset_clause(p, spec)
    if p.at_kw("where"):
        p.next()
    spec["group"] = p.group()
    _modifiers(p, spec)
    return spec


def _dataset_clause(p: "_P", spec: dict) -> None:
    """``FROM <g>`` / ``FROM NAMED <g>`` clauses. Execution needs a
    quad table: FROM graphs become the query's default graph (set
    union — the store's per-document skolemized labels make blank
    node sharing across graphs explicit, so union IS merge here);
    FROM NAMED graphs become the named-graph part GRAPH blocks see.
    The engine already forbids mixing plain and GRAPH patterns, so
    each query reads exactly one of the two parts."""
    while p.at_kw("from"):
        p.next()
        named = False
        if p.at_kw("named"):
            p.next()
            named = True
        k, v = p.next()
        if k == "iri":
            iri = p.base + v[1:-1]
        elif k == "pname":
            iri = p.expand_pname(v)
        else:
            raise SparqlSyntaxError(
                "FROM%s needs an IRI, got %r"
                % (" NAMED" if named else "", v))
        spec.setdefault("from_named" if named else "from_default",
                        []).append(iri)


def parse_query(text: str) -> dict:
    """Parse a SPARQL query or update string into an execution spec
    dict (pure parsing — no Spark). Raises
    :class:`SparqlSyntaxError` outside the supported subset."""
    p = _P(text)
    p.prologue()
    k, v = p.next()
    if (k, v) == ("kw", "select"):
        spec = _select_spec(p)
    elif (k, v) in (("kw", "insert"), ("kw", "delete")):
        spec = _update_spec(p, v)
    elif (k, v) == ("kw", "ask"):
        spec = {"form": "ask"}
        _dataset_clause(p, spec)
        if p.at_kw("where"):
            p.next()
        spec["group"] = p.group()
    elif (k, v) == ("kw", "construct"):
        spec = {"form": "construct"}
        tmpl_group = p._plain_group()
        if (tmpl_group["optional"] or tmpl_group["filters"]
                or tmpl_group["minus"] or tmpl_group["binds"]
                or tmpl_group["values"]):
            raise SparqlSyntaxError(
                "CONSTRUCT template must be plain triples")
        spec["template"] = tmpl_group["patterns"]
        _dataset_clause(p, spec)
        p.eat_kw("where")
        spec["group"] = p.group()
        _modifiers(p, spec)
    elif (k, v) == ("kw", "describe"):
        spec = {"form": "describe"}
        tk, tv = p.next()
        if tk == "var":
            spec["var"] = tv[1:]
            spec["iri"] = None
            _dataset_clause(p, spec)
            if p.at_kw("where"):
                p.next()
            spec["group"] = p.group()
            if (spec["group"]["graphs"]
                    or spec["group"]["subqueries"]):
                raise SparqlSyntaxError(
                    "DESCRIBE ?var WHERE groups support everything "
                    "but GRAPH blocks and subqueries in text form")
        elif tk == "iri":
            spec["iri"] = p.base + tv[1:-1]
            spec["group"] = None
            _dataset_clause(p, spec)
        elif tk == "pname":
            spec["iri"] = p.expand_pname(tv)
            spec["group"] = None
            _dataset_clause(p, spec)
        else:
            raise SparqlSyntaxError(
                "DESCRIBE needs ?var or an IRI, got %r" % tv)
    else:
        raise SparqlSyntaxError(
            "expected SELECT/ASK/CONSTRUCT/DESCRIBE/INSERT/DELETE, "
            "got %r" % v)
    if p.peek()[0] != "eof":
        raise SparqlSyntaxError(
            "trailing tokens after query: %r" % (p.peek(),))
    return spec


def _update_spec(p: "_P", first_kw: str) -> dict:
    """SPARQL 1.1 Update text forms lowered onto
    ``bgp.update_where`` (functional: the executor returns the NEW
    triple table): ``INSERT DATA { … }``, ``DELETE DATA { … }``,
    ``DELETE WHERE { … }``, and the full
    ``DELETE { … } INSERT { … } WHERE { … }`` (either template
    optional). Template objects parsed as IRIs/prefixed names get
    ``obj_is_uri=True``; variables default to False (the same static
    flag the Python API takes)."""
    spec = {"form": "update", "delete": [], "insert": [],
            "data": None, "group": None}
    if first_kw == "insert":
        if p.at_kw("data"):
            p.next()
            spec["data"] = "insert"
            spec["insert"] = p.template_group(ground=True)
            return spec
        spec["insert"] = p.template_group()
        p.eat_kw("where")
        spec["group"] = p.group()
        return spec
    # DELETE ...
    if p.at_kw("data"):
        p.next()
        spec["data"] = "delete"
        spec["delete"] = p.template_group(ground=True)
        return spec
    if p.at_kw("where"):
        # DELETE WHERE { … } shorthand: the pattern IS the template
        p.next()
        g = p._plain_group()
        if g["optional"] or g["minus"] or g["values"] or g["binds"] \
                or g["exists"] or g["not_exists"]:
            raise SparqlSyntaxError(
                "DELETE WHERE supports plain patterns + FILTERs only")
        spec["group"] = g
        spec["delete"] = [(s, pr, o, False) for s, pr, o in g["patterns"]]
        return spec
    spec["delete"] = p.template_group()
    if p.at_kw("insert"):
        p.next()
        spec["insert"] = p.template_group()
    p.eat_kw("where")
    spec["group"] = p.group()
    return spec


def _proj_expr(p: _P) -> str:
    """Projection expression: either an aggregate call (kept in
    SPARQL-ish text for bgp_aggregate) or a scalar expression."""
    k, v = p.peek()
    if k == "word" and v.lower() in _AGG_FNS:
        p.aggregated = True
        fn = p.next()[1].lower()
        p.eat_punct("(")
        inner = []
        if p.at_kw("distinct"):
            p.next()
            inner.append("DISTINCT")
        if p.peek() == ("punct", "*"):
            p.next()
            inner.append("*")
        elif p.peek() != ("punct", ")"):
            inner.append(p.expr_string(stop_comma=True))
        sep = None
        if p.peek() == ("punct", ";"):  # GROUP_CONCAT(?x; SEPARATOR="-")
            p.next()
            wk, wv = p.next()
            if not (wk == "word" and wv.lower() == "separator"):
                raise SparqlSyntaxError("expected SEPARATOR, got %r" % wv)
            p.eat_punct("=")
            sk, sv = p.next()
            if sk != "string":
                raise SparqlSyntaxError("SEPARATOR needs a string")
            sep = _unescape(sv[1:-1])
        p.eat_punct(")")
        if fn == "group_concat":
            arg = inner[-1]
            collect = ("collect_set" if "DISTINCT" in inner
                       else "collect_list")
            # deterministic form: sorted collect, engine-neutral
            return ("array_join(sort_array(%s(%s)), %s)"
                    % (collect, arg,
                       _sql_str(sep if sep is not None else " ")))
        if fn == "sample":
            return "min(%s)" % inner[-1]  # deterministic SAMPLE
        return "%s(%s)" % (fn, " ".join(inner))
    return p.expr_string()


def _modifiers(p: _P, spec: dict) -> None:
    spec.update({"group_by": [], "having": None, "order_by": [],
                 "limit": None, "offset": 0})
    while True:
        if p.at_kw("group"):
            p.next()
            p.eat_kw("by")
            while p.peek()[0] == "var":
                spec["group_by"].append(p.next()[1][1:])
            if not spec["group_by"]:
                raise SparqlSyntaxError("GROUP BY needs variables")
        elif p.at_kw("having"):
            p.next()
            p.eat_punct("(")
            spec["having"] = p.expr_string()
            p.eat_punct(")")
        elif p.at_kw("order"):
            p.next()
            p.eat_kw("by")
            while True:
                tk, tv = p.peek()
                if tk == "var":
                    p.next()
                    spec["order_by"].append(tv[1:])
                elif tk == "kw" and tv in ("asc", "desc"):
                    p.next()
                    p.eat_punct("(")
                    vk, vv = p.next()
                    if vk != "var":
                        raise SparqlSyntaxError("ORDER BY needs ?var")
                    p.eat_punct(")")
                    spec["order_by"].append(
                        ("-" if tv == "desc" else "") + vv[1:])
                else:
                    break
            if not spec["order_by"]:
                raise SparqlSyntaxError("ORDER BY needs sort keys")
        elif p.at_kw("limit"):
            p.next()
            nk, nv = p.next()
            if nk != "num":
                raise SparqlSyntaxError("LIMIT needs an integer")
            spec["limit"] = int(nv)
        elif p.at_kw("offset"):
            p.next()
            nk, nv = p.next()
            if nk != "num":
                raise SparqlSyntaxError("OFFSET needs an integer")
            spec["offset"] = int(nv)
        else:
            break


def _path_relations(triples: DataFrame, g: dict):
    """Property-path patterns -> binding relations
    (operators/paths.py:path_match), joined into the BGP through
    bgp_match's ``relations`` hook."""
    from .paths import path_match

    return [path_match(triples, s, p, o) for s, p, o in g["paths"]]


def _subquery_relations(triples: DataFrame, g: dict,
                        graph_col: str = "graph"):
    """``{ SELECT … }`` subqueries -> binding relations: each is
    evaluated bottom-up (SPARQL 1.1 §12) as its own SELECT and
    joined into the enclosing group on shared variables through the
    same ``relations`` hook as property paths."""
    return [_exec_select(triples, sq, graph_col=graph_col)
            for sq in g.get("subqueries", ())]


def _lower_groups(triples: DataFrame, g: dict,
                  graph_col: str = "graph") -> dict:
    """Replace rich OPTIONAL/MINUS/EXISTS sub-group dicts (bodies
    that carry FILTERs, property paths or nested groups) with their
    sub-BGP binding relations. Plain pattern lists pass through
    untouched, so existing queries lower to byte-identical plans;
    recursion (via ``_exec_group``) handles arbitrarily nested
    groups. Semantics are unchanged: ``bgp_match`` left/anti/semi
    joins a pre-computed relation exactly as it joins a pattern-list
    sub-BGP."""
    def lower(item, key):
        if not isinstance(item, dict):
            return item
        if item["graphs"]:
            # a GRAPH-scoped body under an UNSCOPED outer group would
            # silently match the outer patterns across every graph of
            # the quad table — the mixing ambiguity the engine
            # refuses. (Graphs-mode outer groups lower their scoped
            # bodies in _exec_group's graphs branch, not here.)
            raise SparqlSyntaxError(
                "a GRAPH block inside %s requires the enclosing "
                "group to scope every pattern in GRAPH blocks too"
                % key.upper())
        return _exec_group(triples, item, graph_col=graph_col)

    lowered = {
        key: [lower(item, key) for item in g[key]]
        for key in ("optional", "minus", "exists", "not_exists")
    }
    out = dict(g)
    out.update(lowered)
    return out


def _is_plain_branch(b: dict) -> bool:
    """True when a UNION branch carries only triple patterns and
    FILTERs — the shape the ASK union probe lowers directly."""
    return not any(b[x] for x in (
        "optional", "minus", "values", "binds", "exists",
        "not_exists", "paths", "subqueries", "unions", "graphs",
        "term_meta"))


def _check_graph_branches(g: dict) -> None:
    """GRAPH-scoped UNION branches under an UNSCOPED outer group:
    legal only when the group carries NOTHING unscoped (the pure
    ``{ GRAPH <a> {…} } UNION { GRAPH <b> {…} }`` shape) — outer
    patterns beside a graph-scoped union would mix default-graph and
    named-graph matching, the ambiguity this engine refuses. Mixing
    scoped and unscoped branches within one union raises too (also
    enforced at parse; this covers the programmatic path)."""
    branches = [b for blk in g["unions"] for b in blk]
    scoped = [bool(isinstance(b, dict) and b["graphs"])
              for b in branches]
    if not any(scoped):
        return
    if not all(scoped):
        raise SparqlSyntaxError(
            "UNION mixing GRAPH-scoped and unscoped branches is not "
            "supported in text form")
    if any(g[x] for x in (
            "patterns", "paths", "optional", "minus", "values",
            "exists", "not_exists", "binds", "subqueries")):
        raise SparqlSyntaxError(
            "a GRAPH-scoped UNION requires the enclosing group to "
            "scope every pattern in GRAPH blocks too")


def _union_relation(triples: DataFrame, branches: Sequence[dict],
                    graph_col: str = "graph") -> DataFrame:
    """Rich ``UNION``: evaluate every branch independently as a full
    group (FILTER, OPTIONAL, MINUS, BIND, VALUES, property paths and
    nested UNIONs all compose via the ``_exec_group`` recursion) and
    take the bag union of the solution mappings. Variables bound in
    only some branches are null elsewhere (SPARQL leaves them
    unbound). Plan shape: independent join trees under one
    zero-shuffle ``Union`` node."""
    return bag_union([_exec_group(triples, b, graph_col=graph_col)
                      for b in branches])


def _group_union_relations(triples: DataFrame, g: dict,
                           graph_col: str = "graph") -> list:
    """The group's UNION block as a binding-relation list (empty when
    the group carries none) — how the ASK / CONSTRUCT / aggregate
    forms join a UNION into their BGP through the same ``relations``
    hook as property paths and subqueries."""
    _check_graph_branches(g)
    return [_union_relation(triples, blk, graph_col)
            for blk in g["unions"]]


def _exec_group(triples: DataFrame, g: dict,
                graph_col: str = "graph") -> DataFrame:
    if g["graphs"]:
        # graphs-mode group: EVERY pattern scoped. Runs BEFORE
        # _lower_groups so OPTIONAL/MINUS/EXISTS bodies can be
        # checked for scoping (after lowering they are opaque
        # DataFrames) — each body must itself be a GRAPH-scoped
        # group, lowered here via the same recursion.
        from .bgp import quad_match

        if (g["patterns"] or g["paths"]
                or g["values"] or g["binds"] or g["subqueries"]):
            raise SparqlSyntaxError(
                "GRAPH queries in text form must scope EVERY pattern "
                "inside GRAPH blocks (default-graph semantics are "
                "store-specific; mixing is not supported)")
        for blk in g["unions"]:
            for b in blk:
                if not (isinstance(b, dict) and b["graphs"]):
                    raise SparqlSyntaxError(
                        "UNION branches inside GRAPH queries must be "
                        "GRAPH-scoped groups themselves")
        if g.get("term_meta"):
            raise SparqlSyntaxError(
                "LANG()/DATATYPE()/isIRI() are not supported in "
                "GRAPH queries in text form")
        if graph_col not in triples.columns:
            raise SparqlSyntaxError(
                "GRAPH query against a triple table without a %r "
                "column" % graph_col)

        def scoped_rel(item, kind):
            if not (isinstance(item, dict) and item["graphs"]):
                raise SparqlSyntaxError(
                    "%s bodies inside GRAPH queries must scope every "
                    "pattern in GRAPH blocks too in text form" % kind)
            return _exec_group(triples, item, graph_col=graph_col)

        opt = [scoped_rel(i, "OPTIONAL") for i in g["optional"]]
        mns = [scoped_rel(i, "MINUS") for i in g["minus"]]
        exi = [scoped_rel(i, "FILTER EXISTS") for i in g["exists"]]
        nex = [scoped_rel(i, "FILTER NOT EXISTS")
               for i in g["not_exists"]]
        quads = []
        filters = list(g["filters"])
        rels = []
        for gterm, pats, fls, pth in g["graphs"]:
            quads.extend((gterm, s, p, o) for s, p, o in pats)
            filters.extend(fls)
            if pth:
                from .paths import path_match

                if gterm.startswith("?"):
                    # GRAPH ?g { … path … }: the path closes
                    # INDEPENDENTLY per graph (partition-keyed
                    # closure — edges of different graphs never
                    # compose); the graph column surfaces as the ?g
                    # binding
                    gv = gterm[1:]
                    for s, p, o in pth:
                        r = path_match(
                            triples, s, p, o,
                            partition_cols=(graph_col,))
                        rels.append(
                            r.withColumnRenamed(graph_col, gv))
                else:
                    # constant graph term: a pushed-down filter on
                    # the partition column (pruned scan); the path
                    # closes over that one graph's triples only
                    scoped = triples.filter(
                        F.col(graph_col) == gterm).drop(graph_col)
                    rels.extend(
                        path_match(scoped, s, p, o)
                        for s, p, o in pth)
        # UNION of GRAPH-scoped branches: each branch evaluates as
        # its own quad solution via the _exec_group recursion; the
        # bag union joins in like any other relation
        rels.extend(_union_relation(triples, blk, graph_col)
                    for blk in g["unions"])
        return quad_match(triples, quads, optional=opt,
                          filters=filters, minus=mns, exists=exi,
                          not_exists=nex, relations=rels,
                          graph_col=graph_col)
    g = _lower_groups(triples, g, graph_col)
    union_rels = []
    if g["unions"]:
        _check_graph_branches(g)
        plain_only = not any(g[x] for x in (
            "patterns", "optional", "filters", "minus", "values",
            "exists", "not_exists", "binds", "paths", "subqueries"))
        union_rels = [_union_relation(triples, blk, graph_col)
                      for blk in g["unions"]]
        if plain_only and len(g["unions"]) == 1:
            return union_rels[0]
    return bgp_match(
        triples, g["patterns"], optional=g["optional"],
        filters=g["filters"], minus=g["minus"], values=g["values"],
        exists=g["exists"], not_exists=g["not_exists"], binds=g["binds"],
        relations=union_rels + _path_relations(triples, g)
        + _subquery_relations(triples, g, graph_col),
        term_meta=sorted(g.get("term_meta") or ()),
    )


def _apply_dataset(triples: DataFrame, spec: dict, uses_graphs: bool,
                   graph_col: str) -> DataFrame:
    """Lower ``FROM`` / ``FROM NAMED`` onto the quad table as ONE
    pushed-down ``isin`` filter on the graph column (SPARQL 1.1
    §13.2). The engine forbids mixing plain and GRAPH patterns, so a
    query reads exactly one dataset part: GRAPH queries see the
    FROM NAMED selection, plain queries see the FROM graphs merged
    into the default graph. Naming only the *other* part leaves this
    part empty — the query matches nothing, per spec, not silently
    everything."""
    from pyspark.sql import functions as F

    default = spec.pop("from_default", None)
    named = spec.pop("from_named", None)
    if default is None and named is None:
        return triples
    if graph_col not in triples.columns:
        raise SparqlSyntaxError(
            "FROM / FROM NAMED need a quad table with a %r column"
            % graph_col)
    wanted = named if uses_graphs else default
    if not wanted:
        return triples.filter(F.lit(False))
    out = triples.filter(F.col(graph_col).isin(list(wanted)))
    if not uses_graphs:
        # the FROM graphs form the query's default graph by RDF set
        # union; the store's skolemized blank-node labels make union
        # coincide with merge. One graph is already a set — dedupe
        # (a shuffle) only when merging several.
        out = out.drop(graph_col)
        if len(set(wanted)) > 1:
            out = out.dropDuplicates()
    return out


def sparql_query(triples: DataFrame, text: str,
                 graph_col: str = "graph"):
    """Execute a SPARQL query STRING against a ``(subj, pred, obj)``
    triple DataFrame. SELECT/CONSTRUCT return a DataFrame; ASK
    returns a bool — the ``rdflib.Graph.query`` migration surface.
    ``GRAPH`` blocks (SELECT form, every pattern scoped) require the
    quad table's named-graph column, ``graph_col``. ``FROM`` /
    ``FROM NAMED`` clauses select the dataset from the quad table
    (see ``_apply_dataset``)."""
    form, out = lower(triples, parse_query(text), graph_col)
    return ask(out) if form == "ask" else out


def lower(triples: DataFrame, spec: dict,
          graph_col: str = "graph") -> Tuple[str, DataFrame]:
    """Lower a parsed spec (``parse_query``, consumed here) to
    ``(form, DataFrame)``: the solutions of SELECT, the graph of
    CONSTRUCT/DESCRIBE, the NEW triple table of an update, and for
    ASK a one-row probe that :func:`ask` runs. Property-path
    closures run their jobs here; the rest is a lazy plan."""
    g = spec["group"]
    triples = _apply_dataset(
        triples, spec, bool(g and g.get("graphs")), graph_col)
    if g is not None and g.get("graphs") and spec["form"] != "select":
        raise SparqlSyntaxError(
            "GRAPH blocks are supported in SELECT text queries only")
    if spec["form"] == "describe":
        from .bgp import describe
        if spec["iri"] is not None:
            # concise bounded description of a named resource: one
            # pushed-down point filter on the subject column
            return "describe", triples.filter(
                F.col("subj") == spec["iri"]).dropDuplicates()
        g = _lower_groups(triples, g, graph_col)
        return "describe", describe(
            triples, g["patterns"], spec["var"],
            optional=g["optional"], filters=g["filters"],
            minus=g["minus"], values=g["values"], exists=g["exists"],
            not_exists=g["not_exists"], binds=g["binds"],
            relations=_group_union_relations(triples, g, graph_col)
            + _path_relations(triples, g)
            + _subquery_relations(triples, g, graph_col),
            term_meta=sorted(g.get("term_meta") or ()))
    if spec["form"] == "ask":
        if g["unions"]:
            plain_only = not any(g[x] for x in (
                "patterns", "optional", "filters", "minus", "values",
                "exists", "not_exists", "binds", "paths",
                "subqueries"))
            if (plain_only and len(g["unions"]) == 1
                    and all(_is_plain_branch(b)
                            for b in g["unions"][0])):
                # one probe over the bag union of the branches, each
                # projected to a constant so the limit reaches every
                # branch; the fetch scans the branches' partitions in
                # order and stops at the first row (an exchange inside
                # any branch runs before that scan, once per probe)
                hits = [
                    bgp_match(triples, b["patterns"],
                              filters=b["filters"]).select(
                        F.lit(True).alias("hit"))
                    for b in g["unions"][0]]
                return "ask", reduce(DataFrame.union, hits).limit(1)
        g = _lower_groups(triples, g, graph_col)
        return "ask", ask_probe(
            triples, g["patterns"], optional=g["optional"],
            filters=g["filters"], minus=g["minus"],
            values=g["values"], exists=g["exists"],
            not_exists=g["not_exists"], binds=g["binds"],
            relations=_group_union_relations(triples, g, graph_col)
            + _path_relations(triples, g)
            + _subquery_relations(triples, g, graph_col),
            term_meta=sorted(g.get("term_meta") or ()))
    if spec["form"] == "construct":
        if (spec["order_by"] or spec["limit"] is not None
                or spec["offset"] or spec["group_by"] or spec["having"]):
            # SPARQL applies solution modifiers to the WHERE
            # solutions BEFORE template instantiation; slicing the
            # deduplicated output graph instead would be a silent
            # semantic divergence — refuse, pointing at the correct
            # composition
            raise SparqlSyntaxError(
                "CONSTRUCT with solution modifiers / grouping is not "
                "supported in text form — run the SELECT with the "
                "modifiers, then construct() from its rows")
        g = _lower_groups(triples, g, graph_col)
        return "construct", construct(
            triples, g["patterns"], spec["template"],
            optional=g["optional"], filters=g["filters"],
            minus=g["minus"], values=g["values"], exists=g["exists"],
            not_exists=g["not_exists"], binds=g["binds"],
            relations=_group_union_relations(triples, g, graph_col)
            + _path_relations(triples, g)
            + _subquery_relations(triples, g, graph_col),
            term_meta=sorted(g.get("term_meta") or ()))
    if spec["form"] == "update":
        return "update", _exec_update(triples, spec)
    return "select", _exec_select(triples, spec, graph_col=graph_col)


def _exec_select(triples: DataFrame, spec: dict,
                 graph_col: str = "graph") -> DataFrame:
    """Execute a parsed SELECT spec (top-level query or subquery)."""
    if spec.get("from_default") or spec.get("from_named"):
        # SPARQL's grammar has no DatasetClause in SubSelect; the
        # top-level forms strip the keys in _apply_dataset before
        # routing here, so any survivor is a subquery FROM.
        raise SparqlSyntaxError(
            "FROM / FROM NAMED inside a subquery is not SPARQL — "
            "move the dataset clause to the outer query")
    g = spec["group"]
    exprs = [(n, e) for n, e in spec["projection"] if e is not None]
    # an aggregate call ANYWHERE in a projection expression routes to
    # the aggregate path, e.g. `(1 + COUNT(?x) AS ?n)` (the parser
    # records it)
    if spec["group_by"] or spec["aggregated"]:
        if spec["star"]:
            raise SparqlSyntaxError("SELECT * with aggregates")
        aggregates = {n: e for n, e in exprs}
        plain = [n for n, e in spec["projection"] if e is None]
        bad = [n for n in plain if n not in spec["group_by"]]
        if bad:
            raise SparqlSyntaxError(
                "projected variables %s are neither grouped nor "
                "aggregated" % bad)
        if g["graphs"]:
            raise SparqlSyntaxError(
                "GRAPH blocks with aggregates are not supported in "
                "text form")
        g = _lower_groups(triples, g, graph_col)
        out = bgp_aggregate(
            triples, g["patterns"], group_by=spec["group_by"],
            aggregates=aggregates, having=spec["having"],
            optional=g["optional"], filters=g["filters"],
            minus=g["minus"], values=g["values"],
            exists=g["exists"], not_exists=g["not_exists"],
            binds=g["binds"],
            relations=_group_union_relations(triples, g, graph_col)
            + _path_relations(triples, g)
            + _subquery_relations(triples, g, graph_col),
            term_meta=sorted(g.get("term_meta") or ()),
        )
        cols = [n for n, _ in spec["projection"]]
        out = out.select(*cols) if cols else out
    else:
        out = _exec_group(triples, g, graph_col=graph_col)
        for n, e in exprs:
            out = out.withColumn(n, _sql_expr(e))
        if not spec["star"]:
            out = out.select(*[n for n, _ in spec["projection"]])
    return solution_modifiers(
        out, distinct=spec["distinct"], order_by=spec["order_by"],
        limit=spec["limit"], offset=spec["offset"])


def _exec_update(triples: DataFrame, spec: dict) -> DataFrame:
    """Execute a parsed update spec; returns the NEW triple table
    (the caller persists it — same functional contract as
    ``bgp.update_where``)."""
    from pyspark.sql import functions as F

    from .bgp import update_where

    if spec["data"]:
        # DATA forms key on FULL-TERM identity (ADVICE r5: an
        # (s, p, o)-only key made DELETE DATA of a plain literal
        # silently remove its @lang / ^^datatype variants, and made
        # INSERT DATA of a plain literal a silent no-op when only a
        # tagged variant existed) — mirror SparkGraph.add()'s
        # null-safe six-column condition over whichever term columns
        # the table carries.
        pats = spec["delete" if spec["data"] == "delete" else "insert"]
        lit = triples.sparkSession.createDataFrame(
            [(s, p, str(o), bool(f),
              getattr(o, "lang", None), getattr(o, "datatype", None))
             for s, p, o, f in pats],
            "subj string, pred string, obj string, obj_is_uri boolean,"
            " obj_lang string, obj_datatype string",
        )
        full = ["subj", "pred", "obj", "obj_is_uri", "obj_lang",
                "obj_datatype"]
        key = [c for c in full if c in triples.columns]
        absent = [c for c in full if c not in triples.columns]
        if absent:
            # a term whose identity NEEDS a column the table lacks
            # cannot match correctly — refuse instead of degrading
            uses = [
                F.col(c) if c == "obj_is_uri" else F.col(c).isNotNull()
                for c in absent
            ]
            cond_uses = uses[0]
            for u in uses[1:]:
                cond_uses = cond_uses | u
            if lit.filter(cond_uses).take(1):
                raise SparqlSyntaxError(
                    "DATA block uses term features (%s) the triple "
                    "table's schema does not carry" % ", ".join(absent))
        lit = F.broadcast(lit.select(*key).dropDuplicates(key))
        cond = None
        for c in key:
            eq = triples[c].eqNullSafe(lit[c])
            cond = eq if cond is None else cond & eq
        if spec["data"] == "delete":
            return triples.join(lit, on=cond, how="left_anti")
        # INSERT DATA: set-semantics — already-present terms are
        # no-ops (dropDuplicates above treats nulls as equal, the
        # anti-join condition is null-safe)
        ins = lit.join(triples, on=cond, how="left_anti").select(*[
            (F.col(c) if c in key
             else F.lit(None).cast(triples.schema[c].dataType)).alias(c)
            for c in triples.columns
        ])
        return triples.unionByName(ins)
    g = spec["group"]
    if g["graphs"] or g["subqueries"]:
        raise SparqlSyntaxError(
            "update WHERE groups support everything but GRAPH "
            "blocks and subqueries in text form")
    for tpl in (spec["delete"], spec["insert"]):
        if any(isinstance(t, TaggedLiteral)
               for row in (tpl or ()) for t in row[:3]):
            raise SparqlSyntaxError(
                "tagged literals in DELETE/INSERT templates are only "
                "supported in the DATA forms")
    g = _lower_groups(triples, g, graph_col="graph")
    return update_where(
        triples, g["patterns"],
        delete=[(s, p, o) for s, p, o, _ in spec["delete"]],
        insert=spec["insert"],
        optional=g["optional"], filters=g["filters"],
        minus=g["minus"], values=g["values"], binds=g["binds"],
        exists=g["exists"], not_exists=g["not_exists"],
        relations=_group_union_relations(triples, g)
        + _path_relations(triples, g),
        term_meta=sorted(g.get("term_meta") or ()),
    )
