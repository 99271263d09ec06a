# -*- coding: utf-8 -*-
"""Distributed N-Triples source.

The engine writes N-Triples at scale (``operators/export.py:
to_turtle_distributed``); this is the matching READER, closing the
loop so RDF produced by this engine — or any standards-compliant
tool, e.g. the reference's rdflib ``serialize(format='nt')`` — can be
re-ingested as a 6-column triple table. N-Triples is the one RDF
syntax that is line-oriented, which makes it the natural Spark input
format: ``spark.read.text`` splits on newlines, so a 100 TB dump
parallelizes like any text corpus (Turtle and TriG are
document-scoped and are read whole-file: :func:`read_turtle`,
:func:`read_trig`).

Parsing strategy (same split as the CSV/XML kernels in
``sources/units.py``: structure JVM-side, irreducible per-value work
in Arrow kernels):
- line recognition + term extraction is ONE ``regexp_extract_all``
  -free pass of anchored ``regexp_extract`` calls — pure JVM,
  whole-stage-codegen'd;
- literal unescaping is JVM ``regexp_replace`` only for lines with NO
  backslash (the overwhelmingly common case: clean literals pass
  through untouched); lines containing an escape go through a
  vectorized Arrow kernel implementing the full N-Triples ECHAR +
  UCHAR set (``\\t \\b \\n \\r \\f \\" \\' \\\\ \\uXXXX
  \\UXXXXXXXX``) — a sequential ``regexp_replace`` chain CANNOT
  decode escapes correctly (``\\\\n`` = backslash+n would be eaten
  twice), it must be a single left-to-right scan.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The object term's classes: an IRI, a blank node label or a literal
# (with its language tag or datatype). Blank nodes ride the
# 6-column schema as '_:'-prefixed strings with obj_is_uri=True (a
# blank node is a RESOURCE term; the boolean distinguishes resource
# vs literal) — the Turtle section below documents the convention.
_URI_OBJ = r'^<([^>]*)>$'
_BNODE_OBJ = r'^_:[^\s<>"]+$'
_LIT_OBJ = r'^"((?:[^"\\]|\\.)*)"(?:@([A-Za-z][A-Za-z0-9-]*)|\^\^<([^>]*)>)?$'

_ECHAR = {
    "t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}
_ESCAPE_RE = re.compile(
    r"\\(?:u([0-9A-Fa-f]{4})|U([0-9A-Fa-f]{8})|(.))", re.DOTALL)


def unescape_literal(s: str) -> str:
    """Single-pass N-Triples string unescape (ECHAR + UCHAR)."""
    def sub(m):
        u4, u8, ch = m.groups()
        if u4 is not None:
            return chr(int(u4, 16))
        if u8 is not None:
            return chr(int(u8, 16))
        if ch in _ECHAR:
            return _ECHAR[ch]
        raise ValueError("invalid N-Triples escape '\\%s'" % ch)
    return _ESCAPE_RE.sub(sub, s)


@F.pandas_udf(T.StringType())
def _unescape_udf(vals: pd.Series) -> pd.Series:
    return vals.map(lambda v: None if v is None else unescape_literal(v))


def parse_ntriples(
    lines: DataFrame, column: str = "value", on_error: str = "raise"
) -> DataFrame:
    """Parse a DataFrame of N-Triples lines into the engine's
    6-column triple table: :func:`parse_nquads` with a graph term
    refused. Blank lines and ``#`` comments are skipped.
    ``on_error='raise'`` fails the job on the first malformed
    statement (with the offending line in the message); ``'drop'``
    discards malformed lines — crawl-grade leniency.
    """
    return _parse_lines(lines, column, on_error, quads=False).drop("graph")


def read_ntriples(
    spark: SparkSession, path: str, on_error: str = "raise"
) -> DataFrame:
    """``spark.read.text`` + ``parse_ntriples`` — each 128 MB text
    split parses independently."""
    return parse_ntriples(spark.read.text(path), on_error=on_error)


# N-Quads: the object is matched STRUCTURALLY (a complete IRI or
# literal term) so the optional trailing graph IRI is unambiguous —
# a lazy free-form object group could otherwise donate '<o>' of a
# graphless line to the graph slot, or split a literal containing
# ' <x>' at the wrong quote.
_NQ_LINE = (
    r'^\s*(<[^>]*>|_:[^\s<>"]+)\s*<([^>]*)>\s*'
    r'(<[^>]*>|_:[^\s<>"]+'
    r'|"(?:[^"\\]|\\.)*"(?:@[A-Za-z][A-Za-z0-9-]*|\^\^<[^>]*>)?)'
    r'(?:\s+(<[^>]*>|_:[^\s<>"]+))?\s*\.\s*$'
)


def _unangle(col):
    """'<iri>' → iri; a '_:label' blank node passes through."""
    return F.when(
        col.startswith("<"), F.regexp_extract(col, _URI_OBJ, 1)
    ).otherwise(col)


def parse_nquads(
    lines: DataFrame, column: str = "value", on_error: str = "raise"
) -> DataFrame:
    """Parse N-Quads lines into the 6-column triple table plus a
    ``graph`` column (NULL = default graph, i.e. a plain N-Triples
    line — N-Quads is a strict superset, so this reader subsumes
    ``parse_ntriples`` for mixed dumps). Structure and clean literals
    stay JVM-side; only literals that actually contain an escape
    cross into the Arrow unescape kernel.
    """
    return _parse_lines(lines, column, on_error, quads=True)


def _parse_lines(lines: DataFrame, column: str, on_error: str,
                 quads: bool) -> DataFrame:
    if on_error not in ("raise", "drop"):
        raise ValueError("on_error must be 'raise' or 'drop'")
    src = F.col(column)
    content = lines.filter(
        (F.trim(src) != "") & ~F.trim(src).startswith("#"))
    ok = src.rlike(_NQ_LINE)
    if not quads:
        ok = ok & (F.regexp_extract(src, _NQ_LINE, 4) == "")
    parts = content.select(
        src.alias("_line"),
        ok.alias("_ok"),
        _unangle(F.regexp_extract(src, _NQ_LINE, 1)).alias("subj"),
        F.regexp_extract(src, _NQ_LINE, 2).alias("pred"),
        F.regexp_extract(src, _NQ_LINE, 3).alias("_obj"),
        F.nullif(
            _unangle(F.regexp_extract(src, _NQ_LINE, 4)), F.lit("")
        ).alias("graph"),
    )
    is_uri = F.col("_obj").rlike(_URI_OBJ)
    is_bnode = F.col("_obj").rlike(_BNODE_OBJ)
    raw_lit = F.regexp_extract(F.col("_obj"), _LIT_OBJ, 1)
    lit = F.when(
        raw_lit.contains("\\"), _unescape_udf(raw_lit)
    ).otherwise(raw_lit)
    parsed = parts.select(
        "_line",
        "_ok",
        "subj",
        "pred",
        F.when(is_uri, F.regexp_extract(F.col("_obj"), _URI_OBJ, 1))
        .when(is_bnode, F.col("_obj"))
        .otherwise(lit).alias("obj"),
        (is_uri | is_bnode).alias("obj_is_uri"),
        F.nullif(F.regexp_extract(F.col("_obj"), _LIT_OBJ, 2), F.lit(""))
        .alias("obj_lang"),
        F.nullif(F.regexp_extract(F.col("_obj"), _LIT_OBJ, 3), F.lit(""))
        .alias("obj_datatype"),
        "graph",
    )
    if on_error == "raise":
        # assert_true returns NULL on success and raises otherwise;
        # putting it in the FILTER condition makes it unprunable (a
        # dropped check column would be optimized away unevaluated)
        guarded = parsed.filter(F.assert_true(
            F.col("_ok"),
            F.concat(F.lit("malformed %s line: "
                           % ("N-Quads" if quads else "N-Triples")),
                     F.col("_line")),
        ).isNull())
    else:
        guarded = parsed.filter(F.col("_ok"))
    return guarded.drop("_line", "_ok")


def read_nquads(
    spark: SparkSession, path: str, on_error: str = "raise"
) -> DataFrame:
    """``spark.read.text`` + ``parse_nquads`` — line-parallel like
    the NT reader."""
    return parse_nquads(spark.read.text(path), on_error=on_error)

# ---------------------------------------------------------------------------
# Turtle source (document-scoped: whole-file parse per task)
# ---------------------------------------------------------------------------
# Round 6 replaces the r5 line-regex subset parser with a real
# character-level scanner + recursive-descent parser covering the
# Turtle 1.1 grammar (W3C REC-turtle-20140225, public spec):
# @prefix/@base AND SPARQL-style PREFIX/BASE, relative-IRI resolution
# (RFC 3986 via urllib.parse.urljoin), blank node labels, anonymous
# nodes '[]', blank-node property lists '[ p o ; ... ]', collections
# '( ... )' (lowered to rdf:first/rdf:rest/rdf:nil chains), short and
# long ('\"\"\"'/''''''' ) string literals in both quote styles,
# numeric abbreviations (xsd:integer/decimal/double with the lexical
# form preserved exactly as written) and booleans. Unsupported syntax
# still raises ValueError with a line number — fail-fast, never a
# silently wrong graph.
#
# Blank-node representation: terms are carried through the 6-column
# schema as strings with the '_:' prefix and obj_is_uri=True (a blank
# node is a RESOURCE term — the boolean distinguishes resource vs
# literal; writers in operators/export.py emit '_:label' unangled).
# Labels are NORMALIZED to _:<prefix>b<N> in first-seen document
# order — deterministic for a fixed document, and per-document
# skolemization (parse_turtle_docs) keeps labels from distinct
# documents of a multi-file read from colliding, which matters when a
# 100 TB crawl's per-file graphs union into one triple table.

import hashlib
from urllib.parse import urljoin

_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_RDF_TYPE = _RDF_NS + "type"
_RDF_FIRST = _RDF_NS + "first"
_RDF_REST = _RDF_NS + "rest"
_RDF_NIL = _RDF_NS + "nil"
_XSD = "http://www.w3.org/2001/XMLSchema#"

_ABS_IRI = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
_LANGTAG = re.compile(r"[A-Za-z]+(?:-[A-Za-z0-9]+)*")
# longest-match numeric: double > decimal > integer (Turtle grammar:
# DECIMAL requires digits AFTER the dot, so "1." lexes as integer 1
# followed by the statement terminator)
_NUMBER = re.compile(
    r"[+-]?(?:"
    r"\d+\.\d*[eE][+-]?\d+|\.\d+[eE][+-]?\d+|\d+[eE][+-]?\d+"
    r"|\d*\.\d+"
    r"|\d+)")
_WORD_CHARS = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789_-.")
_LOCAL_CHARS = _WORD_CHARS | {":", "%"}


class _TtlScanner:
    """Character-level Turtle tokenizer. Yields (kind, value):
    ``iri`` raw IRIREF body (unescaped, unresolved), ``pname``
    (prefix, local), ``bnode`` label, ``lit`` (value, lang, dt_term),
    ``num`` (lexical, xsd datatype), ``bool`` lexical, ``kw``
    'a'|'prefix'|'base'|'graph', ``at`` 'prefix'|'base', ``punct``
    one of ``. ; , [ ] ( ) { }`` (braces are TriG graph blocks)."""

    def __init__(self, text: str):
        self.text = text
        self.i = 0
        self.n = len(text)
        self._peeked = None

    def err(self, msg: str):
        line = self.text.count("\n", 0, min(self.i, self.n)) + 1
        raise ValueError("Turtle line %d: %s" % (line, msg))

    def _skip_ws(self):
        t, n = self.text, self.n
        while self.i < n:
            c = t[self.i]
            if c in " \t\r\n":
                self.i += 1
            elif c == "#":
                j = t.find("\n", self.i)
                self.i = n if j < 0 else j + 1
            else:
                return

    def peek(self):
        if self._peeked is None:
            self._peeked = self._scan()
        return self._peeked

    def next(self):
        tok = self.peek()
        self._peeked = None
        return tok

    def _scan(self):
        self._skip_ws()
        if self.i >= self.n:
            return None
        t = self.text
        c = t[self.i]
        if c in ".;,[](){}":
            self.i += 1
            return ("punct", c)
        if c == "<":
            j = t.find(">", self.i + 1)
            if j < 0:
                self.err("unterminated IRIREF")
            raw = t[self.i + 1:j]
            self.i = j + 1
            if "\\" in raw:
                raw = unescape_literal(raw)
            return ("iri", raw)
        if c == "@":
            self.i += 1
            m = _LANGTAG.match(t, self.i)
            if not m:
                self.err("bare '@' (expected @prefix/@base/langtag)")
            word = m.group(0)
            self.i = m.end()
            if word in ("prefix", "base"):
                return ("at", word)
            self.err("'@%s' directive is not Turtle "
                     "(langtags attach to literals)" % word)
        if c in "\"'":
            return self._scan_literal(c)
        if c in "+-0123456789" or (
                c == "." and self.i + 1 < self.n
                and t[self.i + 1].isdigit()):
            m = _NUMBER.match(t, self.i)
            if not m:
                self.err("malformed numeric literal")
            lex = m.group(0)
            self.i = m.end()
            if "e" in lex or "E" in lex:
                return ("num", (lex, _XSD + "double"))
            if "." in lex:
                return ("num", (lex, _XSD + "decimal"))
            return ("num", (lex, _XSD + "integer"))
        if c == "_" and t.startswith("_:", self.i):
            self.i += 2
            j = self.i
            while j < self.n and (t[j] in _WORD_CHARS or ord(t[j]) > 127):
                j += 1
            # BLANK_NODE_LABEL cannot end with '.'
            label = t[self.i:j]
            while label.endswith("."):
                label, j = label[:-1], j - 1
            if not label:
                self.err("empty blank node label")
            self.i = j
            return ("bnode", label)
        return self._scan_word()

    def _scan_word(self):
        """PNAME, or a bare keyword (a / true / false / PREFIX /
        BASE). The local part may contain ':' '%' and backslash
        escapes; trailing '.' runs back off onto the token stream
        (PN_LOCAL cannot end with a dot — it is the statement
        terminator)."""
        t, n = self.text, self.n
        start = self.i
        j = self.i
        # prefix part: up to ':' (PN_CHARS charset, pragmatically)
        while j < n and (t[j] in _WORD_CHARS or ord(t[j]) > 127):
            j += 1
        if j >= n or t[j] != ":":
            word = t[start:j]
            # keyword position decides validity; trailing '.' backs off
            while word.endswith("."):
                word, j = word[:-1], j - 1
            if not word:
                self.err("unexpected character %r" % t[start])
            self.i = j
            if word == "a":
                return ("kw", "a")
            if word in ("true", "false"):
                return ("bool", word)
            if word.lower() in ("prefix", "base", "graph"):
                # 'graph' only means something in TriG mode; the
                # Turtle statement parser rejects it in subject
                # position (still fail-fast, clearer message)
                return ("kw", word.lower())
            self.err("undeclared Turtle prefix %r (bare word)" % word)
        prefix = t[start:j]
        while prefix.endswith("."):
            self.err("prefix part cannot end with '.': %r" % prefix)
        j += 1  # consume ':'
        # local part with PN_LOCAL_ESC
        local = []
        while j < n:
            ch = t[j]
            if ch == "\\" and j + 1 < n:
                local.append(t[j + 1])
                j += 2
                continue
            if ch in _LOCAL_CHARS or ord(ch) > 127:
                local.append(ch)
                j += 1
                continue
            break
        loc = "".join(local)
        # back trailing dots out of the local part — but only dots
        # that arrived UNescaped (an escaped '\.' is literal data and
        # consumed 2 chars; unescaped trailing dots consumed 1 each)
        while loc.endswith(".") and t[j - 1] == ".":
            loc, j = loc[:-1], j - 1
        self.i = j
        return ("pname", (prefix, loc))

    def _scan_literal(self, q: str):
        t, n = self.text, self.n
        long = t.startswith(q * 3, self.i)
        if long:
            self.i += 3
            body = []
            while True:
                if self.i >= n:
                    self.err("unterminated long string literal")
                c = t[self.i]
                if c == "\\":
                    if self.i + 1 >= n:
                        self.err("dangling escape in literal")
                    body.append(t[self.i:self.i + 2])
                    self.i += 2
                    continue
                if c == q:
                    # count the quote run; 3+ closes, surplus quotes
                    # beyond the closing 3 belong to the content
                    k = self.i
                    while k < n and t[k] == q:
                        k += 1
                    run = k - self.i
                    if run >= 3:
                        body.append(q * (run - 3))
                        self.i = k
                        break
                    body.append(q * run)
                    self.i = k
                    continue
                body.append(c)
                self.i += 1
            raw = "".join(body)
        else:
            self.i += 1
            j = self.i
            body = []
            while True:
                if j >= n:
                    self.err("unterminated string literal")
                c = t[j]
                if c == "\\":
                    body.append(t[j:j + 2])
                    j += 2
                    continue
                if c == q:
                    break
                if c == "\n":
                    self.err("newline inside single-line literal "
                             "(use a triple-quoted long string)")
                body.append(c)
                j += 1
            raw = "".join(body)
            self.i = j + 1
        value = unescape_literal(raw) if "\\" in raw else raw
        # adjacent @lang / ^^datatype suffix (no whitespace — the
        # shape every serializer emits; '@' after whitespace is a
        # directive position, never a langtag)
        if self.i < n and t[self.i] == "@":
            m = _LANGTAG.match(t, self.i + 1)
            if not m:
                self.err("malformed language tag")
            self.i = m.end()
            return ("lit", (value, m.group(0), None))
        if t.startswith("^^", self.i):
            self.i += 2
            dt = self._scan()
            if dt is None or dt[0] not in ("iri", "pname"):
                self.err("expected datatype IRI after '^^'")
            return ("lit", (value, None, dt))
        return ("lit", (value, None, None))


def parse_turtle_text(text: str, bnode_prefix: str = "",
                      trig: bool = False):
    """Parse ONE Turtle document into ``(subj, pred, obj, obj_is_uri,
    obj_lang, obj_datatype)`` tuples — full Turtle 1.1 term space
    (see the section comment above). ``bnode_prefix`` namespaces the
    normalized blank-node labels (``_:<prefix>b<N>``) so labels from
    different documents never collide in a unioned table.

    ``trig=True`` accepts the TriG 1.1 superset — ``GRAPH <g> { … }``
    / ``<g> { … }`` / anonymous ``{ … }`` blocks plus plain top-level
    statements — and yields 7-tuples with the graph IRI last (NULL =
    default graph, matching the N-Quads reader)."""
    sc = _TtlScanner(text)
    prefixes: dict = {}
    base = [None]
    triples = []
    bnodes: dict = {}
    counter = [0]
    graph = [None]

    def emit(s, p, o, u, lg, dt):
        if trig:
            triples.append((s, p, o, u, lg, dt, graph[0]))
        else:
            triples.append((s, p, o, u, lg, dt))

    def fresh() -> str:
        label = "_:%sb%d" % (bnode_prefix, counter[0])
        counter[0] += 1
        return label

    def user_bnode(label: str) -> str:
        if label not in bnodes:
            bnodes[label] = fresh()
        return bnodes[label]

    def resolve_iri(raw: str) -> str:
        if _ABS_IRI.match(raw):
            return raw
        if base[0] is None:
            sc.err("relative IRI <%s> without a BASE declaration" % raw)
        res = urljoin(base[0], raw)
        # urljoin drops an EMPTY trailing fragment/query, but RDF
        # IRIs are opaque identifiers: <ontology#> must stay distinct
        # from <ontology> (namespace IRIs end in '#' all over RDF)
        if raw.endswith("#") and not res.endswith("#"):
            res += "#"
        elif raw.endswith("?") and not res.endswith("?"):
            res += "?"
        return res

    def expand_pname(pv) -> str:
        pfx, local = pv
        if pfx not in prefixes:
            sc.err("undeclared Turtle prefix %r" % pfx)
        return prefixes[pfx] + local

    def term_iri(tok) -> str:
        k, v = tok
        if k == "iri":
            return resolve_iri(v)
        if k == "pname":
            return expand_pname(v)
        sc.err("expected an IRI term, got %r" % (v,))

    def expect_punct(ch: str):
        tok = sc.next()
        if tok != ("punct", ch):
            sc.err("expected %r, got %r" % (ch, tok and tok[1]))

    def parse_collection() -> str:
        """'(' already consumed. Lower to an rdf:first/rdf:rest
        chain; '()' is rdf:nil."""
        items = []
        while True:
            tok = sc.peek()
            if tok is None:
                sc.err("unterminated collection")
            if tok == ("punct", ")"):
                sc.next()
                break
            items.append(parse_object_term())
        if not items:
            return _RDF_NIL
        nodes = [fresh() for _ in items]
        for idx, (node, (o, u, lg, dt)) in enumerate(zip(nodes, items)):
            emit(node, _RDF_FIRST, o, u, lg, dt)
            nxt = nodes[idx + 1] if idx + 1 < len(nodes) else _RDF_NIL
            emit(node, _RDF_REST, nxt, True, None, None)
        return nodes[0]

    def parse_bnode_props() -> str:
        """'[' already consumed: ANON or blank-node property list."""
        node = fresh()
        if sc.peek() == ("punct", "]"):
            sc.next()
            return node
        parse_po_list(node, closing="]")
        expect_punct("]")
        return node

    def parse_object_term():
        """One object as (obj, is_uri, lang, datatype); emits any
        nested triples as a side effect."""
        tok = sc.next()
        if tok is None:
            sc.err("Turtle document ends mid-statement")
        k, v = tok
        if k == "iri":
            return (resolve_iri(v), True, None, None)
        if k == "pname":
            return (expand_pname(v), True, None, None)
        if k == "bnode":
            return (user_bnode(v), True, None, None)
        if k == "punct" and v == "[":
            return (parse_bnode_props(), True, None, None)
        if k == "punct" and v == "(":
            return (parse_collection(), True, None, None)
        if k == "lit":
            value, lang, dt = v
            dt_iri = term_iri(dt) if dt is not None else None
            return (value, False, lang, dt_iri)
        if k == "num":
            lex, dt_iri = v
            return (lex, False, None, dt_iri)
        if k == "bool":
            return (v, False, None, _XSD + "boolean")
        sc.err("unexpected token %r in object position" % (v,))

    def parse_po_list(subj: str, closing: str = "."):
        """verb objectList (';' (verb objectList)?)* — stops BEFORE
        the closing '.' / ']' / '}' (caller consumes it; ``closing``
        is a STRING OF single-char terminators, e.g. '.}' inside a
        TriG graph block where the final dot is optional)."""
        closers = {("punct", c) for c in closing}
        while True:
            tok = sc.next()
            if tok is None:
                sc.err("Turtle document ends mid-statement")
            if tok == ("kw", "a"):
                pred = _RDF_TYPE
            else:
                pred = term_iri(tok)
            while True:
                o, u, lg, dt = parse_object_term()
                emit(subj, pred, o, u, lg, dt)
                if sc.peek() == ("punct", ","):
                    sc.next()
                    continue
                break
            nxt = sc.peek()
            if nxt == ("punct", ";"):
                sc.next()
                # trailing ';' before the terminator is legal Turtle
                while sc.peek() == ("punct", ";"):
                    sc.next()
                if sc.peek() in closers:
                    return
                continue
            return

    def graph_label_term(tok):
        """labelOrSubject: iri | BlankNode (TriG §2.2)."""
        k, v = tok
        if k == "iri":
            return resolve_iri(v)
        if k == "pname":
            return expand_pname(v)
        if k == "bnode":
            return user_bnode(v)
        if k == "punct" and v == "[":
            if sc.next() != ("punct", "]"):
                sc.err("graph label '[' must be ANON (expected ']')")
            return fresh()
        sc.err("expected a graph label, got %r" % (v,))

    def parse_block_statement():
        """One triples statement inside a graph block, up to (not
        consuming) its '.' or '}' terminator."""
        tok = sc.peek()
        if tok == ("punct", "["):
            sc.next()
            subj = parse_bnode_props()
            if sc.peek() in (("punct", "."), ("punct", "}")):
                return  # the property list IS the statement
        elif tok == ("punct", "("):
            sc.next()
            subj = parse_collection()
        else:
            stok = sc.next()
            if stok is None:
                sc.err("graph block ends mid-statement")
            sk, sv = stok
            if sk == "iri":
                subj = resolve_iri(sv)
            elif sk == "pname":
                subj = expand_pname(sv)
            elif sk == "bnode":
                subj = user_bnode(sv)
            else:
                sc.err("unexpected token %r in subject position"
                       % (sv,))
        parse_po_list(subj, closing=".}")

    def parse_graph_block(label):
        """'{ triplesBlock? }' with ``label`` as the current graph
        (None = default graph). The final '.' inside a block is
        optional (TriG triplesBlock grammar); nesting is illegal."""
        expect_punct("{")
        graph[0] = label
        while True:
            tok = sc.peek()
            if tok is None:
                sc.err("unterminated graph block (missing '}')")
            if tok == ("punct", "}"):
                sc.next()
                break
            parse_block_statement()
            nxt = sc.peek()
            if nxt == ("punct", "."):
                sc.next()
            elif nxt == ("punct", "}"):
                sc.next()
                break
            else:
                sc.err("expected '.' or '}' in graph block, got %r"
                       % (nxt and nxt[1],))
        graph[0] = None

    while True:
        tok = sc.peek()
        if tok is None:
            break
        k, v = tok
        if trig and tok == ("kw", "graph"):
            sc.next()
            ltok = sc.next()
            if ltok is None:
                sc.err("GRAPH keyword without a label")
            parse_graph_block(graph_label_term(ltok))
            continue
        if trig and tok == ("punct", "{"):
            parse_graph_block(None)
            continue
        if trig and k in ("iri", "pname", "bnode"):
            # '<g> { … }' labeled block vs a default-graph statement:
            # one token of lookahead decides
            sc.next()
            term = graph_label_term((k, v))
            if sc.peek() == ("punct", "{"):
                parse_graph_block(term)
            else:
                parse_po_list(term)
                tok = sc.next()
                if tok != ("punct", "."):
                    sc.err("expected '.' after statement, got %r"
                           % (tok and tok[1],))
            continue
        if k == "at" or (k == "kw" and v in ("prefix", "base")):
            sc.next()
            sparql_style = (k == "kw")
            if v == "prefix":
                pn = sc.next()
                if not (pn and pn[0] == "pname" and pn[1][1] == ""):
                    sc.err("expected 'prefix:' after %s"
                           % ("PREFIX" if sparql_style else "@prefix"))
                iri_tok = sc.next()
                if not (iri_tok and iri_tok[0] == "iri"):
                    sc.err("expected <iri> in prefix declaration")
                prefixes[pn[1][0]] = resolve_iri(iri_tok[1])
            else:
                iri_tok = sc.next()
                if not (iri_tok and iri_tok[0] == "iri"):
                    sc.err("expected <iri> in base declaration")
                raw = iri_tok[1]
                base[0] = (raw if _ABS_IRI.match(raw)
                           else urljoin(base[0] or "", raw))
                if not _ABS_IRI.match(base[0]):
                    sc.err("BASE must resolve to an absolute IRI")
            if not sparql_style:
                expect_punct(".")
            continue
        # triples statement
        if tok == ("punct", "["):
            sc.next()
            subj = parse_bnode_props()
            # blankNodePropertyList may BE the whole statement
            if sc.peek() == ("punct", "."):
                sc.next()
                continue
        else:
            stok = sc.next()
            sk, sv = stok
            if sk == "iri":
                subj = resolve_iri(sv)
            elif sk == "pname":
                subj = expand_pname(sv)
            elif sk == "bnode":
                subj = user_bnode(sv)
            elif sk == "punct" and sv == "(":
                subj = parse_collection()
            else:
                sc.err("unexpected token %r in subject position"
                       % (sv,))
        parse_po_list(subj)
        tok = sc.next()
        if tok != ("punct", "."):
            if tok is None:
                sc.err("Turtle document ends mid-statement")
            sc.err("expected '.' after statement, got %r" % (tok[1],))
    return triples


_TTL_SCHEMA = (
    "subj string, pred string, obj string, obj_is_uri boolean, "
    "obj_lang string, obj_datatype string"
)


def parse_turtle_docs(docs: DataFrame, column: str = "value",
                      skolemize: bool = True) -> DataFrame:
    """Parse a DataFrame of whole Turtle DOCUMENTS (one per row in
    ``column``) into the 6-column triple table — one Arrow pass,
    shared by :func:`read_turtle` and any in-plan producer of Turtle
    text (e.g. the driver round-trip query).

    ``skolemize=True`` (default) namespaces each document's
    blank-node labels with a content hash (``_:<sha1[:10]>_bN``) so
    labels from distinct documents never merge in the unioned table —
    blank node scope IS the document (RDF 1.1 Concepts §3.4), and at
    crawl scale every file reuses ``_:b0``. Pass ``False`` only for
    single-document parses that need bare deterministic labels."""
    return _parse_docs(docs, column, skolemize, trig=False)


def read_turtle(spark: SparkSession, path: str) -> DataFrame:
    """Distributed Turtle reader: one WHOLE FILE per row
    (``wholetext`` — Turtle is document-scoped: prefixes, BASE,
    subject grouping and blank-node labels carry state across lines,
    so unlike N-Triples it cannot split on newlines), parsed per-task
    by ``parse_turtle_text``. Parallelism = number of files; a single
    giant Turtle file should be converted to N-Triples first (the
    engine writes both)."""
    return parse_turtle_docs(spark.read.text(path, wholetext=True))


_TRIG_SCHEMA = _TTL_SCHEMA + ", graph string"


def parse_trig_docs(docs: DataFrame, column: str = "value",
                    skolemize: bool = True) -> DataFrame:
    """Parse whole TriG documents (Turtle + named graph blocks) into
    the 7-column QUAD table (``graph`` NULL = default graph — same
    shape as :func:`parse_nquads`). Same single-Arrow-pass /
    per-document-skolemization design as :func:`parse_turtle_docs`."""
    return _parse_docs(docs, column, skolemize, trig=True)


def _parse_docs(docs: DataFrame, column: str, skolemize: bool,
                trig: bool) -> DataFrame:
    schema = _TRIG_SCHEMA if trig else _TTL_SCHEMA
    cols = [f.split()[0] for f in schema.split(", ")]

    def gen(batches):
        for pdf in batches:
            rows = []
            for text in pdf[column]:
                pfx = ""
                if skolemize:
                    pfx = hashlib.sha1(
                        text.encode("utf-8", "surrogatepass")
                    ).hexdigest()[:10] + "_"
                rows.extend(parse_turtle_text(
                    text, bnode_prefix=pfx, trig=trig))
            yield pd.DataFrame(rows, columns=cols)

    return docs.mapInPandas(gen, schema=schema)


def read_trig(spark: SparkSession, path: str) -> DataFrame:
    """Distributed TriG reader — whole-file-per-task like
    :func:`read_turtle` (TriG is document-scoped for the same
    reasons, plus graph blocks). Convert giant single files to
    N-Quads for line-parallelism."""
    return parse_trig_docs(spark.read.text(path, wholetext=True))
