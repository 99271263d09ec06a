# -*- coding: utf-8 -*-
"""JSON-LD source — including the schema.org islands embedded in web
pages.

Crawled HTML carries ``<script type="application/ld+json">`` blocks
(schema.org structured data) — for a web-scale KG construction
pipeline that is the single richest machine-readable signal on a
page, so this module does two jobs:

1. ``parse_jsonld_text`` — one JSON-LD document -> 6-column triple
   rows (the engine-wide term schema);
2. ``jsonld_from_html`` — extract every ld+json island from an HTML
   column and parse it, one ``mapInPandas`` Arrow pass over the
   pages table (pairs with ``sources/extract.py``'s text path).

Supported JSON-LD 1.1 subset (processing-model corners are refused
loudly, never guessed):

- top-level node object, array of node objects, or ``@graph`` array
  (graph names are NOT flattened away: ``@graph`` under a node
  object with ``@id`` keeps triples in the triple table but is
  accepted — the dataset projection the reference's converters use);
- inline ``@context`` objects: term -> IRI strings, prefix
  expansion (``term:suffix``), ``@vocab``, ``@base``, expanded term
  definitions ``{"@id": …, "@type": "@id" | <datatype>,
  "@language", "@container": "@list" | "@set"}``;
- node objects: ``@id`` (IRI / ``_:label``), ``@type`` (string or
  array), nested node objects (emitted and linked), arrays as
  multi-values;
- value objects ``{"@value", "@language", "@type"}``, plain JSON
  scalars (string -> plain literal with the active language;
  integer -> xsd:integer; non-integral number -> xsd:double in the
  JSON-LD canonical lexical form; boolean -> xsd:boolean; null ->
  dropped per spec), ``{"@list": […]}`` -> rdf:first/rest/nil
  chains, ``{"@set": […]}`` flattened.

Honest refusals (``JsonLdError``): REMOTE contexts (a string/URL
``@context`` — no network in a deterministic pipeline; inline the
context), ``@reverse``, ``@nest``, ``@included``, ``@index`` maps,
``@json`` datatypes, term-scoped ``@context`` overrides, and
relative IRIs with no ``@base``.

Scale notes: document-scoped like the Turtle/RDF-XML readers (blank
node labels + contexts are per-document) -> whole-document rows,
per-document skolemization, one Arrow crossing; the HTML extraction
regex runs inside the same pass (no second scan of the page table).
"""
from __future__ import annotations

import hashlib
import json
import math
import re
from urllib.parse import urljoin

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD_NS = "http://www.w3.org/2001/XMLSchema#"
_RDF_TYPE = RDF_NS + "type"
_RDF_FIRST = RDF_NS + "first"
_RDF_REST = RDF_NS + "rest"
_RDF_NIL = RDF_NS + "nil"

_ABS_IRI = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
_KEYWORDS = {"@id", "@type", "@value", "@language", "@list", "@set",
             "@graph", "@context"}
_REFUSED = {"@reverse", "@nest", "@included", "@index", "@json",
            "@direction", "@version", "@propagate", "@protected",
            "@import"}


class JsonLdError(ValueError):
    pass


def _canonical_double(v: float) -> str:
    """The JSON-LD / XSD canonical lexical form for xsd:double:
    mantissa in [1,10) with no trailing zeros, 'E' exponent."""
    if math.isinf(v) or math.isnan(v):
        raise JsonLdError("non-finite number %r in JSON-LD" % v)
    mant, exp = ("%1.15E" % v).split("E")
    mant = mant.rstrip("0").rstrip(".")
    if "." not in mant:
        mant += ".0"
    return "%sE%d" % (mant, int(exp))


class _Ctx:
    """Active context: term definitions + @vocab/@base/@language."""

    __slots__ = ("terms", "vocab", "base", "language")

    def __init__(self):
        self.terms = {}
        self.vocab = None
        self.base = None
        self.language = None


def _parse_context(raw, ctx: _Ctx):
    if isinstance(raw, list):
        for part in raw:
            _parse_context(part, ctx)
        return
    if isinstance(raw, str):
        raise JsonLdError(
            "remote @context %r is not fetched (deterministic "
            "pipeline, no network) — inline the context" % raw)
    if not isinstance(raw, dict):
        raise JsonLdError("@context must be an object")
    # two passes so prefix terms can reference each other
    for key, val in raw.items():
        if key == "@vocab":
            ctx.vocab = val
        elif key == "@base":
            ctx.base = val
        elif key == "@language":
            ctx.language = val
        elif key in _REFUSED:
            raise JsonLdError("%s in @context is not supported" % key)
    for key, val in raw.items():
        if key.startswith("@"):
            continue
        if isinstance(val, str):
            ctx.terms[key] = {"@id": val}
        elif isinstance(val, dict):
            bad = set(val) - {"@id", "@type", "@language",
                              "@container"}
            if bad & _REFUSED or "@context" in val:
                raise JsonLdError(
                    "term-scoped %s in the definition of %r is not "
                    "supported" % (sorted(bad | (set(val)
                                   & {"@context"}))[0], key))
            if bad - _REFUSED:
                raise JsonLdError(
                    "unsupported key %s in the term definition of "
                    "%r" % (sorted(bad - _REFUSED)[0], key))
            cont = val.get("@container")
            if cont not in (None, "@list", "@set"):
                raise JsonLdError(
                    "@container %r is not supported (only @list / "
                    "@set)" % cont)
            ctx.terms[key] = dict(val)
        elif val is None:
            ctx.terms[key] = None  # term explicitly decoupled
        else:
            raise JsonLdError(
                "invalid term definition for %r" % key)


def parse_jsonld_text(text: str, bnode_prefix: str = ""):
    """Parse ONE JSON-LD document (already-extracted island or whole
    file) into (subj, pred, obj, obj_is_uri, obj_lang, obj_datatype)
    tuples."""
    try:
        doc = json.loads(text)
    except json.JSONDecodeError as exc:
        raise JsonLdError("malformed JSON: %s" % exc) from exc
    triples = []
    bnodes: dict = {}
    counter = [0]

    def fresh() -> str:
        label = "_:%sb%d" % (bnode_prefix, counter[0])
        counter[0] += 1
        return label

    def user_bnode(label: str) -> str:
        if label not in bnodes:
            bnodes[label] = fresh()
        return bnodes[label]

    def expand_iri(ctx: _Ctx, value: str, vocab: bool) -> str:
        """Term / compact IRI / relative IRI expansion. ``vocab``
        selects @vocab (predicates, types) vs @base (@id values)."""
        if value.startswith("_:"):
            return user_bnode(value[2:] or "b")
        if value in ctx.terms:
            td = ctx.terms[value]
            if td is None:
                raise JsonLdError(
                    "term %r is explicitly nulled in the context"
                    % value)
            return expand_iri(ctx, td["@id"], True)
        if ":" in value:
            pfx, rest = value.split(":", 1)
            if pfx in ctx.terms and ctx.terms[pfx] is not None \
                    and not rest.startswith("//"):
                return expand_iri(ctx, ctx.terms[pfx]["@id"],
                                  True) + rest
            if _ABS_IRI.match(value):
                return value
        if vocab and ctx.vocab:
            return ctx.vocab + value
        if ctx.base:
            res = urljoin(ctx.base, value)
            if value.endswith("#") and not res.endswith("#"):
                res += "#"
            return res
        raise JsonLdError(
            "cannot expand %r: not a term, no %s in context"
            % (value, "@vocab" if vocab else "@base"))

    def node_subject(ctx: _Ctx, node: dict) -> str:
        nid = node.get("@id")
        if nid is None:
            return fresh()
        if not isinstance(nid, str):
            raise JsonLdError("@id must be a string")
        if nid.startswith("_:"):
            return user_bnode(nid[2:] or "b")
        return expand_iri(ctx, nid, False)

    def emit_value(ctx, subj, pred, value, td):
        """One value in object position; td = the term definition in
        force (may carry @type/@language coercion)."""
        if value is None:
            return  # null values are dropped by the spec
        if isinstance(value, dict):
            for k in value:
                if k in _REFUSED:
                    raise JsonLdError("%s is not supported" % k)
            if "@value" in value:
                v = value["@value"]
                lang = value.get("@language")
                vt = value.get("@type")
                if vt == "@json":
                    raise JsonLdError("@json literals not supported")
                if isinstance(v, bool):
                    lex, dt = ("true" if v else "false",
                               XSD_NS + "boolean")
                elif isinstance(v, int) and not isinstance(v, bool):
                    lex, dt = str(v), XSD_NS + "integer"
                elif isinstance(v, float):
                    lex, dt = _canonical_double(v), XSD_NS + "double"
                elif isinstance(v, str):
                    lex, dt = v, None
                else:
                    raise JsonLdError("invalid @value %r" % (v,))
                if vt is not None:
                    if lang is not None:
                        raise JsonLdError(
                            "@type and @language on one value object")
                    dt = expand_iri(ctx, vt, True)
                triples.append((subj, pred, lex, False,
                                lang, dt))
                return
            if "@list" in value:
                emit_list(ctx, subj, pred, value["@list"], td)
                return
            if "@set" in value:
                for item in value["@set"]:
                    emit_value(ctx, subj, pred, item, td)
                return
            # node object (reference or full)
            obj = node_object(ctx, value)
            triples.append((subj, pred, obj, True, None, None))
            return
        if isinstance(value, list):
            for item in value:
                emit_value(ctx, subj, pred, item, td)
            return
        # plain scalar
        coerce = td.get("@type") if td else None
        if isinstance(value, bool):
            triples.append((subj, pred, "true" if value else "false",
                            False, None, XSD_NS + "boolean"))
        elif isinstance(value, int):
            triples.append((subj, pred, str(value), False, None,
                            XSD_NS + "integer"))
        elif isinstance(value, float):
            triples.append((subj, pred, _canonical_double(value),
                            False, None, XSD_NS + "double"))
        elif coerce == "@id":
            triples.append((subj, pred, expand_iri(ctx, value, False),
                            True, None, None))
        elif coerce is not None:
            triples.append((subj, pred, value, False, None,
                            expand_iri(ctx, coerce, True)))
        else:
            lang = (td.get("@language") if td and "@language" in td
                    else ctx.language)
            triples.append((subj, pred, value, False, lang, None))

    def emit_list(ctx, subj, pred, items, td):
        if not isinstance(items, list):
            items = [items]
        if not items:
            triples.append((subj, pred, _RDF_NIL, True, None, None))
            return
        nodes = [fresh() for _ in items]
        triples.append((subj, pred, nodes[0], True, None, None))
        for i, (n, item) in enumerate(zip(nodes, items)):
            before = len(triples)
            emit_value(ctx, n, _RDF_FIRST, item, td)
            if len(triples) == before:
                raise JsonLdError("null inside @list is not RDF")
            nxt = nodes[i + 1] if i + 1 < len(nodes) else _RDF_NIL
            triples.append((n, _RDF_REST, nxt, True, None, None))

    def node_object(ctx: _Ctx, node: dict) -> str:
        if "@context" in node and len(node) > 1:
            inner = _Ctx()
            inner.terms = dict(ctx.terms)
            inner.vocab, inner.base = ctx.vocab, ctx.base
            inner.language = ctx.language
            _parse_context(node["@context"], inner)
            ctx = inner
        for k in node:
            if k in _REFUSED:
                raise JsonLdError("%s is not supported" % k)
        subj = node_subject(ctx, node)
        for key, value in node.items():
            if key in ("@id", "@context"):
                continue
            if key == "@type":
                types = value if isinstance(value, list) else [value]
                for t in types:
                    triples.append((subj, _RDF_TYPE,
                                    expand_iri(ctx, t, True), True,
                                    None, None))
                continue
            if key == "@graph":
                items = value if isinstance(value, list) else [value]
                for item in items:
                    if not isinstance(item, dict):
                        raise JsonLdError(
                            "@graph entries must be node objects")
                    node_object(ctx, item)
                continue
            if key.startswith("@"):
                raise JsonLdError("keyword %s in a node object is "
                                  "not supported" % key)
            td = ctx.terms.get(key)
            if td is None and key in ctx.terms:
                continue  # explicitly nulled term: drop
            pred = expand_iri(ctx, key, True)
            if td and td.get("@container") == "@list":
                emit_list(ctx, subj, pred, value, td)
            else:
                emit_value(ctx, subj, pred, value, td)
        return subj

    ctx = _Ctx()
    if isinstance(doc, dict) and "@context" in doc:
        _parse_context(doc["@context"], ctx)
    tops = doc if isinstance(doc, list) else [doc]
    for top in tops:
        if not isinstance(top, dict):
            raise JsonLdError("top-level entries must be node objects")
        if top is not doc and "@context" in top:
            local = _Ctx()
            _parse_context(top["@context"], local)
            node_object(local, top)
            continue
        node_object(ctx, top)
    return triples


_SCHEMA = (
    "subj string, pred string, obj string, obj_is_uri boolean, "
    "obj_lang string, obj_datatype string"
)

# the script-island extraction: type attr may carry whitespace /
# charset parameters; closing </script> is the only terminator that
# matters (per the HTML spec script content is raw text)
_LDJSON_RE = re.compile(
    r'(?is)<script\b[^>]*type\s*=\s*["\']application/ld\+json'
    r'["\'][^>]*>(.*?)</script\s*>')


def extract_jsonld_islands(html: str):
    """All ``application/ld+json`` script bodies in an HTML page."""
    return [m.group(1).strip() for m in _LDJSON_RE.finditer(html)]


def parse_jsonld_docs(docs: DataFrame, column: str = "value",
                      skolemize: bool = True,
                      on_error: str = "raise") -> DataFrame:
    """Whole JSON-LD documents -> 6-column triple table, one Arrow
    pass. ``on_error='drop'`` skips malformed documents (crawl
    reality: many pages ship broken JSON-LD) — 'raise' stays the
    default for curated inputs."""
    if on_error not in ("raise", "drop"):
        raise ValueError("on_error must be 'raise' or 'drop'")

    def gen(batches):
        cols = ["subj", "pred", "obj", "obj_is_uri", "obj_lang",
                "obj_datatype"]
        for pdf in batches:
            rows = []
            for text in pdf[column]:
                pfx = ""
                if skolemize:
                    pfx = hashlib.sha1(
                        text.encode("utf-8", "surrogatepass")
                    ).hexdigest()[:10] + "_"
                try:
                    rows.extend(parse_jsonld_text(
                        text, bnode_prefix=pfx))
                except JsonLdError:
                    if on_error == "raise":
                        raise
            yield pd.DataFrame(rows, columns=cols)

    return docs.mapInPandas(gen, schema=_SCHEMA)


def jsonld_from_html(pages: DataFrame, html_col: str = "html",
                     url_col: str = "url",
                     on_error: str = "drop") -> DataFrame:
    """Extract + parse every JSON-LD island from an HTML pages table
    in ONE Arrow pass: (page_url, subj, pred, obj, obj_is_uri,
    obj_lang, obj_datatype). Broken islands are dropped by default
    (crawl data), ``on_error='raise'`` for curated corpora. Blank
    labels skolemize per (page, island) so islands never merge."""
    if on_error not in ("raise", "drop"):
        raise ValueError("on_error must be 'raise' or 'drop'")

    def gen(batches):
        cols = ["page_url", "subj", "pred", "obj", "obj_is_uri",
                "obj_lang", "obj_datatype"]
        for pdf in batches:
            rows = []
            for url, html in zip(pdf[url_col], pdf[html_col]):
                if html is None:
                    continue
                for i, island in enumerate(
                        extract_jsonld_islands(html)):
                    pfx = hashlib.sha1(
                        ("%s\x00%d" % (url, i)).encode("utf-8")
                    ).hexdigest()[:10] + "_"
                    try:
                        for t in parse_jsonld_text(
                                island, bnode_prefix=pfx):
                            rows.append((url,) + t)
                    except JsonLdError:
                        if on_error == "raise":
                            raise
            yield pd.DataFrame(rows, columns=cols)

    return pages.mapInPandas(
        gen, schema="page_url string, " + _SCHEMA)


def read_jsonld(spark: SparkSession, path: str,
                on_error: str = "raise") -> DataFrame:
    """Distributed JSON-LD reader — whole-file-per-task (contexts
    and blank labels are document-scoped)."""
    return parse_jsonld_docs(
        spark.read.text(path, wholetext=True), on_error=on_error)
