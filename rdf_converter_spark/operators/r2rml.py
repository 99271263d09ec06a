# -*- coding: utf-8 -*-
"""R2RML-lite: declarative table-to-triples mapping, compiled to the
emission builder's SQL fragments.

The reference hard-codes its field mappings in per-dataset converter
code (``ld_converter.py`` / ``pa_converter.py`` / ``yle_converter.py``
each walk their rows emitting ``graph.add(...)`` per field); the
engine's pipelines re-express those as per-kind SQL triple bundles
(``operators/emit.py``). This module generalizes that pattern into the
W3C R2RML vocabulary's core (simplified, dict-shaped): a *triples map*
declares a subject template and predicate-object maps, and
``r2rml_triples`` compiles them with the same builder (``triple``,
``each``, ``explode_triples``) into ONE array-of-structs + inline plan
over the input DataFrame — no re-scan per predicate, all JVM
expressions, no Python in the row path. Column names are backquoted
and constant text goes through the one SQL string quoter, so an IRI or
template text holding a quote or a backslash is emitted verbatim.

Mapping shape::

    {
      "subject": {
        "template": "http://kg.test/customer/{c_custkey}",
        "class": "http://kg.test/Customer",        # optional, or list
      },
      "predicate_objects": [
        {"pred": P + "name", "column": "c_name"},            # literal
        {"pred": P + "key",  "column": "c_custkey",
         "datatype": XSD + "integer"},                # typed literal
        {"pred": P + "note", "column": "c_note", "lang": "en"},
        {"pred": P + "nation",
         "template": "http://kg.test/nation/{c_nationkey}"},    # IRI
        {"pred": P + "phonePart", "column": "c_phone",
         "split": "-"},                       # multi-valued -> N triples
      ],
    }

R2RML semantics honored:
- a term map referencing a NULL column produces NO triple (R2RML
  §11): template ``concat`` nulls out and the emission gate drops it;
  a NULL *subject* suppresses the whole row's triples.
- ``template`` maps produce IRIs (``obj_is_uri=true``), ``column``
  maps produce literals; ``datatype`` and ``lang`` are mutually
  exclusive per the spec.
- IRI templates optionally percent-encode their column values
  (``"encode": true``) — R2RML's IRI-safe curly-brace expansion —
  via the JVM ``url_encode`` with ``+`` rewritten to ``%20``.
- output is a SET (``dedup_triples``), matching R2RML's
  "generated RDF graph".

Out of scope, documented: referencing-object maps (cross-table
``rr:parentTriplesMap`` joins) — in DataFrame land the idiomatic form
is joining the tables FIRST and mapping the joined row, which also
lets Catalyst pick broadcast/skew strategies for the join instead of
hiding it inside the mapping layer.
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .emit import (bundle, col, dedup_triples, each, explode_triples, lit,
                   triple, uref)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

_PLACEHOLDER = re.compile(r"\{([^{}]+)\}")


def _template(template: str, encode: bool) -> str:
    parts = []
    pos = 0
    for m in _PLACEHOLDER.finditer(template):
        if m.start() > pos:
            parts.append(lit(template[pos:m.start()]))
        ref = "CAST(%s AS STRING)" % col(m.group(1))
        if encode:
            # URLEncoder is form-encoding; R2RML wants percent-encoding
            ref = "regexp_replace(url_encode(%s), %s, '%%20')" % (
                ref, lit(r"\+"))
        parts.append(ref)
        pos = m.end()
    if pos < len(template):
        parts.append(lit(template[pos:]))
    if not parts:
        raise ValueError("empty template")
    return parts[0] if len(parts) == 1 else "concat(%s)" % ", ".join(parts)


def compile_template(template: str, encode: bool = False) -> Column:
    """``"...{col}..."`` -> one ``concat`` expression. NULL in any
    referenced column nulls the whole term (R2RML NULL semantics —
    the caller's gate then drops the triple)."""
    return F.expr(_template(template, encode))


def _column(name: str) -> str:
    return "CAST(%s AS STRING)" % col(name)


def _term(po: dict, encode_default: bool) -> str:
    has_tpl, has_col = "template" in po, "column" in po
    if has_tpl == has_col:
        raise ValueError(
            "predicate-object map needs exactly one of "
            "'template' (IRI) or 'column' (literal): %r" % (po,))
    if has_tpl:
        if po.get("datatype") or po.get("lang"):
            raise ValueError(
                "IRI term map cannot carry datatype/lang: %r" % (po,))
        return _template(po["template"], po.get("encode", encode_default))
    return _column(po["column"])


def r2rml_triples(
    df: DataFrame,
    mapping: dict,
    graph: Optional[str] = None,
) -> DataFrame:
    """Apply one triples map to ``df`` -> deduplicated triple table
    (``subj,pred,obj,obj_is_uri,obj_lang,obj_datatype`` +
    ``graph`` when given)."""
    sub = mapping.get("subject") or {}
    if "template" not in sub and "column" not in sub:
        raise ValueError("subject map needs 'template' or 'column'")
    encode_default = bool(mapping.get("encode", False))
    if "template" in sub:
        subj = _template(sub["template"], sub.get("encode", encode_default))
    else:
        subj = _column(sub["column"])

    static = []
    classes = sub.get("class") or []
    if isinstance(classes, str):
        classes = [classes]
    for cls in classes:
        static.append(uref(subj, RDF_TYPE, lit(cls)))

    arrays = []
    for po in mapping.get("predicate_objects", ()):
        if po.get("datatype") and po.get("lang"):
            raise ValueError(
                "datatype and lang are mutually exclusive: %r" % (po,))
        pred = po["pred"]
        split = po.get("split")
        if split is not None:
            if "column" not in po:
                raise ValueError(
                    "'split' needs a 'column' term map: %r" % (po,))
            vals = "split(%s, %s)" % (_column(po["column"]),
                                      lit(re.escape(split)))
            arrays.append(each(vals, "__v", triple(
                subj, pred, "__v", lang=po.get("lang"),
                dt=po.get("datatype"))))
        else:
            static.append(triple(
                subj, pred, _term(po, encode_default),
                uri="template" in po, lang=po.get("lang"),
                dt=po.get("datatype")))
    if not static and not arrays:
        raise ValueError("mapping emits no triples")
    bundles = ([bundle(*static)] if static else []) + arrays
    out = explode_triples(df, *bundles, graph=graph, src_url=None)
    return dedup_triples(out)
