# -*- coding: utf-8 -*-
"""Triple emission: per-row triple bundles -> flat triple DataFrame.

Design for scale: each doc-kind pipeline writes its triples as SQL
text — one array of triple structs per source row (static triples in
``bundle(...)``, multi-valued fields as ``transform`` lambdas over
array columns via ``each``) — and ``explode_triples`` applies the whole
bundle with one ``selectExpr``: a single ``inline`` flattens it — one
scan of the parsed table per kind, no re-scan per predicate,
everything evaluated JVM-side. Because a bundle is text, building a
kind's plan costs a handful of Python-to-JVM calls, not one per
expression node.

The empty-object gate reproduces add_to_graph (ld_converter.py:106-111):
drop when the object is NULL, '' or the string 'None' (the reference's
``str(Literal(None))`` artifact). Null *subjects* encode the
reference's ``if timeslot_uri:`` guards (``guard``) and are dropped
too.
"""

from __future__ import annotations

import re
from typing import Optional, Sequence

from pyspark.sql import DataFrame

from ..terms import TRIPLE_KEY
from .sparql_text import _sql_str as lit

_NAME = re.compile(r"[A-Za-z_]\w*")

_GATE = ("`subj` IS NOT NULL AND `obj` IS NOT NULL AND length(`obj`) > 0 "
         "AND `obj` != 'None'")


def col(name: str) -> str:
    """A column reference, backquoted."""
    return "`%s`" % name.replace("`", "``")


def _term(expr: str) -> str:
    return col(expr) if _NAME.fullmatch(expr) else expr


def _const(value: Optional[str]) -> str:
    return "CAST(NULL AS STRING)" if value is None else lit(value)


def triple(subj: str, pred: str, obj: str, uri: bool = False,
           lang: Optional[str] = None, dt: Optional[str] = None) -> str:
    """One triple as a ``named_struct`` (TRIPLE_SCHEMA order).

    ``subj`` and ``obj`` are SQL expressions in which a bare name is a
    column (backquoted here, so ``"end"`` is the column); constants go
    through ``lit``. ``pred``, ``lang`` and ``dt`` are constants."""
    return (
        "named_struct('subj', %s, 'pred', %s, 'obj', %s, 'obj_is_uri', %s, "
        "'obj_lang', %s, 'obj_datatype', %s)"
        % (_term(subj), lit(pred), _term(obj), "true" if uri else "false",
           _const(lang), _const(dt))
    )


def uref(subj: str, pred: str, obj: str) -> str:
    """Triple whose object is a URI reference."""
    return triple(subj, pred, obj, uri=True)


def guard(cond: str, expr: str) -> str:
    """``expr`` where ``cond`` holds, else NULL: a guarded subject
    drops its triple at the gate."""
    return "IF(%s, %s, NULL)" % (_term(cond), _term(expr))


def bundle(*triples: str) -> str:
    """Static triples of a row, as one array."""
    return "array(%s)" % ", ".join(triples)


def each(array: str, var: str, *triples: str) -> str:
    """``triples`` for every element of the array column ``array``,
    bound to the lambda variable ``var``."""
    if len(triples) == 1:
        return "transform(%s, %s -> %s)" % (_term(array), var, triples[0])
    return "flatten(transform(%s, %s -> %s))" % (
        _term(array), var, bundle(*triples))


def explode_triples(
    df: DataFrame, *bundles: str, graph: Optional[str] = None,
    src_url: Optional[str] = "url",
) -> DataFrame:
    """Concat the array<triple-struct> SQL ``bundles``, flatten them
    with one ``inline``, apply the gate."""
    arr = bundles[0] if len(bundles) == 1 else "concat(%s)" % ", ".join(bundles)
    exprs = ["inline(%s)" % arr]
    if graph is not None:
        exprs.append("%s AS graph" % lit(graph))
    if src_url is not None and src_url in df.columns:
        exprs.append("%s AS src_url" % col(src_url))
    return df.selectExpr(*exprs).filter(_GATE)


def dedup_triples(df: DataFrame, within: Sequence[str] = ("graph",)) -> DataFrame:
    """Set semantics of the rdflib graph (A1) — the pipeline's main
    shuffle. Hash-partitioned on the full triple key; hub-entity skew
    (channel/vocab triples repeated per source row) is absorbed by the
    pre-aggregation that dropDuplicates compiles to (partial dedup
    map-side before exchange) plus AQE skew handling.
    """
    keys = [k for k in within if k in df.columns] + TRIPLE_KEY
    return df.dropDuplicates(keys)
