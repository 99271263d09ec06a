# -*- coding: utf-8 -*-
"""SPARQL-style basic-graph-pattern matching over a triple table.

The reference emits its graphs into rdflib ``Graph`` objects, whose
consumers then query them with SPARQL BGPs (``rdflib.Graph.query``);
this module is the Spark-first analog over the engine's materialized
``(subj, pred, obj)`` DataFrames: each triple pattern compiles to a
filtered/projected scan of the triple table and shared variables
become Catalyst equi-joins, so the whole BGP is one declarative plan
that AQE sizes at runtime (a bound-predicate pattern's selection is
tiny next to a 10^12-triple table and broadcasts; two large patterns
sort-merge with skew splitting — hub subjects are exactly the AQE
skew-join case).

Scale notes (100 TB lens):
- Constant terms become ``Filter`` nodes directly over the scan, so
  predicate pushdown reaches the parquet/Iceberg reader — a BGP with
  a bound predicate never reads the other predicates' row groups
  when the table is partitioned/sorted by ``pred`` (the classic
  vertical-partitioning layout for triple stores).
- Pattern order: most-constrained-first (most constants) seeds the
  join tree with the smallest relation; subsequent patterns must
  share a variable with the bound set — a disconnected pattern is a
  cartesian product and raises instead of silently exploding.
- No driver-side work: the binding relation stays distributed end to
  end; SPARQL bag semantics fall out of the joins (the triple table
  is a set after ``dedup_triples``).
"""

from __future__ import annotations

import re
from typing import Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_POS = ("subj", "pred", "obj")
# a ?var reference, or a single-quoted SQL string literal (with
# backslash escapes) whose text is matched only so it is skipped
_EXPR_TOKEN = re.compile(r"'(?:[^'\\]|\\.)*'|\?(\w+)")


def _expr_vars(expr: str) -> list:
    """The ``?var`` names an expression reads, outside its string
    literals (``'what?x'`` names no variable)."""
    return [m.group(1) for m in _EXPR_TOKEN.finditer(expr) if m.group(1)]


def _sql_expr(expr: str):
    """``F.expr`` of an expression with each ``?var`` rewritten to a
    column reference; string literals are left as written."""
    return F.expr(_EXPR_TOKEN.sub(
        lambda m: "`%s`" % m.group(1) if m.group(1) else m.group(0),
        expr))


class TaggedLiteral(str):
    """A constant literal term carrying a language tag or datatype
    IRI constraint (``"chasse"@fr`` / ``"1"^^xsd:integer``). The
    engine stores tags OUT OF BAND (``obj_lang`` / ``obj_datatype``
    columns), so a tagged constant matches lexically on the term
    column PLUS equality on the tag column. Subclasses ``str`` so
    every code path that treats pattern terms as plain strings
    (variable tests, ordering keys, reprs) keeps working; only
    :func:`_pattern_relation` inspects the extra attributes.

    Exactly one of ``lang`` / ``datatype`` is set (SPARQL literals
    cannot carry both)."""

    __slots__ = ("lang", "datatype")

    def __new__(cls, lex: str, lang=None, datatype=None):
        if (lang is None) == (datatype is None):
            raise ValueError(
                "TaggedLiteral needs exactly one of lang/datatype")
        self = super().__new__(cls, lex)
        self.lang = lang
        self.datatype = datatype
        return self


def _is_var(term: str) -> bool:
    # a TaggedLiteral is never a variable, even when its lexical
    # form starts with "?" (`"?x"@en` is a literal)
    return (isinstance(term, str) and term.startswith("?")
            and not isinstance(term, TaggedLiteral))


def _pattern_vars(pat: Sequence[str]) -> set:
    return {t[1:] for t in pat if _is_var(t)}


def _pattern_relation(
    triples: DataFrame, pat: Sequence[str], positions: Sequence[str] = _POS,
    meta_vars: Sequence[str] = (),
) -> DataFrame:
    """One triple pattern -> binding relation: constants filter,
    variables project (repeated variables within the pattern filter
    for equality first, SPARQL ``?x :p ?x`` semantics).

    ``meta_vars`` lists variables whose TERM METADATA must be
    projected as companion columns ``<var>__lang`` / ``<var>__datatype``
    / ``<var>__is_uri`` (how FILTER ``LANG()`` / ``DATATYPE()`` /
    ``isIRI()`` reach past the lexical-string binding): an
    object-position variable takes the table's term columns, a
    subject/predicate-position variable is an IRI by construction
    (null lang/datatype, is_uri true)."""
    df = triples
    first_col = {}  # var name -> triple column carrying it
    order = []
    for col, term in zip(positions, pat):
        if _is_var(term):
            v = term[1:]
            if not v:
                raise ValueError("empty variable name in pattern %r" % (pat,))
            if v in first_col:
                df = df.filter(F.col(col) == F.col(first_col[v]))
            else:
                first_col[v] = col
                order.append(v)
        else:
            df = df.filter(F.col(col) == str(term))
            if isinstance(term, TaggedLiteral):
                if col != positions[-1]:
                    raise ValueError(
                        "tagged literal %r in %s position — RDF "
                        "literals are only valid as objects" % (
                            str(term), col))
                tag_col = ("%s_lang" % col) if term.lang is not None \
                    else ("%s_datatype" % col)
                if tag_col not in df.columns:
                    raise ValueError(
                        "pattern constrains %s but the triple table "
                        "has no such column — tagged-literal matching "
                        "needs the 6-column term schema" % tag_col)
                df = df.filter(
                    F.col(tag_col) == (term.lang if term.lang is not None
                                       else term.datatype))
                flag = "%s_is_uri" % col
                if flag in df.columns:
                    df = df.filter(~F.col(flag))
    if not first_col:
        raise ValueError(
            "all-constant pattern %r has no bindings; express existence "
            "checks as a filter on the caller's side" % (pat,)
        )
    cols = [F.col(first_col[v]).alias(v) for v in order]
    for v in meta_vars:
        if v not in first_col:
            continue
        if first_col[v] == positions[-1]:  # object position
            for suffix, src in (("lang", "obj_lang"),
                                ("datatype", "obj_datatype"),
                                ("is_uri", "obj_is_uri")):
                if src not in df.columns:
                    raise ValueError(
                        "term metadata for ?%s needs the %s column — "
                        "LANG()/DATATYPE()/isIRI() require the "
                        "6-column term schema" % (v, src))
                cols.append(F.col(src).alias("%s__%s" % (v, suffix)))
        else:  # subjects/predicates are IRIs by construction
            cols.extend([
                F.lit(None).cast("string").alias("%s__lang" % v),
                F.lit(None).cast("string").alias("%s__datatype" % v),
                F.lit(True).alias("%s__is_uri" % v),
            ])
    return df.select(*cols)


def bgp_match(
    triples: DataFrame,
    patterns: Sequence[Tuple[str, str, str]],
    optional: Sequence[Sequence[Tuple[str, str, str]]] = (),
    filters: Sequence[str] = (),
    minus: Sequence[Sequence[Tuple[str, str, str]]] = (),
    values: Sequence[dict] = (),
    exists: Sequence[Sequence[Tuple[str, str, str]]] = (),
    not_exists: Sequence[Sequence[Tuple[str, str, str]]] = (),
    binds: Sequence[Tuple[str, str]] = (),
    relations: Sequence[DataFrame] = (),
    term_meta: Sequence[str] = (),
    _positions: Sequence[str] = _POS,
) -> DataFrame:
    """Match a basic graph pattern against ``triples``.

    ``term_meta`` lists variables whose term metadata (language tag,
    datatype IRI, IRI-vs-literal kind) must be visible to ``filters``
    and ``binds`` as companion columns ``<var>__lang`` /
    ``<var>__datatype`` / ``<var>__is_uri`` — how SPARQL ``LANG()`` /
    ``DATATYPE()`` / ``isIRI()`` / ``isLiteral()`` execute over this
    engine's lexical-string bindings. Each listed variable must be
    bound by one of THIS group's triple patterns (raise otherwise);
    exactly one pattern — the first in source order binding it —
    emits the companions, so they never become join keys (a
    null-lang literal under a null-unsafe key join would silently
    drop). Companions are internal: they are DROPPED from the
    returned solution after the filters run.

    ``relations`` takes pre-computed binding relations (one column
    per variable, e.g. a :func:`operators.paths.path_match` result
    for a property-path triple pattern) joined into the solution
    after the triple patterns, under the same
    shared-variable-or-raise connectivity rule — this is how the
    text front-end mixes paths into a BGP.

    ``patterns`` is a sequence of ``(s, p, o)`` tuples; a term
    starting with ``?`` is a variable, anything else is a constant
    matched against the column value. Returns one column per distinct
    variable, one row per solution mapping (SPARQL bag-join
    semantics over the deduplicated triple set).

    ``optional`` takes OPTIONAL groups — each its own pattern list,
    matched as a sub-BGP and LEFT-joined to the required solution on
    the shared variables (SPARQL ``OPTIONAL { ... }``): new variables
    bind where the group matches and stay null where it doesn't,
    without discarding the required row.

    ``minus`` takes SPARQL ``MINUS`` groups — each matched as its own
    sub-BGP and LEFT-ANTI-joined on the shared variables: required
    solutions compatible with any minus solution are removed. A
    MINUS group sharing no variable removes nothing per the SPARQL
    spec (disjoint domains are never compatible), so that case
    raises here instead of silently keeping everything — same
    fail-fast stance as the disconnected-pattern check. The anti
    join is the cheapest SPARQL operator at scale: no new columns,
    and AQE broadcasts the minus side when its selection is small.
    Corner divergence, documented: a shared variable left NULL by an
    unmatched OPTIONAL is treated as incomparable (the row is kept),
    while the spec's domain-restricted compatibility would test only
    the bound variables — avoid mixing OPTIONAL-bound variables into
    MINUS keys.

    ``exists`` / ``not_exists`` take SPARQL ``FILTER EXISTS { ... }``
    / ``FILTER NOT EXISTS { ... }`` groups — each matched as its own
    sub-BGP and applied as a LEFT-SEMI (resp. LEFT-ANTI) join on the
    shared variables: no new columns ever bind (the spec's filter
    scope), and duplicate solutions are preserved exactly (a semi
    join never multiplies rows, where an inner join against the
    group would). The semantic split from ``minus``: a group sharing
    NO variable is the spec's *uncorrelated* filter — it removes
    every row (NOT EXISTS) or no row (EXISTS) purely on whether the
    group matches anywhere, implemented as a broadcast 0/1-row probe
    rather than the MINUS path's fail-fast. Same NULL caveat as
    MINUS: an OPTIONAL-unbound shared variable never matches (Spark
    null-key join), while the spec's substitution would leave it
    free — keep EXISTS keys to required variables.

    ``values`` takes SPARQL ``VALUES`` inline data: a sequence of
    ``{var: constant}`` dicts. ``UNDEF`` is a missing (or None) key:
    a solution is compatible with a row iff they agree on the row's
    DEFINED variables (§10.2) — rows group by their defined-variable
    signature, one broadcast join per signature, unioned with exact
    bag multiplicities. The block is inline query text, so it is
    bounded and always broadcast: shared variables inner-join the
    solution (constraining it); a block binding only NEW variables
    is the spec's cross join, harmless because the broadcast side is
    literal data. Evaluation order follows the trailing-VALUES form:
    the block joins the fully assembled group (after OPTIONAL /
    MINUS), before FILTERs.

    ``binds`` takes SPARQL ``BIND(expr AS ?var)`` clauses as ordered
    ``(var, expr)`` pairs — each introduces a NEW variable computed
    from a Spark SQL expression over ``?var`` references (re-binding
    an in-scope variable is a SPARQL syntax error and raises here);
    later binds and all ``filters`` see earlier binds. A BIND is a
    pure projection: zero shuffles, folded into whatever stage
    produces the solution.

    ``filters`` takes SPARQL ``FILTER`` expressions as Spark SQL
    boolean strings over the variable columns (e.g.
    ``"seg IN ('BUILDING') AND n RLIKE 'germany'"``). They are
    applied to the assembled solution, matching SPARQL's group-level
    FILTER scope; Catalyst pushes deterministic conjuncts below the
    joins on its own, so a filter on a single pattern's variable
    still reaches that pattern's scan. A filter that evaluates to
    NULL (e.g. over an unbound OPTIONAL variable) removes the row —
    SPARQL's error-is-false rule.
    """
    pats = list(patterns)
    if not pats and not relations:
        raise ValueError("empty basic graph pattern")
    meta = [v.lstrip("?$") for v in term_meta]
    meta_owner: dict = {}
    for v in meta:
        owner = next(
            (i for i, p in enumerate(pats) if v in _pattern_vars(p)),
            None)
        if owner is None:
            raise ValueError(
                "term_meta variable ?%s is not bound by any triple "
                "pattern in this group (LANG()/DATATYPE()/isIRI() "
                "need a pattern-bound variable)" % v)
        meta_owner[v] = owner
    # greedy most-constrained-first with a connectivity constraint
    pending = sorted(
        range(len(pats)),
        key=lambda i: (-sum(not _is_var(t) for t in pats[i]), i),
    )
    bound = None
    bound_vars: set = set()
    while pending:
        if bound is None:
            idx = pending.pop(0)
        else:
            pos = next(
                (j for j, i in enumerate(pending)
                 if _pattern_vars(pats[i]) & bound_vars),
                None,
            )
            if pos is None:
                raise ValueError(
                    "disconnected graph pattern (would be a cartesian "
                    "product): %r shares no variable with %r"
                    % ([pats[i] for i in pending], sorted(bound_vars))
                )
            idx = pending.pop(pos)
        rel = _pattern_relation(
            triples, pats[idx], _positions,
            meta_vars=[v for v, i in meta_owner.items() if i == idx])
        if bound is None:
            bound = rel
        else:
            shared = sorted(bound_vars & set(rel.columns))
            bound = bound.join(rel, on=shared)
        bound_vars |= set(rel.columns)
    for rel in relations:
        if bound is None:
            bound = rel
        else:
            shared = sorted(bound_vars & set(rel.columns))
            if not shared:
                raise ValueError(
                    "pre-computed relation with columns %s shares no "
                    "variable with the bound pattern %r (would be a "
                    "cartesian product)"
                    % (rel.columns, sorted(bound_vars)))
            bound = bound.join(rel, on=shared)
        bound_vars |= set(rel.columns)
    for group in optional:
        # each entry is a pattern list OR a pre-computed binding
        # relation (the text front-end lowers OPTIONAL groups that
        # carry FILTERs / property paths / nested groups to a
        # sub-BGP DataFrame; semantics are identical — left join on
        # the shared variables)
        rel = group if isinstance(group, DataFrame) else bgp_match(
            triples, group, _positions=_positions)
        shared = sorted(bound_vars & set(rel.columns))
        if not shared:
            raise ValueError(
                "OPTIONAL group %r shares no variable with the "
                "required pattern %r" % (
                    rel.columns if isinstance(group, DataFrame)
                    else list(group), sorted(bound_vars))
            )
        bound = bound.join(rel, on=shared, how="left")
        bound_vars |= set(rel.columns)
    for group in minus:
        rel = group if isinstance(group, DataFrame) else bgp_match(
            triples, group, _positions=_positions)
        shared = sorted(bound_vars & set(rel.columns))
        if not shared:
            raise ValueError(
                "MINUS group %r shares no variable with the required "
                "pattern %r — per SPARQL semantics it would remove "
                "nothing; drop it or share a variable"
                % (rel.columns if isinstance(group, DataFrame)
                   else list(group), sorted(bound_vars))
            )
        bound = bound.join(
            rel.select(*shared), on=shared, how="left_anti")
    if values:
        # UNDEF (a missing or None entry) binds nothing: a solution
        # is compatible with a VALUES row iff they agree on the
        # row's DEFINED variables (SPARQL 1.1 §10.2). Rows are
        # grouped by their defined-variable signature; each group is
        # one broadcast equi-join on its signature ∩ bound vars, and
        # the groups union (each row belongs to exactly one group,
        # so bag multiplicities are exact). The no-UNDEF case stays
        # a single group — the same single broadcast join as before.
        rows = [
            {k: v for k, v in dict(r).items() if v is not None}
            for r in values
        ]
        if not rows:
            raise ValueError("empty VALUES block")
        all_vars = sorted(set().union(*[set(r) for r in rows]))
        bysig: dict = {}
        for r in rows:
            bysig.setdefault(tuple(sorted(r)), []).append(r)
        parts = []
        for sig, rs in sorted(bysig.items()):
            svars = list(sig)
            if svars:
                vdf = triples.sparkSession.createDataFrame(
                    [tuple(str(r[v]) for v in svars) for r in rs],
                    ", ".join("`%s` string" % v for v in svars),
                )
                shared = sorted(bound_vars & set(svars))
                part = (
                    bound.join(F.broadcast(vdf), on=shared)
                    if shared
                    else bound.crossJoin(F.broadcast(vdf))
                )
            elif len(rs) == 1:
                part = bound  # one all-UNDEF row: multiplicity 1
            else:
                # k all-UNDEF rows: every solution k times (bag join)
                vdf = triples.sparkSession.createDataFrame(
                    [(i,) for i in range(len(rs))], "`__vrow` int")
                part = bound.crossJoin(F.broadcast(vdf)).drop("__vrow")
            for v in all_vars:
                if v not in part.columns:
                    part = part.withColumn(
                        v, F.lit(None).cast("string"))
            parts.append(part)
        bound = parts[0]
        for p in parts[1:]:
            bound = bound.unionByName(p)
        bound_vars |= set(all_vars)
    for negate, groups in ((False, exists), (True, not_exists)):
        for group in groups:
            rel = group if isinstance(group, DataFrame) else bgp_match(
                triples, group, _positions=_positions)
            shared = sorted(bound_vars & set(rel.columns))
            if shared:
                bound = bound.join(
                    rel.select(*shared), on=shared,
                    how="left_anti" if negate else "left_semi")
            else:
                # Uncorrelated (NOT) EXISTS: unlike MINUS, a group
                # sharing no variable still decides globally — the
                # whole solution survives iff the group matches
                # (resp. fails to match) ANYWHERE in the graph. One
                # broadcast 0/1-row probe, never a per-row scan.
                probe = F.broadcast(
                    rel.limit(1).select(F.lit(1).alias("__probe")))
                bound = bound.join(
                    probe,
                    on=F.lit(True),
                    how="left_anti" if negate else "left_semi")
    for var, expr in binds:
        var = var.lstrip("?")
        if var in bound_vars:
            raise ValueError(
                "BIND(... AS ?%s): variable already bound (SPARQL "
                "forbids re-binding an in-scope variable)" % var
            )
        missing = [v for v in _expr_vars(expr) if v not in bound_vars]
        if missing:
            raise ValueError(
                "BIND %r references unbound variables %s (bound: %s)"
                % (expr, missing, sorted(bound_vars))
            )
        bound = bound.withColumn(var, _sql_expr(expr))
        bound_vars.add(var)
    for expr in filters:
        # SPARQL-style ?var tokens are validated against the bound
        # set and rewritten to column references; plain identifiers
        # pass through to Spark's analyzer (which raises
        # UNRESOLVED_COLUMN on a typo anyway)
        missing = [v for v in _expr_vars(expr) if v not in bound_vars]
        if missing:
            raise ValueError(
                "FILTER %r references unbound variables %s (bound: %s)"
                % (expr, missing, sorted(bound_vars))
            )
        bound = bound.filter(_sql_expr(expr))
    if meta:
        companions = ["%s__%s" % (v, s) for v in meta
                      for s in ("lang", "datatype", "is_uri")]
        bound = bound.drop(*companions)
    return bound


def bag_union(sols: Sequence[DataFrame]) -> DataFrame:
    """SPARQL ``UNION``: the bag union of solution relations (one per
    alternative group) over the sorted union of their variables; a
    variable a relation lacks is null (unbound) in its rows. Each
    relation keeps its own join tree; the union is a zero-shuffle
    ``Union`` node with no dedup (wrap in ``.distinct()`` for the set
    view)."""
    if not sols:
        raise ValueError("empty UNION")
    all_vars = sorted(set().union(*[set(s.columns) for s in sols]))
    out = None
    for s in sols:
        padded = s.select(*[
            (F.col(v) if v in s.columns
             else F.lit(None).cast("string")).alias(v)
            for v in all_vars
        ])
        out = padded if out is None else out.unionByName(padded)
    return out


def quad_match(
    quads: DataFrame,
    patterns: Sequence[Tuple[str, str, str, str]],
    optional: Sequence[Sequence[Tuple[str, str, str, str]]] = (),
    filters: Sequence[str] = (),
    minus: Sequence[Sequence[Tuple[str, str, str, str]]] = (),
    exists: Sequence[Sequence[Tuple[str, str, str, str]]] = (),
    not_exists: Sequence[Sequence[Tuple[str, str, str, str]]] = (),
    relations: Sequence[DataFrame] = (),
    graph_col: str = "graph",
) -> DataFrame:
    """SPARQL ``GRAPH``-scoped matching over a QUAD table — the
    engine's materialized triple tables carry a named-graph column
    (``job.py`` writes ``partitionBy("graph")``, mirroring the
    reference's one-rdflib-Graph-per-dataset layout,
    ``converter.py``'s per-dataset ``.ttl`` outputs).

    Each pattern is ``(g, s, p, o)``: the graph term is a constant
    (``GRAPH <g> { ... }``) or a variable (``GRAPH ?g { ... }``)
    exactly like the other positions. The scale point of the 4th
    position: a CONSTANT graph term compiles to a filter on the
    partition column, so partition pruning skips every other graph's
    files entirely — the idiomatic layout for multi-tenant /
    multi-source KG stores at 100 TB; a VARIABLE graph term joins
    across graphs when shared (provenance queries: "which graphs
    assert this?")."""
    return bgp_match(
        quads, patterns, optional, filters, minus=minus,
        exists=exists, not_exists=not_exists, relations=relations,
        _positions=(graph_col,) + _POS,
    )


def construct(
    triples: DataFrame,
    patterns: Sequence[Tuple[str, str, str]],
    template: Sequence[Tuple[str, str, str]],
    optional: Sequence[Sequence[Tuple[str, str, str]]] = (),
    relations: Sequence[DataFrame] = (),
    filters: Sequence[str] = (),
    minus: Sequence[Sequence[Tuple[str, str, str]]] = (),
    values: Sequence[dict] = (),
    exists: Sequence[Sequence[Tuple[str, str, str]]] = (),
    not_exists: Sequence[Sequence[Tuple[str, str, str]]] = (),
    binds: Sequence[Tuple[str, str]] = (),
    term_meta: Sequence[str] = (),
) -> DataFrame:
    """SPARQL ``CONSTRUCT``: match the BGP (with optional groups),
    instantiate each ``template`` triple from the solution bindings,
    and return the resulting graph as a deduplicated
    ``(subj, pred, obj)`` DataFrame — the KG-construction query form
    (rdflib ``Graph.query`` with a CONSTRUCT body returns exactly
    this as a new in-memory graph).

    Template terms starting with ``?`` take the bound value; other
    terms are constants. Per the SPARQL spec, a template triple whose
    instantiation has an unbound (null) term — e.g. a variable bound
    only inside an unmatched OPTIONAL — is silently omitted.

    Plan shape: the solution relation is computed ONCE; all template
    triples are emitted in a single projection (array-of-structs +
    explode), so k template triples do not re-run the BGP joins k
    times. The only exchange beyond the BGP's own joins is the final
    ``distinct`` (CONSTRUCT returns a set-semantics graph)."""
    if not template:
        raise ValueError("empty CONSTRUCT template")
    if any(isinstance(t, TaggedLiteral) for tri in template for t in tri):
        raise ValueError(
            "tagged literals in CONSTRUCT templates are not supported "
            "— the constructed graph is a 3-column (subj, pred, obj) "
            "table with no tag columns to carry them")
    sols = bgp_match(triples, patterns, optional, filters, minus,
                     values, exists, not_exists, binds,
                     relations=relations, term_meta=term_meta)

    def term(t: str):
        return F.col(t[1:]) if _is_var(t) else F.lit(t)

    structs = [
        F.struct(
            term(s).alias("subj"), term(p).alias("pred"),
            term(o).alias("obj"),
        )
        for s, p, o in template
    ]
    return (
        sols.select(F.explode(F.array(*structs)).alias("t"))
        .select("t.subj", "t.pred", "t.obj")
        .filter(
            F.col("subj").isNotNull()
            & F.col("pred").isNotNull()
            & F.col("obj").isNotNull()
        )
        .distinct()
    )


def property_table(
    triples: DataFrame, preds: "dict[str, str]", key: str = "subj"
) -> DataFrame:
    """Pivot the predicate-per-row triple table into the classic
    *property table* layout (one row per entity, one column per
    predicate) — the star-pattern fast path every production triple
    store keeps next to its SPO index.

    ``preds`` maps output column name -> predicate URI. Compiles to
    ONE hash aggregate with conditional ``min`` per predicate —
    explicit predicate list, so no discovery pass over ``pred`` and
    no pivot metadata on the driver; multi-valued predicates resolve
    to ``min(obj)`` (deterministic, order-independent). Entities
    lacking a predicate get null, exactly like an unmatched SPARQL
    OPTIONAL."""
    if not preds:
        raise ValueError("property_table needs at least one predicate")
    aggs = [
        F.min(F.when(F.col("pred") == uri, F.col("obj"))).alias(name)
        for name, uri in preds.items()
    ]
    return (
        triples.filter(F.col("pred").isin(list(preds.values())))
        .groupBy(F.col(key).alias("entity"))
        .agg(*aggs)
    )


def solution_modifiers(
    solutions: DataFrame,
    distinct: bool = False,
    order_by: Sequence[str] = (),
    limit: "int | None" = None,
    offset: int = 0,
) -> DataFrame:
    """SPARQL solution modifiers (DISTINCT / ORDER BY / LIMIT /
    OFFSET) over a binding relation from :func:`bgp_match`.

    ``order_by`` entries are ``"?var"`` ascending or ``"-?var"``
    descending (the ``?`` is optional). LIMIT without ORDER BY is
    allowed (SPARQL permits it; the slice is arbitrary but cheap —
    Spark's ``GlobalLimit`` short-circuits the scan); OFFSET > 0
    without ORDER BY raises, because an unordered offset is a
    nondeterministic row skip that silently changes between runs.

    Scale shape: ORDER BY + LIMIT compiles to ``TakeOrderedAndProject``
    — a per-partition top-(limit+offset) then a k-row merge on the
    driver, never a global sort; DISTINCT is one hash exchange.
    An ORDER BY *without* LIMIT is the one genuinely global-sort
    query form — it runs (range partitioner) but callers at
    10^12-row scale should page with LIMIT/OFFSET instead."""
    out = solutions
    if distinct:
        out = out.dropDuplicates()
    if offset and not order_by:
        raise ValueError(
            "OFFSET without ORDER BY skips nondeterministic rows")
    if order_by:
        cols = []
        for o in order_by:
            desc = o.startswith("-")
            name = o.lstrip("-").lstrip("?")
            if name not in out.columns:
                raise ValueError(
                    "ORDER BY %r: no such variable (bound: %s)"
                    % (o, sorted(out.columns)))
            cols.append(F.col(name).desc() if desc else F.col(name).asc())
        out = out.orderBy(*cols)
    if offset:
        out = out.offset(int(offset))
    if limit is not None:
        out = out.limit(int(limit))
    return out


def bgp_aggregate(
    triples: DataFrame,
    patterns: Sequence[Tuple[str, str, str]],
    group_by: Sequence[str],
    aggregates: "dict[str, str]",
    having: "str | None" = None,
    optional: Sequence[Sequence[Tuple[str, str, str]]] = (),
    filters: Sequence[str] = (),
    minus: Sequence[Sequence[Tuple[str, str, str]]] = (),
    values: Sequence[dict] = (),
    relations: Sequence[DataFrame] = (),
    exists: Sequence[Sequence[Tuple[str, str, str]]] = (),
    not_exists: Sequence[Sequence[Tuple[str, str, str]]] = (),
    binds: Sequence[Tuple[str, str]] = (),
    term_meta: Sequence[str] = (),
) -> DataFrame:
    """SPARQL GROUP BY + aggregates + HAVING over a BGP.

    ``group_by`` lists grouping variables (``"?v"`` or ``"v"``; empty
    = implicit single-group aggregation, SPARQL's ``SELECT (COUNT(*)
    AS ?n) WHERE ...``). ``aggregates`` maps output column name ->
    aggregate expression over the variables in Spark SQL syntax with
    SPARQL-style ``?var`` references (``{"n": "COUNT(*)", "names":
    "COUNT(DISTINCT ?nm)", "last": "MAX(?d)"}``) — COUNT / SUM / MIN
    / MAX / AVG / SAMPLE (= any_value) / GROUP_CONCAT (=
    listagg/string_agg via collect_list+concat_ws on the caller's
    side, or array_join(sort_array(collect_list(?v)), ',') for the
    deterministic form). ``having`` is a boolean expression over the
    aggregate OUTPUT names and grouping vars.

    Plan shape: the BGP join tree feeds ONE hash aggregate
    (partial/final, map-side combine) keyed on the grouping vars;
    HAVING is a post-aggregation filter on the tiny grouped side.
    Skewed grouping keys (hub entities) are the AQE skew case, and
    distinct-aggregates add the standard expand-exchange — both the
    same physics as any production GROUP BY at 10^12 rows."""
    if not aggregates:
        raise ValueError("bgp_aggregate needs at least one aggregate")
    sols = bgp_match(triples, patterns, optional, filters, minus, values,
                     exists, not_exists, binds, relations=relations,
                     term_meta=term_meta)
    keys = [g.lstrip("?") for g in group_by]
    for k in keys:
        if k not in sols.columns:
            raise ValueError(
                "GROUP BY %r: no such variable (bound: %s)"
                % (k, sorted(sols.columns)))
    aggs = []
    for name, expr in aggregates.items():
        missing = [v for v in _expr_vars(expr) if v not in sols.columns]
        if missing:
            raise ValueError(
                "aggregate %r references unbound variables %s"
                % (expr, missing))
        aggs.append(_sql_expr(expr).alias(name))
    grouped = sols.groupBy(*keys).agg(*aggs) if keys else sols.agg(*aggs)
    if having:
        grouped = grouped.filter(_sql_expr(having))
    return grouped


def ask_probe(
    triples: DataFrame,
    patterns: Sequence[Tuple[str, str, str]],
    optional: Sequence[Sequence[Tuple[str, str, str]]] = (),
    filters: Sequence[str] = (),
    minus: Sequence[Sequence[Tuple[str, str, str]]] = (),
    values: Sequence[dict] = (),
    relations: Sequence[DataFrame] = (),
    exists: Sequence[Sequence[Tuple[str, str, str]]] = (),
    not_exists: Sequence[Sequence[Tuple[str, str, str]]] = (),
    binds: Sequence[Tuple[str, str]] = (),
    term_meta: Sequence[str] = (),
) -> DataFrame:
    """The lazy half of SPARQL ``ASK``: the pattern's solutions capped
    at one row. :func:`probe_hit` runs it.

    The ``LocalLimit 1`` sits below every exchange, so each task
    stops at its first hit and the job short-circuits after the
    first non-empty partition — the cost is one probe, not one full
    BGP evaluation."""
    return bgp_match(triples, patterns, optional, filters, minus, values,
                     exists, not_exists, binds, relations=relations,
                     term_meta=term_meta).limit(1)


def probe_hit(probe: DataFrame) -> bool:
    """Run an ASK probe: does it hold a row? ``collect`` on the probe
    itself (``take`` would wrap it in a new plan), so a probe that is
    run again reuses its optimized and physical plans. (The one-row
    fetch is a driver action by nature; ASK returns a scalar.)"""
    return bool(probe.collect())


def ask(triples: DataFrame, patterns: Sequence[Tuple[str, str, str]],
        *args, **kwargs) -> bool:
    """SPARQL ``ASK``: does the pattern have at least one solution?
    Takes :func:`ask_probe`'s arguments."""
    return probe_hit(ask_probe(triples, patterns, *args, **kwargs))


def describe(
    triples: DataFrame,
    patterns: Sequence[Tuple[str, str, str]],
    var: str,
    incoming: bool = False,
    **bgp_kwargs,
) -> DataFrame:
    """SPARQL ``DESCRIBE ?var WHERE { ... }`` — the concise bounded
    description: every triple whose SUBJECT is a resource bound to
    ``var`` in some solution (plus, with ``incoming=True``, the
    triples pointing AT it — the inverse half some stores include).

    Plan shape: the focus set is the distinct projection of one
    variable (small next to the corpus — DESCRIBE queries describe
    entities, not the whole graph), semi-joined against the triple
    table; AQE broadcasts it, so the corpus is filtered in place and
    never exchanged. Returns the full 6-column triple schema of the
    input (set semantics).

    ``**bgp_kwargs`` pass through to :func:`bgp_match` (optional /
    filters / minus / values / binds / exists / not_exists /
    relations) — the WHERE group is a full group graph pattern."""
    v = var.lstrip("?")
    sols = bgp_match(triples, patterns, **bgp_kwargs)
    if v not in sols.columns:
        raise ValueError(
            "DESCRIBE %r: no such variable (bound: %s)"
            % (var, sorted(sols.columns)))
    focus = sols.select(F.col(v).alias("subj")).dropDuplicates()
    out = triples.join(focus, "subj", "left_semi")
    if incoming:
        fo = focus.select(F.col("subj").alias("obj"))
        inc = (
            triples.filter(F.col("obj_is_uri"))
            .join(fo, "obj", "left_semi")
        )
        out = out.unionByName(inc)
    return out.dropDuplicates()


def update_where(
    triples: DataFrame,
    where: Sequence[Tuple[str, str, str]],
    delete: Sequence[Tuple[str, str, str]] = (),
    insert: Sequence[Sequence] = (),
    optional: Sequence[Sequence[Tuple[str, str, str]]] = (),
    filters: Sequence[str] = (),
    **bgp_kwargs,
) -> DataFrame:
    """SPARQL UPDATE ``DELETE { … } INSERT { … } WHERE { … }`` as a
    pure function: evaluate the WHERE pattern once, instantiate both
    templates from the solution bindings, and return the NEW triple
    table — input minus the instantiated deletes, plus the
    instantiated inserts. The caller persists it; keeping the
    operator functional is what makes it safe to re-run from a
    checkpoint.

    ``delete`` templates are ``(s, p, o)`` with ``?var`` references —
    instantiations are removed by an anti-join on the triple key.
    ``insert`` templates take an optional 4th element, the
    ``obj_is_uri`` flag (default False); inserted rows carry null
    lang/datatype. Per the spec, template triples with an unbound
    term are skipped.

    Plan shape: ONE evaluation of the WHERE join tree feeds both
    templates (same single-explode trick as CONSTRUCT); the delete
    side is an anti-join against the corpus (AQE broadcasts the
    instantiated set when the WHERE selection is small — the common
    case); the insert side is a zero-shuffle union + the final
    distinct."""
    if not delete and not insert:
        raise ValueError("update_where needs a DELETE and/or INSERT "
                         "template")
    # extra bgp_match kwargs (minus / values / binds / exists /
    # not_exists / relations) make the WHERE a full group pattern
    sols = bgp_match(triples, where, optional, filters, **bgp_kwargs)

    def term(t):
        return F.col(t[1:]) if _is_var(t) else F.lit(t)

    def instantiate(template, with_flags):
        structs = []
        for tpl in template:
            s, p, o = tpl[0], tpl[1], tpl[2]
            fields = [
                term(s).alias("subj"), term(p).alias("pred"),
                term(o).alias("obj"),
            ]
            if with_flags:
                is_uri = bool(tpl[3]) if len(tpl) > 3 else False
                fields += [
                    F.lit(is_uri).alias("obj_is_uri"),
                    F.lit(None).cast("string").alias("obj_lang"),
                    F.lit(None).cast("string").alias("obj_datatype"),
                ]
            structs.append(F.struct(*fields))
        return (
            sols.select(F.explode(F.array(*structs)).alias("t"))
            .select("t.*")
            .filter(
                F.col("subj").isNotNull()
                & F.col("pred").isNotNull()
                & F.col("obj").isNotNull()
            )
            .dropDuplicates()
        )

    out = triples
    if delete:
        out = out.join(
            instantiate(delete, with_flags=False),
            on=["subj", "pred", "obj"], how="left_anti",
        )
    if insert:
        ins = instantiate(insert, with_flags=True)
        missing = [c for c in out.columns if c not in ins.columns]
        ins = ins.select(*[
            (F.col(c) if c not in missing
             else F.lit(None).cast(out.schema[c].dataType)).alias(c)
            for c in out.columns
        ])
        # set-semantics insert: already-present keys are no-ops, and
        # surviving input rows pass through untouched (no dedup over
        # the corpus — extra columns like `graph` stay intact)
        ins = ins.join(out.select("subj", "pred", "obj"),
                       on=["subj", "pred", "obj"], how="left_anti")
        out = out.unionByName(ins)
    return out
