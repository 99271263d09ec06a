# -*- coding: utf-8 -*-
"""SPARQL property-path evaluation over a triple table.

The reference's graphs are queried through rdflib's SPARQL engine,
whose property paths (``knows/name``, ``^memberOf``, ``(p|q)+``) are
the idiomatic way to traverse a KG without naming every intermediate
variable. This module evaluates the path algebra relationally:

- IRI step            -> filtered scan projected to (subj, obj)
- ``^p``   inverse    -> column swap (zero cost)
- ``p/q``  sequence   -> relational composition (equi-join o=s)
- ``p|q``  alternation-> zero-shuffle Union
- ``p+``   one-or-more-> iterative doubling; early-exits when
  converged (then the result is the exact unbounded ``+``), otherwise
  covers paths of length <= 2^max_rounds — the scale-honest bounded
  form. Dispatched by
  size: a step relation of at most ``_DRIVER_ROWS`` rows is pulled in
  ONE bounded Arrow collect and closed on the driver with Arrow hash
  joins, then shipped back as one Arrow table — one Spark job instead
  of a checkpoint and a count per round. A larger step relation, or a
  closure that grows past the cap, runs the distributed doubling loop
  (per-round distinct + localCheckpoint). A corpus-scale ``+`` over a
  10^12-edge relation is a connected-components-shaped job; for
  hierarchies that are *schema-sized* use ``rdfs.transitive_closure``.
- ``p*`` / ``p?`` zero-or-more / zero-or-one -> the ``+`` closure
  (resp. the step itself) unioned with the identity relation over the
  node universe of the INPUT triple table (SPARQL's zero-length path
  relates every term in the graph to itself; a constant endpoint
  absent from the graph still self-matches, added as a literal row
  after a pushed-down existence probe). The node universe is one
  distinct over (subj ∪ obj) — the same cost class as the dedup this
  engine runs everywhere; when an endpoint is constant, Catalyst
  pushes the equality into both union branches and the identity side
  collapses to a point lookup. Pass a pred-filtered subgraph to bound
  the universe deliberately.
- ``!(p|^q)`` negated property set -> forward edges whose predicate
  is NOT IN the forward members, unioned with reversed edges whose
  predicate is NOT IN the inverse members (each part present only
  when that direction has members, per the SPARQL 1.1 NPS algebra);
  a NOT-IN filter on the scan, never a join.

Path syntax: IRIs either bare (no metacharacters) or ``<...>``
-wrapped (required when the IRI contains ``/``, as http IRIs do);
metacharacters ``/ | ^ + * ? ! ( )``; precedence alt < seq < postfix.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_META = "<>()|/^+*?!"

# Largest step relation (and closure) closed on the driver; beyond it
# the closure runs as distributed doubling rounds. On a 4-core host a
# one-round closure costs the same wall time either way at ~200k rows
# (less CPU on the driver), and a deeper one favours the driver; a
# round's self-join may reach 4x the cap (~32 bytes a row for short
# IRIs in Arrow).
_DRIVER_ROWS = 200_000


def _tokenize(path: str) -> List[Tuple[str, str]]:
    tokens: List[Tuple[str, str]] = []
    i = 0
    while i < len(path):
        c = path[i]
        if c.isspace():
            i += 1
        elif c == "<":
            j = path.find(">", i)
            if j < 0:
                raise ValueError("unterminated '<' in path %r" % path)
            tokens.append(("iri", path[i + 1:j]))
            i = j + 1
        elif c in "()|/^+*?!":
            tokens.append((c, c))
            i += 1
        else:
            j = i
            while (j < len(path) and path[j] not in _META
                   and not path[j].isspace()):
                j += 1
            tokens.append(("iri", path[i:j]))
            i = j
    if not tokens:
        raise ValueError("empty property path")
    return tokens


class _Parser:
    """alt := seq ('|' seq)* ; seq := post ('/' post)* ;
    post := prim ('+'|'*'|'?')* ;
    prim := '^' prim | '!' npsmembers | '(' alt ')' | IRI ;
    npsmembers := '(' member ('|' member)* ')' | member ;
    member := '^'? IRI"""

    def __init__(self, tokens):
        self.toks = tokens
        self.pos = 0

    def peek(self):
        return self.toks[self.pos][0] if self.pos < len(self.toks) else None

    def take(self, kind=None):
        if self.pos >= len(self.toks):
            raise ValueError("unexpected end of property path")
        k, v = self.toks[self.pos]
        if kind is not None and k != kind:
            raise ValueError("expected %r, found %r in path" % (kind, v))
        self.pos += 1
        return k, v

    def parse(self):
        node = self.alt()
        if self.pos != len(self.toks):
            raise ValueError(
                "trailing tokens in property path: %r"
                % [v for _, v in self.toks[self.pos:]]
            )
        return node

    def alt(self):
        parts = [self.seq()]
        while self.peek() == "|":
            self.take("|")
            parts.append(self.seq())
        return parts[0] if len(parts) == 1 else ("alt", parts)

    def seq(self):
        parts = [self.post()]
        while self.peek() == "/":
            self.take("/")
            parts.append(self.post())
        return parts[0] if len(parts) == 1 else ("seq", parts)

    def post(self):
        node = self.prim()
        while self.peek() in ("+", "*", "?"):
            k, _ = self.take()
            node = ({"+": "plus", "*": "star", "?": "opt"}[k], node)
        return node

    def prim(self):
        k = self.peek()
        if k == "^":
            self.take("^")
            return ("inv", self.prim())
        if k == "!":
            self.take("!")
            return self.nps()
        if k == "(":
            self.take("(")
            node = self.alt()
            self.take(")")
            return node
        _, v = self.take("iri")
        return ("iri", v)

    def nps(self):
        fwd, inv = [], []

        def member():
            if self.peek() == "^":
                self.take("^")
                inv.append(self.take("iri")[1])
            else:
                fwd.append(self.take("iri")[1])

        if self.peek() == "(":
            self.take("(")
            member()
            while self.peek() == "|":
                self.take("|")
                member()
            self.take(")")
        else:
            member()
        return ("nps", tuple(fwd) or None, tuple(inv) or None)


def _eval(node, triples: DataFrame, max_rounds: int,
          keys: tuple = ()) -> DataFrame:
    """``keys`` are partition columns (e.g. a named-graph column):
    every relation keeps them, sequences and closures join on them
    in addition to the node columns, and the zero-length identity is
    per key value — the path closes INDEPENDENTLY inside each
    partition, never across (SPARQL ``GRAPH ?g { … path … }``)."""
    kind = node[0]
    ks = list(keys)
    if kind == "iri":
        return (triples.filter(F.col("pred") == node[1])
                .select(*ks, "subj", "obj"))
    if kind == "inv":
        e = _eval(node[1], triples, max_rounds, keys)
        return e.select(*ks, F.col("obj").alias("subj"),
                        F.col("subj").alias("obj"))
    if kind == "seq":
        out = None
        for part in node[1]:
            e = _eval(part, triples, max_rounds, keys)
            if out is None:
                out = e
            else:
                cond = F.col("a.obj") == F.col("b.subj")
                for k in ks:
                    cond = cond & (F.col("a." + k) == F.col("b." + k))
                out = (out.alias("a")
                       .join(e.alias("b"), cond)
                       .select(*[F.col("a." + k) for k in ks],
                               F.col("a.subj").alias("subj"),
                               F.col("b.obj").alias("obj")))
        return out
    if kind == "alt":
        out = None
        for part in node[1]:
            e = _eval(part, triples, max_rounds, keys)
            out = e if out is None else out.unionByName(e)
        return out
    if kind == "plus":
        return _closure(
            _eval(node[1], triples, max_rounds, keys), max_rounds, keys)
    if kind in ("star", "opt"):
        step = _eval(node[1], triples, max_rounds, keys)
        rel = _closure(step, max_rounds, keys) if kind == "star" else step
        return rel.unionByName(_identity(triples, keys)).dropDuplicates()
    if kind == "nps":
        fwd, inv = node[1], node[2]
        out = None
        if fwd is not None:
            out = (triples.filter(~F.col("pred").isin(list(fwd)))
                   .select(*ks, "subj", "obj"))
        if inv is not None:
            rev = (triples.filter(~F.col("pred").isin(list(inv)))
                   .select(*ks, F.col("obj").alias("subj"),
                           F.col("subj").alias("obj")))
            out = rev if out is None else out.unionByName(rev)
        return out
    raise AssertionError("unknown path node %r" % (kind,))


def _closure(step: DataFrame, max_rounds: int,
             keys: tuple = ()) -> DataFrame:
    """Transitive closure of ``step`` by iterative doubling; exact
    when it converges within ``max_rounds``, else bounded at paths of
    length <= 2^max_rounds (module docstring). With ``keys`` the
    closure joins carry the partition columns, so paths never cross
    partition values, and a null key or node composes with nothing
    (SQL equality never matches null).

    Size dispatch: ONE collect of at most ``_DRIVER_ROWS + 1`` step
    rows through Arrow; when the step and every round stay within the
    cap (``_closure_local``), the rounds run on the driver and the
    result returns as one Arrow table (no further Spark job until the
    caller's own action). Otherwise the distributed loop below runs,
    with a ``distinct().localCheckpoint()`` and a ``count()`` per
    round, from the collected rows when the step fit."""
    ks = list(keys)
    spark = step.sparkSession
    table = step.limit(_DRIVER_ROWS + 1).toArrow()
    if table.num_rows <= _DRIVER_ROWS:
        closed = _closure_local(table, max_rounds, ks)
        if closed is not None:
            return spark.createDataFrame(closed, step.schema)
        # the step fits but its closure does not: the distributed
        # rounds start from the collected rows, not a recomputed step
        step = spark.createDataFrame(table, step.schema)
    cur = step.distinct().localCheckpoint()
    n = cur.count()
    for _ in range(max_rounds):
        cond = F.col("a.obj") == F.col("b.subj")
        for k in ks:
            cond = cond & (F.col("a." + k) == F.col("b." + k))
        hop = (cur.alias("a")
               .join(cur.alias("b"), cond)
               .select(*[F.col("a." + k) for k in ks],
                       F.col("a.subj").alias("subj"),
                       F.col("b.obj").alias("obj")))
        nxt = cur.unionByName(hop).distinct().localCheckpoint()
        m = nxt.count()
        if m == n:
            return nxt  # converged: exact unbounded closure
        cur, n = nxt, m
    return cur  # bounded: paths of length <= 2^max_rounds


def _closure_local(table: pa.Table, max_rounds: int,
                   keys: List[str]) -> Optional[pa.Table]:
    """The doubling rounds of ``_closure`` over a collected step
    relation (columns: ``keys``, subj, obj), as Arrow hash joins on
    the driver; None as soon as a round's closure would hold more than
    ``_DRIVER_ROWS`` rows, or its self-join, counted before it runs,
    more than ``4 * _DRIVER_ROWS``. The join keys are the partition
    keys plus the joined node, compared by equality: a null key or
    node never composes (as under SQL equality), and a row with a
    null key is only deduplicated."""
    cols = keys + ["subj", "obj"]
    # join outputs are nullable whatever their inputs, so every round
    # works on nullable columns and the result is cast back at the end
    rel = _distinct(table.cast(pa.schema(
        [f.with_nullable(True) for f in table.schema])), cols)
    for _ in range(max_rounds):
        if _hop_rows(rel, keys) > 4 * _DRIVER_ROWS:
            return None
        hop = rel.join(rel.rename_columns(keys + ["_mid", "_obj"]),
                       keys=keys + ["obj"], right_keys=keys + ["_mid"],
                       join_type="inner", use_threads=False)
        nxt = _distinct(pa.concat_tables(
            [rel, hop.select(keys + ["subj", "_obj"]).rename_columns(cols)]),
            cols)
        if nxt.num_rows > _DRIVER_ROWS:
            return None
        if nxt.num_rows == rel.num_rows:
            break  # converged: exact unbounded closure
        rel = nxt
    return rel.select(cols).cast(table.schema)


def _distinct(table: pa.Table, cols: List[str]) -> pa.Table:
    return table.group_by(cols, use_threads=False).aggregate([])


def _hop_rows(rel: pa.Table, keys: List[str]) -> int:
    """Rows of the self-join ``rel ∘ rel`` before deduplication: the
    sum, over every (keys, node), of the edges into it times the edges
    out of it — two grouped counts and one join of the counts."""
    ins = rel.group_by(keys + ["obj"], use_threads=False).aggregate(
        [([], "count_all")])
    outs = rel.group_by(keys + ["subj"], use_threads=False).aggregate(
        [([], "count_all")]).rename_columns(keys + ["node", "n_out"])
    both = ins.join(outs, keys=keys + ["obj"], right_keys=keys + ["node"],
                    join_type="inner", use_threads=False)
    return pc.sum(pc.multiply(both["count_all"], both["n_out"])).as_py() or 0


def _identity(triples: DataFrame, keys: tuple = ()) -> DataFrame:
    """The zero-length-path relation: (n, n) for every term in the
    input table — ONE distinct over subj ∪ obj, the node universe of
    whatever (possibly pre-filtered) graph the caller passed. With
    ``keys``, per key value: a term self-matches only inside the
    partitions it appears in."""
    ks = list(keys)
    nodes = (triples.select(*ks, F.col("subj").alias("n"))
             .unionByName(triples.select(*ks, F.col("obj").alias("n")))
             .dropDuplicates())
    return nodes.select(*ks, F.col("n").alias("subj"),
                        F.col("n").alias("obj"))


def _nullable(node) -> bool:
    """Does the path accept the zero-length path (ε)?"""
    kind = node[0]
    if kind in ("star", "opt"):
        return True
    if kind in ("plus", "inv"):
        return _nullable(node[1])
    if kind == "seq":
        return all(_nullable(p) for p in node[1])
    if kind == "alt":
        return any(_nullable(p) for p in node[1])
    return False  # iri, nps


def path_match(
    triples: DataFrame,
    src: str,
    path: str,
    dst: str,
    max_rounds: int = 4,
    partition_cols: tuple = (),
) -> DataFrame:
    """Evaluate ``src path dst`` like a SPARQL triple pattern whose
    predicate is a property path. ``src``/``dst`` are variables
    (``?x``) or constants, with the same binding semantics as
    ``bgp.bgp_match`` patterns (a repeated variable filters for
    equality; at least one variable is required). ``max_rounds``
    bounds each ``+``/``*`` closure at paths of length <= 2^max_rounds
    unless it converges earlier (see module docstring).

    ``partition_cols`` (e.g. ``("graph",)`` over a quad table) make
    the path close INDEPENDENTLY inside each partition value —
    SPARQL ``GRAPH ?g { … path … }`` semantics: edges of different
    graphs never compose. The columns survive into the result under
    their own names (the caller renames them to variable names)."""
    ks = tuple(partition_cols)
    ast = _Parser(_tokenize(path)).parse()
    rel = _eval(ast, triples, max_rounds, ks)
    consts = [t for t in (src, dst)
              if not (isinstance(t, str) and t.startswith("?"))]
    if len(consts) == 1 and _nullable(ast):
        # SPARQL's zero-length path matches a constant endpoint to
        # itself even when the term is absent from the graph; the
        # identity relation inside _eval only covers graph terms.
        c = consts[0]
        if ks:
            # per partition value: add (k.., c, c) for the partition
            # values where c appears nowhere — one distinct + one
            # anti-join, fully distributed
            univ = triples.select(*ks).dropDuplicates()
            present = (triples.filter((F.col("subj") == c)
                                      | (F.col("obj") == c))
                       .select(*ks).dropDuplicates())
            absent = univ.join(present, on=list(ks), how="left_anti")
            rel = rel.unionByName(
                absent.withColumn("subj", F.lit(c))
                .withColumn("obj", F.lit(c)))
        else:
            # probe (pushed-down point filter, LocalLimit-1 short
            # circuit) and add the literal row if missing
            present = (triples.filter((F.col("subj") == c)
                                      | (F.col("obj") == c))
                       .limit(1).count() > 0)
            if not present:
                rel = rel.unionByName(
                    triples.sparkSession.createDataFrame(
                        [(c, c)], "subj string, obj string"))
    first_col = {}
    order = []
    for col, term in (("subj", src), ("obj", dst)):
        if isinstance(term, str) and term.startswith("?"):
            v = term[1:]
            if not v:
                raise ValueError("empty variable name in path pattern")
            if v in first_col:
                rel = rel.filter(F.col(col) == F.col(first_col[v]))
            else:
                first_col[v] = col
                order.append(v)
        else:
            rel = rel.filter(F.col(col) == term)
    if not first_col:
        raise ValueError(
            "path pattern with two constant endpoints has no bindings"
        )
    return rel.select(
        *ks, *[F.col(first_col[v]).alias(v) for v in order])
