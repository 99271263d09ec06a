# -*- coding: utf-8 -*-
"""``SparkGraph`` — the rdflib-``Graph``-shaped migration façade.

The reference's consumers hold ``rdflib.Graph`` objects (every
converter returns one — ``ld_converter.py:95-96`` builds and
serializes them) and use a handful of methods on them: ``query()``
with SPARQL text, ``triples()`` pattern iteration, ``add``/
``remove``, ``parse``/``serialize``, ``len``/``in``. This class maps
that exact surface onto the engine's distributed primitives, so the
migration is a constructor swap:

    g = SparkGraph(triples_df)              # any (subj,pred,obj) df
    for s, p, o in g.triples((None, RDF_TYPE, None)): ...
    rows = g.query("SELECT ?s WHERE { ?s a <…> }")   # DataFrame
    g2 = g.update('INSERT DATA { <s> <p> "o" }')     # NEW graph
    g2.serialize("out.ttl", format="turtle")

Triple identity is the FULL term: ``(subj, pred, obj, obj_is_uri,
obj_lang, obj_datatype)`` — ``"x"@en`` and ``"x"@fr`` are distinct
triples (RDF semantics), so ``len``/``add``/``+`` key on all six
columns (null-safe). ``__contains__``/``triples()`` take bare
``(s, p, o)`` tuples and match LEXICALLY — any tag variant counts —
because that is the probe shape rdflib callers pass.

When the flag columns are absent, ``obj_is_uri`` defaults from a
``http://``/``https://`` prefix heuristic — a convenience for plain
3-column tables, NOT RDF-faithful (a literal that happens to start
with a URL scheme is misclassified); pass the real flag column for
correctness.

Deliberate divergences from rdflib, all scale-driven:

- **Immutability.** ``add``/``remove``/``update`` return a NEW
  ``SparkGraph`` over a new plan instead of mutating in place —
  DataFrames are immutable, and the functional contract is what
  makes checkpoint/retry safe (same stance as
  ``bgp.update_where``). rdflib-style in-place mutation of a
  10^12-triple store is the anti-pattern this engine exists to
  replace.
- **Laziness.** Nothing executes until an action (``query`` returns
  a DataFrame to aggregate/collect; ``triples()`` uses
  ``toLocalIterator`` so the driver never holds the full graph).
- **Prepared plans.** Each graph keeps what a SPARQL text lowered
  to, keyed on the exact text: the result DataFrame (SELECT,
  CONSTRUCT, DESCRIBE), the one-row probe that every ASK call runs
  again, or the new graph of an update. A repeated text returns
  that same object, so its action re-runs the same Dataset: Spark
  reuses the optimized, physical and adaptive plans and the shuffle
  and broadcast stages already materialized, and nothing is parsed,
  lowered or planned again. An answer is a snapshot of this graph,
  which is immutable, and a text fully determines it
  (``sparql_text`` refuses NOW/RAND/UUID/STRUUID/BNODE and lets no
  other Spark function through); a text that raises is not kept. An
  entry keeps alive its plans, their shuffle files and broadcasts,
  and the ``localCheckpoint`` blocks of a distributed path closure,
  for the life of the graph. So at most ``_PREPARED_MAX`` texts are
  kept, the oldest evicted first. On the ``sparql_mix`` graph (22k
  triples) an entry retained 0.1-0.4 MB of driver heap for most
  texts, 2 MB for a driver-closed ``+`` path, 17 MB for an ASK and
  33 MB for each of the two SELECTs whose joins broadcast (8.6 MB
  over the mix's ten texts), so 16 entries hold at most about
  530 MB, a quarter of a 2 GB driver heap. A first-seen text costs
  what it did before: one parse, the lowering and a fresh plan.

Scale notes: ``__contains__``/``triples`` with bound terms compile
to pushed-down point filters (LocalLimit-1 short circuit for the
membership probe); ``__len__`` is one distinct count; serialization
uses the distributed NT writer for large graphs and the pretty
Turtle writer (reference-parity prefixes) for driver-sized ones.
"""

from __future__ import annotations

import threading
from typing import Iterator, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_COLS = ("subj", "pred", "obj")
_FULL = ("subj", "pred", "obj", "obj_is_uri", "obj_lang",
         "obj_datatype")
# SPARQL texts whose lowering one graph keeps, oldest evicted first
# (sized in "Prepared plans" above)
_PREPARED_MAX = 16


class SparkGraph:
    """An immutable RDF graph view over a ``(subj, pred, obj[,
    obj_is_uri, obj_lang, obj_datatype])`` DataFrame."""

    def __init__(self, triples: DataFrame):
        missing = [c for c in _COLS if c not in triples.columns]
        if missing:
            raise ValueError(
                "SparkGraph needs columns %s; missing %s"
                % (list(_COLS), missing))
        df = triples
        for c, t in (("obj_is_uri", "boolean"), ("obj_lang", "string"),
                     ("obj_datatype", "string")):
            if c not in df.columns:
                default = (
                    F.col("obj").startswith("http://")
                    | F.col("obj").startswith("https://")
                    if c == "obj_is_uri"
                    else F.lit(None).cast(t))
                df = df.withColumn(c, default)
        self.df = df.select(*_FULL)
        # SPARQL text -> (form, lowered): a DataFrame, or for an
        # update the new SparkGraph
        self._prepared = {}
        self._lock = threading.Lock()

    # -- construction ---------------------------------------------------
    @classmethod
    def parse(cls, spark: SparkSession, path: str,
              format: str = "nt") -> "SparkGraph":
        """Load from N-Triples / N-Quads (distributed line parse) or
        Turtle / TriG (distributed whole-file parse) —
        ``sources/rdf.py``. Quad formats flatten to the triple view
        (SparkGraph models one graph; keep the ``graph`` column via
        the reader directly for dataset semantics)."""
        from .sources.rdf import (read_nquads, read_ntriples,
                                  read_trig, read_turtle)

        if format in ("nt", "ntriples", "nt11"):
            return cls(read_ntriples(spark, path))
        if format in ("nquads", "nq"):
            return cls(read_nquads(spark, path).drop("graph"))
        if format in ("turtle", "ttl"):
            return cls(read_turtle(spark, path))
        if format == "trig":
            return cls(read_trig(spark, path).drop("graph"))
        raise ValueError(
            "unsupported parse format %r (nt / nquads / turtle / "
            "trig)" % format)

    # -- rdflib-style read surface --------------------------------------
    def __len__(self) -> int:
        # full-term identity: "x"@en and "x"@fr are two triples
        return self.df.select(*_FULL).distinct().count()

    def __contains__(self, spo: Tuple[str, str, str]) -> bool:
        s, p, o = spo
        return bool(
            self.df.filter(
                (F.col("subj") == s) & (F.col("pred") == p)
                & (F.col("obj") == o)
            ).limit(1).take(1)
        )

    def triples(
        self,
        spo: Tuple[Optional[str], Optional[str], Optional[str]]
        = (None, None, None),
    ) -> Iterator[Tuple[str, str, str]]:
        """Iterate matching triples (``None`` = wildcard) without
        collecting the graph to the driver."""
        df = self.df
        for col, term in zip(_COLS, spo):
            if term is not None:
                df = df.filter(F.col(col) == term)
        for row in df.select(*_COLS).toLocalIterator():
            yield (row.subj, row.pred, row.obj)

    def value(self, subject: str, predicate: str) -> Optional[str]:
        """First object for (subject, predicate) — deterministic
        (minimum), unlike rdflib's arbitrary pick."""
        rows = (
            self.df.filter((F.col("subj") == subject)
                           & (F.col("pred") == predicate))
            .agg(F.min("obj").alias("o")).take(1)
        )
        return rows[0].o if rows else None

    # -- SPARQL ---------------------------------------------------------
    def query(self, text: str):
        """SPARQL SELECT/ASK/CONSTRUCT/DESCRIBE text
        (``operators/sparql_text.py``). SELECT/CONSTRUCT/DESCRIBE
        return a DataFrame, the same one for a repeated text; ASK
        returns bool."""
        from .operators import sparql_text

        form, out = self._prepare(text)
        if form == "ask":
            return sparql_text.ask(out)
        return out.df if form == "update" else out

    def update(self, text: str) -> "SparkGraph":
        """SPARQL Update text — returns the NEW graph (functional),
        the same one for a repeated text."""
        return self._prepare(text, update=True)[1]

    def _prepare(self, text: str, update: bool = False):
        """``(form, lowered)`` for ``text``: from the memo, or parsed
        once, lowered and kept. ``update`` refuses a query form before
        anything is lowered. A text that raises is not kept."""
        from .operators import sparql_text

        with self._lock:
            hit = self._prepared.get(text)
        spec = None if hit else sparql_text.parse_query(text)
        form = hit[0] if hit else spec["form"]
        if update and form != "update":
            raise ValueError("update() takes SPARQL Update strings; "
                             "use query() for query forms")
        if hit:
            return hit
        form, out = sparql_text.lower(self.df, spec)
        entry = (form, SparkGraph(out) if form == "update" else out)
        with self._lock:
            # a text lowered by two threads at once keeps the first
            entry = self._prepared.setdefault(text, entry)
            if len(self._prepared) > _PREPARED_MAX:
                del self._prepared[next(iter(self._prepared))]
        return entry

    # -- functional mutation --------------------------------------------
    def add(self, spo, obj_is_uri: bool = False,
            lang: Optional[str] = None,
            datatype: Optional[str] = None) -> "SparkGraph":
        s, p, o = spo
        row = self.df.sparkSession.createDataFrame(
            [(s, p, o, bool(obj_is_uri), lang, datatype)],
            "subj string, pred string, obj string, obj_is_uri boolean,"
            " obj_lang string, obj_datatype string",
        )
        # full-term anti-join, NULL-SAFE on the nullable tag columns
        # (a plain on=list join would never match null keys and every
        # add of an untagged triple would duplicate)
        cond = None
        for c in _FULL:
            eq = row[c].eqNullSafe(self.df[c])
            cond = eq if cond is None else cond & eq
        new = row.join(self.df, on=cond, how="left_anti")
        return SparkGraph(self.df.unionByName(new))

    def remove(self, spo) -> "SparkGraph":
        """Remove matching triples (``None`` = wildcard)."""
        cond = F.lit(True)
        for col, term in zip(_COLS, spo):
            if term is not None:
                cond = cond & (F.col(col) == term)
        return SparkGraph(self.df.filter(~cond))

    def __add__(self, other: "SparkGraph") -> "SparkGraph":
        # dropDuplicates treats nulls as equal, so full-term identity
        # needs no sentinel here
        return SparkGraph(
            self.df.unionByName(other.df).dropDuplicates(list(_FULL)))

    def isomorphic(self, other: "SparkGraph", **kw) -> bool:
        """rdflib-compare-shaped graph equality: exact multiset
        equality on ground triples, bijective blank-node matching
        otherwise (1-WL canonical forms + exact driver-side
        backtracking on the WL-ambiguous remainder — see
        ``operators/isokit.py``). Mirrors
        ``rdflib.compare.isomorphic(g1, g2)``."""
        from .operators.isokit import isomorphic as _iso

        return _iso(self.df, other.df, **kw)

    # -- serialization --------------------------------------------------
    def serialize(self, path: str, format: str = "turtle",
                  distributed: bool = False):
        """Write Turtle (reference-parity prefixes, driver-sized) or
        N-Triples (``distributed=True`` for the parallel writer)."""
        from .operators import export

        if format in ("turtle", "ttl"):
            if distributed:
                raise ValueError(
                    "distributed Turtle output is not supported "
                    "(Turtle is document-scoped) — serialize "
                    "format='nt' with distributed=True instead")
            return export.to_turtle_pretty(self.df, path)
        if format in ("nt", "ntriples"):
            if distributed:
                return export.to_turtle_distributed(self.df, path)
            return export.to_turtle(self.df, path)
        raise ValueError(
            "unsupported serialize format %r (turtle / nt)" % format)
