# -*- coding: utf-8 -*-
"""RDFS entailment materialization (the rho-df fragment).

The reference emits its triples into rdflib ``Graph`` objects whose
ontology (EBU Core / MeMAD, see ``mappings/`` and the ``memad:`` /
``ebucore:`` namespaces in ``ld_converter.py:30-60``) declares class
and property hierarchies; rdflib consumers get RDFS entailment from
``owlrl`` -style closure passes over the in-memory graph. This module
is the Spark-first analog over the engine's materialized
``(subj, pred, obj)`` tables: the classic *stratified* evaluation of
the rho-df rules — no generic Datalog fixpoint needed when the schema
is static (no derived schema triples), which is the standard
assumption for production KG pipelines:

1. rdfs5/11: transitive closure of ``subPropertyOf`` / ``subClassOf``
   (schema-only; semi-naive delta iteration at the doubling rate,
   O(log2(diameter)) rounds).
2. rdfs7: instance triples inherit super-properties.
3. rdfs2/3: domain/range typing over the rdfs7-extended triples (so a
   domain declared on a *super*-property still fires).
4. rdfs9: type inheritance up the closed class hierarchy, over ALL
   type triples including the rdfs2/3-derived ones.

Scale notes (100 TB lens): the schema side (subClassOf /
subPropertyOf / domain / range triples) is ontology-sized — thousands
to at most a few million rows, bounded by the vocabulary and NOT by
the corpus — so the closures are explicitly broadcast and every rule
is a broadcast-hash join against the instance table: the 10^12-triple
side is never exchanged. The only shuffle in the whole pass is the
final ``distinct`` (and callers that keep provenance can skip it).

Out of scope (documented, standard for rho-df deployments): meta-level
uses such as ``p rdfs:subPropertyOf rdf:type`` chains *are* handled
(rdfs7 runs before the type strata), but domain/range declared on the
type predicate itself, and derived *schema* triples (e.g. inferring
new subClassOf edges from instance data), are not — those need the
full OWL-RL fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RDFS = "http://www.w3.org/2000/01/rdf-schema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def transitive_closure(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    max_iter: int = 16,
) -> DataFrame:
    """Transitive closure of a (schema-sized) edge set by SEMI-NAIVE
    non-linear iteration: each round joins only the paths DISCOVERED
    LAST ROUND (the delta) against the accumulated closure — in both
    orders, so representable path lengths still double and a
    hierarchy of diameter d closes in O(log2 d) rounds — then
    anti-joins the candidates against the closure to keep only
    genuinely new pairs. Per-round work is O(delta join closure),
    not the naive doubling's O(closure) re-distinct (the r4 profile:
    a full-closure ``distinct()`` + ``count()`` every round was
    ~2/3 of owl_entail's 31 s wall); the final result is ONE union
    of the per-round checkpointed deltas — no closure-wide shuffle
    anywhere. Counts run on the (checkpointed) delta only.

    Input is ontology-/chain-sized by contract (see module
    docstring); corpus-scale dense graphs are a connected-components
    job (operators/cc.py). A MULTI-predicate closure that also needs
    inverse/symmetric interaction needs a fixpoint that interleaves
    the rules per round, which this single-relation loop cannot do."""
    cols = [child, parent]
    acc = edges.select(*cols).distinct().localCheckpoint()
    delta = acc
    if not acc.take(1):
        return acc
    for _ in range(max_iter):
        cond = [F.col("a." + parent) == F.col("b." + child)]
        sel = [
            F.col("a." + child).alias(child),
            F.col("b." + parent).alias(parent),
        ]
        # non-linear semi-naive: a new path has a last-round path as
        # prefix OR suffix; joining the delta on both sides keeps the
        # doubling rate without ever re-joining closure x closure
        # (round 1 has delta == acc, so one side suffices)
        cand = delta.alias("a").join(acc.alias("b"), cond).select(*sel)
        if delta is not acc:
            cand = cand.unionByName(
                acc.alias("a").join(delta.alias("b"), cond).select(*sel))
        new = (
            cand.distinct()
            .join(acc, on=cols, how="left_anti")
            .localCheckpoint()
        )
        if not new.take(1):
            return acc
        # checkpointed union: acc is a join input AND the anti-join
        # probe of the next round's plan — a live union lineage there
        # trips Catalyst's self-join attribute dedup. The checkpoint
        # is a per-partition copy, no exchange (unlike the naive
        # loop's per-round closure-wide distinct()).
        acc = acc.unionByName(new).localCheckpoint()
        delta = new
    raise ValueError(
        "transitive_closure did not converge in %d semi-naive rounds "
        "(hierarchy diameter > 2^%d?)" % (max_iter, max_iter)
    )


def rdfs_entail(
    triples: DataFrame,
    type_pred: str = RDF_TYPE,
    subclass_pred: str = RDFS + "subClassOf",
    subprop_pred: str = RDFS + "subPropertyOf",
    domain_pred: str = RDFS + "domain",
    range_pred: str = RDFS + "range",
    uri_flag: str | None = None,
) -> DataFrame:
    """Materialize the RDFS closure of ``triples``.

    ``triples`` needs columns ``subj``/``pred``/``obj`` (extra
    columns are ignored); the returned DataFrame has exactly those
    three, deduplicated — the input set plus every rho-df entailment:
    closed subClassOf/subPropertyOf hierarchies (rdfs5/11),
    super-property triples (rdfs7), domain/range types (rdfs2/3) and
    inherited types (rdfs9).

    ``uri_flag`` optionally names a boolean column marking URI
    objects; when given, rdfs3 (range typing of the OBJECT) only
    fires on URI objects — literals cannot be typed. Without it,
    rdfs3 fires unconditionally (callers with literal objects should
    pass the flag).
    """
    schema_preds = [subclass_pred, subprop_pred, domain_pred, range_pred]
    cols = ["subj", "pred", "obj"]
    flag = (F.col(uri_flag) if uri_flag is not None
            else F.lit(True)).alias("_is_uri")
    t = triples.select(*cols, flag)

    # ONE corpus scan pulls the whole (ontology-sized, by contract)
    # schema slice; the hierarchy closures and domain/range tables
    # derive from the cached slice instead of re-scanning the corpus
    # per table (r4 paid four corpus scans here)
    schema = (
        t.filter(F.col("pred").isin(schema_preds))
        .select(*cols, "_is_uri").localCheckpoint()
    )
    sc = transitive_closure(
        schema.filter(F.col("pred") == subclass_pred)
        .select(F.col("subj").alias("child"), F.col("obj").alias("parent"))
    )
    sp = transitive_closure(
        schema.filter(F.col("pred") == subprop_pred)
        .select(F.col("subj").alias("child"), F.col("obj").alias("parent"))
    )
    dom = schema.filter(F.col("pred") == domain_pred).select(
        F.col("subj").alias("d_pred"), F.col("obj").alias("d_class"))
    rng = schema.filter(F.col("pred") == range_pred).select(
        F.col("subj").alias("r_pred"), F.col("obj").alias("r_class"))

    inst = t.filter(~F.col("pred").isin(schema_preds))
    # rdfs7 — super-property inheritance (broadcast the closed,
    # ontology-sized sp relation; the instance side never moves)
    r7 = (
        inst.join(F.broadcast(sp), inst.pred == sp.child)
        .select("subj", F.col("parent").alias("pred"), "obj", "_is_uri")
    )
    ext = inst.unionByName(r7)
    # rdfs2/3 — domain/range typing over the extended triples
    r2 = (
        ext.join(F.broadcast(dom), ext.pred == dom.d_pred)
        .select("subj", F.lit(type_pred).alias("pred"),
                F.col("d_class").alias("obj"))
    )
    r3 = (
        ext.filter(F.col("_is_uri"))
        .join(F.broadcast(rng), F.col("pred") == rng.r_pred)
        .select(F.col("obj").alias("subj"), F.lit(type_pred).alias("pred"),
                F.col("r_class").alias("obj"))
    )
    # rdfs9 — type inheritance over ALL type triples (explicit,
    # rdfs7-derived, and rdfs2/3-derived)
    types = (
        ext.filter(F.col("pred") == type_pred).select("subj", "obj")
        .unionByName(r2.select("subj", "obj"))
        .unionByName(r3.select("subj", "obj"))
    )
    r9 = (
        types.join(F.broadcast(sc), types.obj == sc.child)
        .select("subj", F.lit(type_pred).alias("pred"),
                F.col("parent").alias("obj"))
    )
    out = (
        ext.select(*cols)
        .unionByName(r2).unionByName(r3).unionByName(r9)
        .unionByName(schema.select(*cols))
        .unionByName(sc.select(
            F.col("child").alias("subj"),
            F.lit(subclass_pred).alias("pred"),
            F.col("parent").alias("obj")))
        .unionByName(sp.select(
            F.col("child").alias("subj"),
            F.lit(subprop_pred).alias("pred"),
            F.col("parent").alias("obj")))
    )
    return out.distinct()


def rdfs_entail_incremental(
    closed: DataFrame,
    delta: DataFrame,
    schema_triples: DataFrame,
    type_pred: str = RDF_TYPE,
    subclass_pred: str = RDFS + "subClassOf",
    subprop_pred: str = RDFS + "subPropertyOf",
    domain_pred: str = RDFS + "domain",
    range_pred: str = RDFS + "range",
    uri_flag: str | None = None,
) -> DataFrame:
    """Maintain a materialized RDFS closure under newly arrived
    instance triples WITHOUT recomputing over the store.

    In the rho-df fragment with a static schema, every derived triple
    traces back to exactly ONE instance triple (rdfs7 is linear in
    the instance side, rdfs2/3 are linear over the rdfs7-extension,
    rdfs9 is linear over the type triples) — so the closure
    distributes over instance union:
    ``closure(A ∪ Δ) = closure(A) ∪ closure(Δ)``. The incremental
    step is therefore one ``rdfs_entail`` pass over the DELTA ONLY,
    merged into the store.

    Scale shape (the whole point at 10^12 triples): the delta closure
    is bounded by the batch size, so it is BROADCAST into a left-anti
    join against the store — ``closed`` never exchanges; the result
    is ``(closed \\ new) ∪ new``, i.e. exactly
    ``rdfs_entail(source(closed) ∪ delta)`` as a set, at delta cost.
    Mirrors the bounded-delta merge contract of
    ``operators/merge.py:upsert_triples``.

    ``closed`` must be a previously materialized closure over the
    SAME schema (``schema_triples``: the subClassOf / subPropertyOf /
    domain / range triple set, ontology-sized by contract); ``delta``
    carries instance triples only.
    """
    cols = ["subj", "pred", "obj"]
    if uri_flag is not None:
        new = rdfs_entail(
            delta.select(*cols, uri_flag)
            .unionByName(
                schema_triples.select(*cols)
                .withColumn(uri_flag, F.lit(True))),
            type_pred, subclass_pred, subprop_pred,
            domain_pred, range_pred, uri_flag,
        )
    else:
        new = rdfs_entail(
            delta.select(*cols).unionByName(schema_triples.select(*cols)),
            type_pred, subclass_pred, subprop_pred,
            domain_pred, range_pred,
        )
    # the delta closure is bounded by the batch size (contract), and
    # it feeds BOTH the broadcast anti-probe and the union below —
    # materialize it once so its own entailment plan (two transitive
    # closures + rule joins) doesn't run twice
    new = new.localCheckpoint()
    survivors = closed.select(*cols).join(
        F.broadcast(new), on=cols, how="left_anti")
    return survivors.unionByName(new)
