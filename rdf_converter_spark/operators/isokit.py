# -*- coding: utf-8 -*-
"""Blank-node graph canonicalization and isomorphism checking.

The reference pipeline compares graphs with exact triple-set equality
because its converters emit ground terms only (URIRef/Literal —
ld_converter.py/pa_converter.py/yle_converter.py mint every subject).
Once blank nodes enter the picture (the r6 Turtle 1.1 reader, any
external RDF), set equality is the wrong test: blank node labels are
arbitrary, so two serializations of the SAME graph differ textually.
rdflib ships ``compare.to_canonical_graph`` for this; rdflib is not
installable in this environment, so this module
provides the engine's own DataFrame-native equivalent.

Algorithm: iterative hash color refinement (1-dimensional
Weisfeiler-Leman over the triple structure), the same family as Hogan,
"Canonical Forms for Isomorphic and Equivalent RDF Graphs" (ACM TWEB
2017, public). Each blank node's color starts as a hash of its GROUND
signature (the multiset of (direction, predicate, ground-term) edges)
and each round re-hashes the sorted multiset of (direction, predicate,
neighbor-color) contributions together with the node's previous color.
Refinement is isomorphism-invariant, so:

- canonical forms DIFFER            => graphs are NOT isomorphic
                                       (always sound);
- forms EQUAL + every blank node
  individualized (all colors
  distinct within each graph)       => graphs ARE isomorphic (the
                                       color pairing is the bijection);
- forms EQUAL + duplicate colors    => WL-equivalent: almost always
                                       isomorphic (automorphic orbits
                                       collapse), but 1-WL cannot
                                       separate e.g. one 4-cycle from
                                       two 2-cycles of unlabeled
                                       nodes. ``isomorphic`` then runs
                                       an EXACT driver-side
                                       backtracking match over the
                                       blank-node-incident edges —
                                       blank-node structures are
                                       document-scoped and tiny in
                                       real RDF (the reference's own
                                       graphs have none), so the
                                       collect is bounded by
                                       ``exact_edge_cap`` and raises
                                       ``AmbiguousIsomorphism`` beyond
                                       it instead of guessing —
                                       fail-fast, never silently
                                       wrong.

Canonical forms are MULTISETS (an ``n`` count column): automorphic
twins legitimately collapse onto one canonical label, and the count
keeps "two twins" distinct from "three twins".

Scale: every round is one join (neighbor colors, keyed on the blank
node id) plus one grouped aggregate — partitioned on the blank-node
column throughout, never on the full corpus; ground-only triples never
enter the loop. Rounds are bounded by ``max_rounds`` with an
early-stop when the distinct-color count stabilizes (a 1-row scalar
per round, same bounded-collect pattern as cc.py's convergence check).
Per-round ``localCheckpoint`` cuts the iterative lineage exactly like
the cc/rdfs loops (Catalyst re-derives self-joined branches
otherwise).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_COLS = ["subj", "pred", "obj", "obj_is_uri", "obj_lang",
         "obj_datatype"]


class AmbiguousIsomorphism(Exception):
    """The 1-WL verdict is ambiguous AND the exact driver-side match
    was refused (blank-node edge volume over ``exact_edge_cap``, or
    the backtracking step budget ran out). Raise the caps, or accept
    WL-equivalence explicitly with ``exact=False``."""


def _is_bnode(col):
    return col.startswith("_:")


def _ground_term(obj, obj_is_uri, obj_lang, obj_datatype):
    """Injective string encoding of a ground term (IRI vs literal vs
    lang/datatype variants must not collide)."""
    return F.when(
        obj_is_uri, F.concat(F.lit("I\x01"), obj)
    ).otherwise(
        F.concat(
            F.lit("L\x01"), obj, F.lit("\x01"),
            F.coalesce(obj_lang, F.lit("")), F.lit("\x01"),
            F.coalesce(obj_datatype, F.lit("")),
        )
    )


def _bnode_edges(triples: DataFrame) -> DataFrame:
    """(b, dir, pred, nbr, nbr_is_bnode): every edge incident to a
    blank node, from both ends. Ground neighbors are pre-encoded;
    blank neighbors carry their id for the color join."""
    t = triples.select(*_COLS)
    subj_b = _is_bnode(F.col("subj"))
    obj_b = F.col("obj_is_uri") & _is_bnode(F.col("obj"))
    out_edges = t.filter(subj_b).select(
        F.col("subj").alias("b"),
        F.lit("+").alias("dir"),
        F.col("pred"),
        F.when(obj_b, F.col("obj")).otherwise(
            _ground_term(F.col("obj"), F.col("obj_is_uri"),
                         F.col("obj_lang"), F.col("obj_datatype"))
        ).alias("nbr"),
        obj_b.alias("nbr_is_bnode"),
    )
    in_edges = t.filter(obj_b).select(
        F.col("obj").alias("b"),
        F.lit("-").alias("dir"),
        F.col("pred"),
        F.when(subj_b, F.col("subj")).otherwise(
            F.concat(F.lit("I\x01"), F.col("subj"))
        ).alias("nbr"),
        subj_b.alias("nbr_is_bnode"),
    )
    return out_edges.unionByName(in_edges)


def bnode_colors(triples: DataFrame, max_rounds: int = 8) -> DataFrame:
    """(b, color): the refined color of every blank node in the
    graph. Iterates at most ``max_rounds`` (each round = one join +
    one grouped agg on the blank-node key), stopping early when the
    number of distinct colors stops growing — refinement colors only
    ever split, so a stable count IS the fixpoint."""
    edges = _bnode_edges(triples)
    if edges.isEmpty():
        return edges.sparkSession.createDataFrame(
            [], "b string, color string")
    edges = edges.localCheckpoint(eager=True)

    contrib_ground = F.concat_ws(
        "\x02", F.col("dir"), F.col("pred"), F.col("nbr"))
    colors = (
        edges.groupBy("b")
        .agg(F.md5(F.concat_ws(
            "\x03",
            F.array_join(F.sort_array(F.collect_list(
                F.when(~F.col("nbr_is_bnode"), contrib_ground)
            )), "\x03"),
        )).alias("color"))
        .localCheckpoint(eager=True)
    )
    n_colors = colors.select("color").distinct().count()
    for _ in range(max_rounds):
        nbr_color = (
            edges.filter(F.col("nbr_is_bnode"))
            .join(colors.withColumnRenamed("b", "nbr")
                  .withColumnRenamed("color", "nbr_color"), "nbr")
            .select(
                "b",
                F.concat_ws("\x02", F.col("dir"), F.col("pred"),
                            F.col("nbr_color")).alias("contrib"))
        )
        ground = edges.filter(~F.col("nbr_is_bnode")).select(
            "b", contrib_ground.alias("contrib"))
        new_colors = (
            nbr_color.unionByName(ground)
            .groupBy("b")
            .agg(F.sort_array(F.collect_list("contrib")).alias("cs"))
            .join(colors, "b")
            .select(
                "b",
                F.md5(F.concat_ws(
                    "\x03", F.col("color"),
                    F.array_join(F.col("cs"), "\x03"))).alias("color"))
            .localCheckpoint(eager=True)
        )
        new_n = new_colors.select("color").distinct().count()
        colors = new_colors
        if new_n == n_colors:
            break
        n_colors = new_n
    return colors


def canonical_form(triples: DataFrame, max_rounds: int = 8,
                   colors: DataFrame | None = None) -> DataFrame:
    """The graph with blank nodes relabeled ``_:c<color>`` plus an
    ``n`` multiplicity column — equal canonical forms <=> the graphs
    are 1-WL-equivalent (see the module docstring for when that is a
    proof of isomorphism). Pass precomputed ``colors`` (from
    ``bnode_colors``) to avoid re-running the refinement loop."""
    if colors is None:
        colors = bnode_colors(triples, max_rounds=max_rounds)
    # join keys: NULL for non-blank terms (a LITERAL whose text is
    # '_:b0' must never match a blank node — obj_is_uri gates it)
    t = triples.select(*_COLS).withColumn(
        "_okey",
        F.when(F.col("obj_is_uri") & _is_bnode(F.col("obj")),
               F.col("obj")),
    )
    relabeled = (
        t.join(colors.withColumnRenamed("b", "subj")
               .withColumnRenamed("color", "_sc"), "subj", "left")
        .join(colors.withColumnRenamed("b", "_okey")
              .withColumnRenamed("color", "_oc"), "_okey", "left")
        .select(
            F.when(F.col("_sc").isNotNull(),
                   F.concat(F.lit("_:c"), F.col("_sc")))
            .otherwise(F.col("subj")).alias("subj"),
            "pred",
            F.when(F.col("_oc").isNotNull(),
                   F.concat(F.lit("_:c"), F.col("_oc")))
            .otherwise(F.col("obj")).alias("obj"),
            "obj_is_uri", "obj_lang", "obj_datatype",
        )
    )
    return relabeled.groupBy(*_COLS).agg(F.count("*").alias("n"))


def _local_colors(edges, max_rounds: int = 8):
    """Driver-side twin of ``bnode_colors`` over an already-collected
    edge list (the small-graph fast path — blank-node structures are
    document-scoped in real RDF, so once the incident edges fit under
    ``exact_edge_cap`` the refinement loop is pure dict work; paying
    ~8 Spark job rounds per graph for a 9-row structure is the
    anti-pattern the broadcast join exists to avoid). Deterministic:
    the same md5-over-sorted-contributions hashing as the distributed
    loop, so colors align across two independently-refined graphs."""
    from hashlib import md5

    def h(s):
        return md5(s.encode("utf-8")).hexdigest()

    ground, adj = {}, {}
    for b, d, p, nbr, isb in edges:
        ground.setdefault(b, [])
        adj.setdefault(b, [])
        if isb:
            adj[b].append((d, p, nbr))
        else:
            ground[b].append("\x02".join((d, p, nbr)))
    color = {b: h("\x03".join(sorted(g))) for b, g in ground.items()}
    n = len(set(color.values()))
    for _ in range(max_rounds):
        new = {}
        for b in color:
            contribs = sorted(
                ["\x02".join((d, p, color[nbr])) for d, p, nbr in adj[b]]
                + ground[b])
            new[b] = h("\x03".join([color[b]] + contribs))
        new_n = len(set(new.values()))
        color = new
        if new_n == n:
            break
        n = new_n
    return color


def _local_canon(edges, color):
    """Multiset of blank-incident triples with blank nodes replaced by
    their WL color — the driver-side twin of ``canonical_form``
    equality restricted to the blank part. '+' edges carry every
    triple with a blank subject (including bnode->bnode, so the '-'
    mirror of those is skipped); '-' edges with a ground neighbor are
    ground-subject -> blank-object triples."""
    from collections import Counter

    cnt = Counter()
    for b, d, p, nbr, isb in edges:
        if d == "+":
            cnt[(color[b], p, color[nbr] if isb else nbr)] += 1
        elif not isb:
            cnt[(nbr, p, color[b])] += 1
    return cnt


def _local_split(rows):
    """Driver-side twin of ``_bnode_edges`` plus the ground-only
    remainder as a multiset, over an already-collected triple list in
    ``_COLS`` order — same injective ground-term encoding as the
    distributed kernel."""
    from collections import Counter

    edges, ground = [], Counter()
    for s, p, o, is_uri, lang, dt in rows:
        sb = s.startswith("_:")
        ob = bool(is_uri) and o.startswith("_:")
        enc = ("I\x01" + o) if is_uri else (
            "L\x01%s\x01%s\x01%s" % (o, lang or "", dt or ""))
        if sb:
            edges.append((s, "+", p, o if ob else enc, ob))
        if ob:
            edges.append((o, "-", p, s if sb else "I\x01" + s, sb))
        if not sb and not ob:
            ground[(s, p, o, bool(is_uri), lang, dt)] += 1
    return edges, ground


def _ground_part_equal(a: DataFrame, b: DataFrame) -> bool:
    """Multiset equality of the ground-only triples (no blank node at
    either end) — one full-outer join + isEmpty, null-safe keys, the
    right side renamed so shared-lineage inputs stay unambiguous."""
    def gp(t):
        t = t.select(*_COLS)
        keep = (~_is_bnode(F.col("subj"))
                & ~(F.col("obj_is_uri") & _is_bnode(F.col("obj"))))
        return t.filter(keep).groupBy(*_COLS).agg(F.count("*").alias("n"))

    ga, gbr = gp(a), gp(b)
    for c in _COLS + ["n"]:
        gbr = gbr.withColumnRenamed(c, "_r_" + c)
    cond = [F.col(c).eqNullSafe(F.col("_r_" + c)) for c in _COLS]
    return (ga.join(gbr, cond, "full_outer")
            .filter(~F.col("n").eqNullSafe(F.col("_r_n")))
            .isEmpty())


def _exact_bnode_match(ea, eb, col_a, col_b, step_cap=1_000_000):
    """Exact bijection search between the blank nodes of two graphs
    whose canonical forms already matched. ``ea``/``eb`` are lists of
    (b, dir, pred, nbr, nbr_is_bnode) rows; ``col_a``/``col_b`` map
    blank node -> WL color (candidates must share a color — WL is a
    sound pruner). Returns True iff a full edge-preserving bijection
    exists; raises ``AmbiguousIsomorphism`` past ``step_cap``
    backtracking steps (pathological automorphism groups)."""
    def build(edges):
        ground, adj, cnt = {}, {}, {}
        for b, d, p, nbr, is_b in edges:
            ground.setdefault(b, [])
            adj.setdefault(b, set())
            if is_b:
                adj[b].add((d, p, nbr))
                k = (b, d, p, nbr)
                cnt[k] = cnt.get(k, 0) + 1
            else:
                ground[b].append((d, p, nbr))
        for b in ground:
            ground[b].sort()
        return ground, adj, cnt

    ga, aa, ca = build(ea)
    gb, ab, cb = build(eb)
    if len(ga) != len(gb):
        return False
    # candidates per A-node: same WL color AND same exact ground
    # signature (color equality already implies a matching hash;
    # compare the real thing so a hash collision can't lie)
    by_color_b = {}
    for b in gb:
        by_color_b.setdefault(col_b[b], []).append(b)
    cand = {}
    for x in ga:
        cand[x] = [y for y in by_color_b.get(col_a[x], ())
                   if gb[y] == ga[x]]
        if not cand[x]:
            return False
    order = sorted(ga, key=lambda x: (len(cand[x]), x))
    m, used = {}, set()
    steps = [0]

    def consistent(x, y):
        # every bnode-bnode edge of x whose far end is already
        # assigned (or is x itself) must exist between y and the
        # image, with the same multiplicity
        for d, p, nbr in aa[x]:
            img = y if nbr == x else m.get(nbr)
            if img is None:
                continue
            if ca.get((x, d, p, nbr), 0) != cb.get((y, d, p, img), 0):
                return False
        # and nothing extra on the B side among assigned images
        inv = {v: k for k, v in m.items()}
        inv[y] = x
        for d, p, nbr in ab[y]:
            src = inv.get(nbr)
            if src is None:
                continue
            if cb.get((y, d, p, nbr), 0) != ca.get((x, d, p, src), 0):
                return False
        return True

    def rec(i):
        steps[0] += 1
        if steps[0] > step_cap:
            raise AmbiguousIsomorphism(
                "exact match exceeded %d backtracking steps — "
                "pathological automorphism structure" % step_cap)
        if i == len(order):
            return True
        x = order[i]
        for y in cand[x]:
            if y in used or not consistent(x, y):
                continue
            m[x] = y
            used.add(y)
            if rec(i + 1):
                return True
            del m[x]
            used.discard(y)
        return False

    return rec(0)


def isomorphic(a: DataFrame, b: DataFrame, max_rounds: int = 8,
               exact: bool = True,
               exact_edge_cap: int = 200_000) -> bool:
    """True iff the two triple tables are isomorphic RDF graphs
    (equal after some bijective blank-node relabeling). Ground-only
    graphs degrade to exact multiset equality.

    Three physical strategies, picked by data volume (the same
    size-dispatch logic as a broadcast join):

    - **fully-local** (both whole triple tables fit under
      ``exact_edge_cap`` rows combined): ONE bounded collect per
      graph (``limit(cap+1)``), then edge extraction, WL refinement,
      canonical comparison, ground-multiset equality and the exact
      backtracking all run driver-side — 2 Spark actions per pair,
      no shuffle, instead of ~40 driver-synchronous refinement
      rounds. This is the common case: blank-node structures are
      document-scoped and tiny in real RDF.
    - **small blank part** (the tables are big but the combined
      blank-incident edges fit under the cap): edges collected per
      graph, the WL/canonical/backtracking decision is driver-side,
      and the ground-only remainder is compared with ONE distributed
      full-outer multiset check — 3 actions per pair.
    - **distributed** (blank-node volume beyond the cap): the
      distributed 1-WL canonical forms decide; on the WL-ambiguous
      remainder (duplicate colors at fixpoint, e.g. unlabeled
      cycles) the exact stage is refused — ``AmbiguousIsomorphism``
      — because the edges exceed the collect bound.

    ``exact=False`` skips the backtracking stage and accepts
    WL-equivalence (documented approximation, same family as
    rdflib's heuristic comparison)."""
    def _decide_local(ea, eb, ground_equal):
        col_a = _local_colors(ea, max_rounds=max_rounds)
        col_b = _local_colors(eb, max_rounds=max_rounds)
        if _local_canon(ea, col_a) != _local_canon(eb, col_b):
            return False  # 1-WL refutation, always sound
        if not ground_equal():
            return False
        if not exact:
            return True  # WL-equivalence accepted, as documented
        return _exact_bnode_match(ea, eb, col_a, col_b)

    # ONE Spark action for both graphs: side-tagged union, bounded
    # by limit(cap+1) — if the combined volume fits, the whole
    # decision is driver-local
    tagged = (
        a.select(F.lit(0).alias("_side"), *_COLS)
        .unionByName(b.select(F.lit(1).alias("_side"), *_COLS))
        .limit(exact_edge_cap + 1)
        .collect()
    )
    if len(tagged) <= exact_edge_cap:
        rows_a = [tuple(r)[1:] for r in tagged if r["_side"] == 0]
        rows_b = [tuple(r)[1:] for r in tagged if r["_side"] == 1]
        ea, ground_a = _local_split(rows_a)
        eb, ground_b = _local_split(rows_b)
        return _decide_local(ea, eb, lambda: ground_a == ground_b)

    ea_rows = _bnode_edges(a).limit(exact_edge_cap + 1).collect()
    eb_rows = (_bnode_edges(b).limit(exact_edge_cap + 1).collect()
               if len(ea_rows) <= exact_edge_cap else None)
    if (eb_rows is not None
            and len(ea_rows) + len(eb_rows) <= exact_edge_cap):
        ea = [(r["b"], r["dir"], r["pred"], r["nbr"], r["nbr_is_bnode"])
              for r in ea_rows]
        eb = [(r["b"], r["dir"], r["pred"], r["nbr"], r["nbr_is_bnode"])
              for r in eb_rows]
        return _decide_local(ea, eb, lambda: _ground_part_equal(a, b))

    # distributed path: blank-node volume beyond the driver cap
    colors_a = bnode_colors(a, max_rounds=max_rounds)
    colors_b = bnode_colors(b, max_rounds=max_rounds)
    ca = canonical_form(a, max_rounds=max_rounds, colors=colors_a)
    cb = canonical_form(b, max_rounds=max_rounds, colors=colors_b)
    cols = _COLS + ["n"]
    # null-safe anti-joins both ways; the right side is RENAMED so the
    # condition stays name-based even when a and b share lineage
    # (attribute references across a self-joined plan are ambiguous)
    cbr = cb
    for c in cols:
        cbr = cbr.withColumnRenamed(c, "_r_" + c)
    cond = [F.col(c).eqNullSafe(F.col("_r_" + c)) for c in cols]
    if not ca.join(cbr, cond, "left_anti").isEmpty():
        return False
    car = ca
    for c in cols:
        car = car.withColumnRenamed(c, "_r_" + c)
    cond2 = [F.col(c).eqNullSafe(F.col("_r_" + c)) for c in cols]
    if not cb.join(car, cond2, "left_anti").isEmpty():
        return False
    if not exact:
        return True
    # forms equal: the WL pairing is the bijection iff every color is
    # individualized; duplicates would need the exact stage, whose
    # collect bound is exactly what this branch exceeded
    dup = (colors_a.groupBy("color").agg(F.count("*").alias("k"))
           .filter(F.col("k") > 1))
    if dup.isEmpty():
        return True
    raise AmbiguousIsomorphism(
        "WL-ambiguous verdict and over %d blank-node edges exceed "
        "exact_edge_cap=%d — raise the cap or pass exact=False"
        % (exact_edge_cap, exact_edge_cap))
