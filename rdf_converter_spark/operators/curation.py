# -*- coding: utf-8 -*-
"""Corpus curation operators a training-data pipeline needs between
dedup and export: deterministic split assignment, language-balanced
subsampling, and benchmark decontamination.

All three are pure Spark SQL expressions/joins (no UDFs, no RNG
state): determinism is the point — a document's split/sample fate is
a content-keyed hash, reproducible across reruns, engines (DuckDB
oracle twins in `__spark_entry__`) and corpus growth, which
`rand()`-based sampling cannot provide. Not present in the reference
(it converts a fixed archive); cited as the §2.11 extension surface.
"""

from __future__ import annotations

from typing import Sequence, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _hash_key(col, salt: str):
    """int(md5(key|salt)[:8], 16) — the engine-portable uniform hash
    the DuckDB oracles compute the same way."""
    return F.conv(
        F.substring(
            F.md5(F.concat(col.cast("string"), F.lit("|" + salt))), 1, 8
        ),
        16, 10,
    ).cast("long")


def deterministic_split(
    df: DataFrame,
    key: str = "doc_id",
    splits: Sequence[Tuple[str, float]] = (
        ("train", 0.90), ("val", 0.05), ("test", 0.05),
    ),
    salt: str = "v1",
    buckets: int = 10000,
) -> DataFrame:
    """Content-stable train/val/test assignment: bucket =
    hash(key|salt) % buckets, mapped through cumulative integer
    thresholds. A row's split never depends on any other row, so
    growing the corpus or re-running the job never migrates a document
    across the eval boundary (the leakage mode of fraction-based
    `randomSplit`). Changing ``salt`` re-draws the whole assignment.
    """
    fracs = [f for _, f in splits]
    if abs(sum(fracs) - 1.0) > 1e-9:
        raise ValueError("split fractions must sum to 1")
    b = _hash_key(F.col(key), salt) % buckets
    cum, expr = 0.0, None
    for name, frac in splits[:-1]:
        cum += frac
        cond = b < int(round(cum * buckets))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = splits[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def lang_quota_sample(
    df: DataFrame,
    quota: int = 50,
    lang_col: str = "lang",
    key: str = "doc_id",
    salt: str = "v1",
) -> DataFrame:
    """Language-balanced subsample: deterministic hash order within
    each language, keep the first ``quota`` rows — the data-mixing
    primitive that rebalances a crawl's language skew (a head language
    with 100x the documents still contributes exactly ``quota``).
    One exchange (the per-language window); ties broken by key so the
    result is total-order stable."""
    w = Window.partitionBy(lang_col).orderBy(
        F.md5(F.concat(F.col(key).cast("string"), F.lit("|" + salt))),
        F.col(key),
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= quota)
        .drop("_rk")
    )


def _gram_hashes(df: DataFrame, id_col: str, n: int, text_col: str):
    """Distinct word-``n``-gram hashes per document. Documents with
    FEWER than ``n`` words emit no grams at all (ADVICE r03: the old
    ``greatest(size-n, 0)`` emitted one short-gram per such doc, so
    an empty/short benchmark doc flagged every equally-short training
    doc as contaminated — systematic false positives the oracle's
    identical bug masked; the oracle SQL carries the same filter)."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    idx = F.sequence(F.lit(0), F.size(words) - n)
    grams = F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice(words, i + 1, n)))
    )
    return df.filter(F.size(words) >= n).select(
        F.col(id_col),
        F.explode(F.array_distinct(grams)).alias("gram"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag every training document that
    shares at least one word ``n``-gram with an evaluation set (the
    standard pre-training hygiene pass). The benchmark side is tiny by
    construction, so its distinct gram hashes are BROADCAST into an
    equi-join against the exploded corpus grams — the corpus is
    touched once, never shuffled. Returns one row per input doc:
    (doc_id, n_hits = count of distinct contaminated grams,
    contaminated = n_hits > 0)."""
    bench = _gram_hashes(benchmark, "doc_id", n, text_col).select(
        "gram"
    ).dropDuplicates()
    corpus = _gram_hashes(docs, "doc_id", n, text_col)
    hits = (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def mixture_sample(
    df: DataFrame,
    weights: dict,
    group_col: str = "source",
    key: str = "doc_id",
    salt: str = "mix1",
    buckets: int = 10000,
) -> DataFrame:
    """Dataset mixing: keep each group at its sampling weight (the
    per-source mixture a pretraining run specifies — wiki 3x-epoch'd,
    crawl downsampled). Same content-stable hash-bucket rule as
    deterministic_split: a row's fate depends only on its own key, so
    the mixture is reproducible, growth-stable, and never reshuffles
    the corpus (pure filter — no exchange at all). Groups missing
    from ``weights`` default to weight 0 (dropped): an explicit
    mixture spec is a whitelist. Weights are in [0, 1]; epoch
    multipliers > 1 belong to the loader, not the filter."""
    for g, w in weights.items():
        if not 0.0 <= w <= 1.0:
            raise ValueError("weight out of [0,1] for %r: %r" % (g, w))
        if w > 0 and int(round(w * buckets)) == 0:
            raise ValueError(
                "weight %r for %r rounds to a zero threshold at "
                "buckets=%d - raise buckets or the weight; silently "
                "dropping a deliberately-included source is worse "
                "than failing" % (w, g, buckets)
            )
    b = _hash_key(F.col(key), salt) % buckets
    thresh = F.lit(0)
    for g, w in sorted(weights.items()):
        thresh = F.when(
            F.col(group_col) == g, F.lit(int(round(w * buckets)))
        ).otherwise(thresh)
    return df.filter(b < thresh)


def sequence_pack(
    docs: DataFrame,
    capacity: int = 2048,
    token_col=None,
) -> DataFrame:
    """Sequential sequence packing: concatenate documents in doc_id
    order into fixed-capacity context windows (the pretraining packing
    that turns ragged documents into full training sequences;
    documents straddle bin boundaries exactly as a naive concat-and-
    chunk tokenizer pipeline does). bin = exclusive-prefix-sum of
    token counts DIV capacity, offset = the remainder — ONE window
    exchange, deterministic in every engine.

    At 10^12 docs a single global ordering is a one-reducer sort, so
    packing is per (lang, split-bucket) in practice; the global
    variant here keeps the oracle simple while the partitioned window
    is the identical expression over more keys."""
    from pyspark.sql import Window

    if isinstance(token_col, str):
        token_col = F.col(token_col)
    # whitespace-only text splits to [''] (size 1); count it as the 0
    # tokens it is — same guard as line_dedup
    tokens = token_col if token_col is not None else F.when(
        F.trim(F.col("text")) == "", F.lit(0)
    ).otherwise(
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    )
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum_excl = F.coalesce(
        F.sum(tokens).over(w), F.lit(0).cast("long")
    )
    # integer DIV, never float '/': a 10^12-doc corpus accumulates
    # > 2^53 tokens and double division silently mis-bins past that
    return docs.select(
        "doc_id",
        tokens.cast("long").alias("n_tokens"),
        cum_excl.alias("_cum"),
    ).select(
        "doc_id",
        "n_tokens",
        F.expr("_cum DIV %d" % capacity).alias("bin"),
        (F.col("_cum") % capacity).cast("long").alias("offset"),
    )


def boilerplate_strip(
    pages: DataFrame,
    host_col: str = "host",
    url_col: str = "url",
    text_col: str = "text",
    min_pages: int = 2,
    max_frac: float = 0.5,
) -> DataFrame:
    """Per-host boilerplate line removal (the CCNet / RefinedWeb
    heuristic): a LINE that occurs on at least ``max_frac`` of a
    host's pages (and on >= ``min_pages`` pages, so two-page hosts
    don't strip everything they share) is site template — cookie
    banners, nav menus, footers — and is removed from EVERY page of
    that host. Unlike :func:`dedup.line_dedup` (corpus-global, any
    second occurrence) the threshold is a per-host FRACTION, so a
    sentence legitimately quoted by two pages of a large site
    survives while the banner on all of them goes.

    Plan shape (100 TB lens): one explode of the line array; the
    host-line page-frequency is a partial-aggregated count over
    DISTINCT (host, url, line) rows (within-page repeats count one
    page); host page totals are a second, host-keyed aggregate of the
    page table itself (never the exploded lines); the boilerplate set
    is their join on host (AQE sizes it) and is removed with ONE
    left-anti join on (host, line). Per-host state is one counter per
    distinct line — hosts are the natural partition key of a crawl,
    so no single key exceeds a site's template vocabulary; a hub host
    is exactly the AQE skew-join case.

    Returns every input page: ``(url, host, n_lines, n_kept,
    new_text)`` with surviving lines rejoined in original order; a
    page whose every line was template keeps ``new_text = ''``."""
    host, url = F.col(host_col), F.col(url_col)
    lines = F.split(F.col(text_col), "\n")
    exploded = pages.select(
        host.alias("host"), url.alias("url"),
        F.posexplode(lines).alias("pos", "line"),
    )
    freq = (
        exploded.select("host", "url", "line").distinct()
        .groupBy("host", "line").agg(F.count("*").alias("npages"))
    )
    totals = pages.groupBy(host.alias("host")).agg(
        F.count("*").alias("total"))
    boiler = (
        freq.join(totals, "host")
        .filter((F.col("npages") >= min_pages)
                & (F.col("npages") / F.col("total") >= max_frac))
        .select("host", "line")
    )
    kept = (
        exploded.join(boiler, ["host", "line"], "left_anti")
        .groupBy("url")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("new_text"),
        )
    )
    base = pages.select(
        url.alias("url"), host.alias("host"),
        F.size(lines).cast("long").alias("n_lines"),
    )
    return base.join(kept, "url", "left").select(
        "url", "host", "n_lines",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("new_text", F.lit("")).alias("new_text"),
    )


def domain_quota_sample(
    pages: DataFrame,
    quota: int = 50,
    url_col: str = "url",
    key: str = "doc_id",
    salt: str = "v1",
) -> DataFrame:
    """Per-host document cap — the crawl-side twin of
    :func:`lang_quota_sample`: a head domain with 10^7 pages
    contributes exactly ``quota`` documents to the training mix
    (the RefinedWeb / C4 per-domain balancing pass). Selection within
    a host is the same content-keyed md5 order used everywhere in
    this module, so the kept set is stable under corpus growth and
    across engines. ONE exchange (hash partition by host for the
    window); hosts are a crawl's natural partition key, and a
    pathological mega-host is the AQE skew case, not a planner
    problem."""
    from rdf_converter_spark.operators.urlkit import host_of

    with_host = pages.withColumn("host", host_of(F.col(url_col)))
    w = Window.partitionBy("host").orderBy(
        F.md5(F.concat(F.col(key).cast("string"), F.lit("|" + salt))),
        F.col(key),
    )
    return (
        with_host.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= quota)
        .drop("_rk")
    )


def blocklist_filter(
    pages: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Domain blocklist with suffix semantics: a rule ``tracker.com``
    blocks that host AND every subdomain (``ads.tracker.com``) — the
    standard crawl-hygiene list shape (adult/malware/SEO-spam hosts).

    Plan shape (100 TB lens): the corpus side expands each URL to its
    host's dot-suffix chain (bounded by label count, ~4-6 entries —
    an array expression, not a join fan-out), explodes once, and
    semi-joins the BROADCAST rule table; the rule hit list then
    left-joins back to the input on the page key. The petabyte side
    is scanned twice but never shuffled on data keys (both joins are
    broadcast); no LIKE-cartesian anywhere.

    Returns every input row + ``(host, blocked, rule)`` where
    ``rule`` is the most specific (longest) matching blocklist entry,
    NULL when clean."""
    from rdf_converter_spark.operators.urlkit import host_of, host_suffixes

    with_host = pages.withColumn("host", host_of(F.col(url_col)))
    cand = with_host.select(
        url_col,
        F.explode(host_suffixes(F.col("host"))).alias("rule"),
    )
    rules = blocklist.select(F.col("domain").alias("rule")).distinct()
    hits = (
        cand.join(F.broadcast(rules), "rule")
        .groupBy(url_col)
        .agg(F.max_by("rule", F.length("rule")).alias("rule"))
    )
    return with_host.join(F.broadcast(hits), url_col, "left").select(
        *pages.columns, "host",
        F.col("rule").isNotNull().alias("blocked"),
        "rule",
    )


def doc_chunks(
    docs: DataFrame,
    size: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking — the RAG/embedding-prep
    primitive: fixed ``size``-word windows every ``stride`` words
    (overlap = size - stride), final window clamped to the document
    tail. Start offsets are ``sequence(0, max(n-size, 0), stride)``
    so every word is covered and a short doc yields exactly one
    chunk; empty/whitespace docs yield none.

    Entirely array expressions (split -> sequence -> transform ->
    explode): no UDF, no shuffle — at 100 TB this is a map-only pass
    whose output is written partition-aligned with its input, and
    chunk identity (id, chunk_no) is deterministic for downstream
    embedding joins."""
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    n = F.size(words)
    starts = F.sequence(
        F.lit(0), F.greatest(n - size, F.lit(0)), F.lit(stride)
    )
    chunk = F.posexplode(
        F.transform(starts, lambda s: F.array_join(
            F.slice(words, s + 1, size), " "))
    )
    out = docs.filter(n > 0).select(
        F.col(id_col), n.alias("n_words"), chunk.alias("chunk_no", "chunk")
    )
    return out.select(
        id_col, "n_words", "chunk_no", "chunk",
        F.size(F.split(F.col("chunk"), r"\s+")).alias("chunk_words"),
    )
