# -*- coding: utf-8 -*-
"""Physical-plan assertions: the optimizations the 100 TB design
relies on must actually appear in the executed plans."""

import os


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_to_parquet(spark, corpus):
    from pyspark.sql import functions as F

    from rdf_converter_spark.sources.web_pages import read_web_pages

    web = read_web_pages(spark, os.path.join(corpus, "web_pages"))
    plan = _plan(web.filter(F.col("lang") == "fr").select("url", "lang"))
    assert "PushedFilters" in plan
    assert "lang" in plan.split("PushedFilters")[1][:200], plan


def test_no_row_python_udfs_in_pipeline(spark, routed):
    """The hot path must use Arrow batches only: no row-at-a-time
    BatchEvalPython anywhere in the full triple plan."""
    from rdf_converter_spark.pipelines.runner import build_triples_extraction

    plan = _plan(build_triples_extraction(spark, routed))
    assert "BatchEvalPython" not in plan
    assert ("ArrowEvalPython" in plan) or ("MapInPandas" in plan)


def test_heure_carry_join_is_broadcast(spark, routed):
    """The stale-carry join back must broadcast the tiny carried side
    (never shuffle the main PA table)."""
    from rdf_converter_spark.pipelines import pa as pap

    plan = _plan(pap.with_heure2(pap.parse_pa(routed)))
    assert "BroadcastHashJoin" in plan, plan


def test_emission_is_whole_stage_codegen(spark, routed):
    """Triple emission (explode + gate) must stay inside whole-stage
    codegen after the Arrow parse boundary."""
    from rdf_converter_spark.pipelines import ld as ldp

    plan = _plan(ldp.ld_program_triples(ldp.parse_ld_programs(routed)))
    # codegen'd operators render with the '*(n)' prefix
    assert "*(" in plan, plan


def test_emission_plans_cost_few_py4j_calls(spark, monkeypatch):
    """Building (not running) every kind's emission plan costs a few
    Python-to-JVM round trips: the bundles are SQL text applied with
    one ``selectExpr``, not Column trees of one call per node (which
    cost thousands of calls per kind)."""
    import py4j.java_gateway as jg
    from pyspark.sql import types as T

    from rdf_converter_spark.pipelines import ld as ldp
    from rdf_converter_spark.pipelines import pa as pap
    from rdf_converter_spark.pipelines import subtitles as subp
    from rdf_converter_spark.pipelines import yle as ylep

    def empty(schema, *extra):
        fields = schema.fields + [T.StructField(c, T.StringType())
                                  for c in extra]
        df = spark.createDataFrame([], T.StructType(fields))
        df.columns  # the schema fetch is not part of the build
        return df

    programs = empty(ldp.LD_PROGRAM_SCHEMA)
    segments = empty(ldp.LD_SEGMENT_SCHEMA, "parent_start_raw", "t_start",
                     "t_end")
    pa_full = empty(pap.PA_SCHEMA, "heure2", "parent_heure2", "t_start",
                    "t_end", "pubevent_start_lex")
    yle = empty(ylep.YLE_SCHEMA)
    asr = empty(subp.ASR_SCHEMA)
    lineage = ldp.ld_lineage(programs)
    lineage.columns

    calls = {"n": 0}
    send = jg.GatewayClient.send_command

    def counting(self, *a, **kw):
        calls["n"] += 1
        return send(self, *a, **kw)

    monkeypatch.setattr(jg.GatewayClient, "send_command", counting)
    counts = {}
    for kind, build in [
        ("ld_program", lambda: ldp.ld_program_triples(programs)),
        ("ld_segment", lambda: ldp.ld_segment_triples(segments)),
        ("pa", lambda: pap.pa_triples(pa_full)),
        ("yle", lambda: ylep.yle_triples(yle)),
        ("subtitles", lambda: subp.subtitle_triples(asr, lineage)),
    ]:
        calls["n"] = 0
        build()
        counts[kind] = calls["n"]
    monkeypatch.undo()
    # measured ~490 in all (9-120 per kind, 336 for the subtitles'
    # joins); one Column bundle alone costs thousands
    assert sum(counts.values()) < 1000, counts


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join (north_star: 'skewed predicates and hub entities
    ... AQE skew-join hints') must actually fire: a join whose probe
    side is 90% one hub key compiles, post-execution, to a
    SortMergeJoin marked skew=true with the hub partition split."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.adaptive.skewJoin"
                 ".skewedPartitionThresholdInBytes", "64KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string"))
            .alias("payload"),
        )
        dim = spark.range(20_001).select(
            F.col("id").alias("k"),
            F.concat(F.lit("dim-"), F.col("id").cast("string")).alias("d"),
        )
        joined = fact.join(dim, "k").select(
            F.count_if(F.length("payload") > 0).alias("n")
        )
        joined.collect()  # AQE re-plans during execution
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_dedup_is_partial_aggregate(spark, routed):
    """dropDuplicates must compile to a two-phase hash aggregate
    (map-side partial collapse of hub triples before the exchange)."""
    from rdf_converter_spark.operators.emit import dedup_triples
    from rdf_converter_spark.pipelines import ld as ldp

    triples = dedup_triples(
        ldp.ld_program_triples(ldp.parse_ld_programs(routed))
    )
    plan = _plan(triples)
    n_aggs = plan.count("HashAggregate") + plan.count("SortAggregate")
    assert n_aggs >= 2, plan


def test_merge_batch_broadcasts_batch_sides(spark):
    """streaming.incremental.merge_batch contract: every join that
    reads the store rows ``base`` is a broadcast hash join whose
    broadcast side is batch-sized (the batch's keys, its pages, the
    re-stated keys), so no join shuffles the store. Size-based
    broadcasting is off: only merge_batch's own hints broadcast."""
    from pyspark.sql import functions as F

    from rdf_converter_spark.streaming.incremental import merge_batch

    def triples(n, obj, src_url):
        return spark.range(n).select(
            F.concat(F.lit("s"), F.col("id")).alias("subj"),
            F.concat(F.lit("p"), F.col("id") % 3).alias("pred"),
            obj.alias("obj"),
            F.lit(False).alias("obj_is_uri"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_datatype"),
            src_url.alias("src_url"),
        )

    base = triples(5000, F.concat(F.lit("o"), F.col("id")),
                   F.concat(F.lit("u"), F.col("id") % 50))
    delta = triples(10, F.lit("NEW"), F.lit("u0"))
    pages = spark.createDataFrame([("u0",)], "src_url string")
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        lines = _plan(merge_batch(base, delta, pages)).splitlines()
    finally:
        spark.conf.set(key, saved)

    def depth(i):
        return len(lines[i]) - len(lines[i].lstrip(" :+-"))

    def subtree(i):
        end = i + 1
        while end < len(lines) and depth(end) > depth(i):
            end += 1
        return range(i, end)

    def reads(i, scan):
        return any(scan in lines[j] for j in subtree(i))

    base_scan, batch_scans = "Range (0, 5000,", ("Range (0, 10,", "Scan")
    joins = [i for i in range(len(lines))
             if "Join" in lines[i] and reads(i, base_scan)]
    assert len(joins) == 4, "\n".join(lines)
    for i in joins:
        assert "BroadcastHashJoin" in lines[i], "\n".join(lines)
        child = depth(i + 1)
        built = [j for j in subtree(i)
                 if depth(j) == child and "BroadcastExchange" in lines[j]]
        assert len(built) == 1, "\n".join(lines)
        assert any(reads(built[0], s) for s in batch_scans), \
            "\n".join(lines)


def test_bucketed_tables_join_shuffle_free(spark, tmp_path):
    """Co-located joins: two tables bucketed on the join key merge
    with ZERO exchanges — the store layout that lets repeated
    entity-level joins (linking, canonicalization, upsert splits)
    run shuffle-free at any scale."""
    import uuid

    from pyspark.sql import functions as F

    tag = uuid.uuid4().hex[:8]
    a_t, b_t = "ba_" + tag, "bb_" + tag
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        rows = spark.range(2000).select(
            F.concat(F.lit("s"), F.col("id")).alias("subj"),
            F.col("id").alias("v"),
        )
        for name, df in ((a_t, rows), (b_t, rows)):
            (
                df.write.bucketBy(8, "subj").sortBy("subj")
                .mode("overwrite").saveAsTable(name)
            )
        j = spark.table(a_t).join(spark.table(b_t), "subj")
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert plan.count("SelectedBucketsCount: 8 out of 8") == 2, plan
        assert j.count() == 2000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS " + a_t)
        spark.sql("DROP TABLE IF EXISTS " + b_t)


def test_sparql_text_plan_equals_pattern_api(spark):
    """The text front-end is a PARSER, not an engine: the optimized
    plan of a parsed query must be byte-identical to the plan the
    pattern-list API builds for the same BGP — no wrapper nodes, no
    lost pushdown."""
    from pyspark.sql import functions as F

    from rdf_converter_spark.operators.bgp import bgp_match
    from rdf_converter_spark.operators.sparql_text import sparql_query

    kg = spark.createDataFrame(
        [("s%d" % i, "http://x/p" + str(i % 3), "o%d" % i, True)
         for i in range(30)],
        "subj string, pred string, obj string, obj_is_uri boolean",
    ).localCheckpoint()
    text_df = sparql_query(kg, """
        SELECT ?s ?o WHERE {
          ?s <http://x/p0> ?o .
          ?s <http://x/p1> ?o2 .
          FILTER (?o != "nope")
        }
    """)
    api_df = bgp_match(
        kg,
        [("?s", "http://x/p0", "?o"), ("?s", "http://x/p1", "?o2")],
        filters=['?o != "nope"'],
    ).select("s", "o")

    def opt(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    # normalize auto-generated expression ids
    import re as _re

    def norm(p):
        return _re.sub(r"#\d+", "#x", p)

    assert norm(opt(text_df)) == norm(opt(api_df))


def test_sparql_text_constant_pushdown_reaches_scan(spark, tmp_path):
    """A constant predicate written in query TEXT must still reach
    the parquet reader as a pushed filter."""
    from rdf_converter_spark.operators.sparql_text import sparql_query

    path = str(tmp_path / "kg")
    spark.createDataFrame(
        [("s%d" % i, "http://x/p" + str(i % 3), "o%d" % i, True)
         for i in range(50)],
        "subj string, pred string, obj string, obj_is_uri boolean",
    ).write.parquet(path)
    kg = spark.read.parquet(path)
    df = sparql_query(
        kg, 'SELECT ?s WHERE { ?s <http://x/p1> "o1" }')
    plan = _plan(df)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:300]
    assert "pred" in pushed and "obj" in pushed, plan


def test_sparql_text_graph_constant_prunes_partitions(spark, tmp_path):
    """A constant GRAPH term in query text must become a partition
    filter on a graph-partitioned quad table."""
    from rdf_converter_spark.operators.sparql_text import sparql_query

    path = str(tmp_path / "quads")
    spark.createDataFrame(
        [("g%d" % (i % 2), "s%d" % i, "http://x/p", "o%d" % i, True)
         for i in range(40)],
        "graph string, subj string, pred string, obj string, "
        "obj_is_uri boolean",
    ).write.partitionBy("graph").parquet(path)
    quads = spark.read.parquet(path)
    df = sparql_query(quads, """
        SELECT ?s ?o WHERE { GRAPH <g1> { ?s <http://x/p> ?o } }
    """)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:200]
    assert "g1" in pf, plan
