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


def test_media_features_prunes_python_when_feat_unused(spark):
    """n_bytes/digest are JVM expressions; the feature pandas_udf is a
    separate projected column, so a query that never selects ``feat``
    must compile to a plan with NO Python evaluation at all (r01 spent
    3 s of headline running md5/length in a per-blob Python loop)."""
    from pyspark.sql import functions as F

    from rdf_converter_spark.operators.multimodal import media_features

    media = spark.range(100).select(
        F.col("id").alias("media_id"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("media"),
    )
    pruned = media_features(media).select("media_id", "n_bytes", "digest")
    plan = _plan(pruned)
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    full = media_features(media).select("media_id", "feat")
    assert "ArrowEvalPython" in _plan(full)


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


def test_degree_stats_single_pass(spark):
    """degree_stats must read its input ONCE (explode, not a union of
    two selects that would duplicate the upstream subtree) and
    partially aggregate before the exchange."""
    from pyspark.sql import functions as F

    from rdf_converter_spark.operators.graph import degree_stats

    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "src long, dst long"
    )
    plan = _plan(degree_stats(edges))
    assert plan.count("Generate explode") == 1, plan
    assert "Union" not in plan, plan
    assert "partial_sum" in plan, plan


def test_upsert_store_side_never_shuffles(spark):
    """merge.py contract: the anti-join broadcasts the bounded delta
    key set, so the 10^12-row store side has NO exchange; dedup is
    scoped to the delta (a global distinct would reshuffle the whole
    store)."""
    from pyspark.sql import functions as F

    from rdf_converter_spark.operators.merge import upsert_triples

    base = spark.range(5000).select(
        F.concat(F.lit("s"), F.col("id")).alias("subj"),
        F.lit("p").alias("pred"),
        F.concat(F.lit("o"), F.col("id")).alias("obj"),
    )
    delta = base.limit(10).withColumn("obj", F.lit("NEW"))
    plan = _plan(upsert_triples(base, delta))
    anti = plan[plan.index("LeftAnti"):]
    assert "BroadcastHashJoin" in plan[:plan.index("LeftAnti") + 30], plan
    # the only hashpartitioning exchange allowed is the delta-side
    # distinct; the base branch (below the anti join) must have none
    assert "Exchange hashpartitioning" not in anti.split("Scan")[0], plan
    assert "SortMergeJoin" not in plan, plan


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
