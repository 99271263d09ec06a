# -*- coding: utf-8 -*-
"""Full KG-construction run: web_pages -> routed -> parsed -> triples
-> deduplicated triple table, with staged checkpoint/resume, lineage
and metrics (plans.checkpoint).

Stage graph of ``run_pipeline`` (8 stages; shuffle budget at 10^12
docs):
  routed        1 full corpus scan, no shuffle, written partitioned by
                doc_type (the parse scans are partition-pruned)
  parsed_docs   ONE fused Arrow parse of every document kind
                (pipelines.fused), written partitioned by doc_type;
                each kind is read back with ``fused.of_kind`` — a
                partition-pruned JVM scan; no shuffle
  parsed_flow   flow-mapping rows, pure JVM
  lineage_ld / lineage_pa / lineage_yle
                identifier -> URI tables the link joins run against
  pa_derived    global-order window (quirk F14) — single sort of the
                PA slice only — plus the J2 segment-time join
  triples       ``assemble_triples``: per-kind explode emission, J2/J3/J4
                joins (AQE broadcasts the lineage side), union + dedup
                — THE pipeline shuffle; map-side partial dedup
                collapses hub triples before exchange

``build_triples_inmem`` runs the same parse and the same
``assemble_triples`` as one plan, without stage tables.
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.emit import dedup_triples
from ..plans.checkpoint import (StageRunner, listing_sha1, mappings_sha1,
                                package_sha1)
from ..sources.route import route
from ..sources.web_pages import read_web_pages
from . import flow as flp
from . import fused as fup
from . import ld as ldp
from . import pa as pap
from . import subtitles as subp
from . import yle as ylep
from .vocab import ina_vocab, yle_vocab


def assemble_triples(
    spark: SparkSession,
    programs: DataFrame,
    segments: DataFrame,
    pa_full: DataFrame,
    yle: DataFrame,
    asr: DataFrame,
    flow: DataFrame,
    ld_lin: DataFrame,
    pa_lin: DataFrame,
    yle_lin: DataFrame,
    dedup: bool = True,
) -> DataFrame:
    """Every graph's triples from the parsed kinds and their lineage
    tables: the 11-part union (per-kind emission, the controlled
    vocabularies, the flow links and the subtitles), deduplicated.

    ``dedup=False`` lets callers that need a different survivor key
    (the compat CLI dedups within (graph, yle dataset) so a triple
    emitted by pages of TWO datasets reaches both datasets' files, like
    the reference's per-dataset graphs) run their own dedup_triples."""
    parts = [
        ldp.ld_program_triples(programs),
        ina_vocab(spark, "ld"),
        ldp.ld_segment_triples(ldp.ld_segments_with_times(segments, programs)),
        pap.pa_triples(pa_full),
        ina_vocab(spark, "pa"),
        ylep.yle_triples(yle),
        yle_vocab(spark, "yle"),
        flp.flow_triples(flow, ld_lin, "ld_flow"),
        flp.flow_triples(flow, pa_lin, "pa_flow"),
        flp.yle_flow_triples(flow, yle_lin),
        subp.subtitle_triples(asr, ld_lin),
    ]
    acc = parts[0]
    for p in parts[1:]:
        acc = acc.unionByName(p, allowMissingColumns=True)
    return dedup_triples(acc) if dedup else acc


def build_triples_inmem(
    spark: SparkSession, routed: DataFrame, dedup: bool = True
) -> DataFrame:
    """Single-plan variant (no staged materialization): routed rows ->
    deduplicated triple table. Used by ``convert.py``, the benchmark's
    fused cross-check and tests; the staged ``run_pipeline`` is the
    resumable production shape.

    Parse strategy: ONE fused Python pass over the corpus
    (pipelines.fused), materialized via eager localCheckpoint — every
    downstream branch (triples, lineage, joins) is then a pure-JVM
    scan of the narrow parsed columns."""
    parsed = fup.parse_all(routed).localCheckpoint(eager=True)
    programs = fup.of_kind(parsed, "ld_program")
    pa = fup.of_kind(parsed, "pa")
    yle = fup.of_kind(parsed, "yle")
    return assemble_triples(
        spark,
        programs=programs,
        segments=fup.of_kind(parsed, "ld_segment"),
        pa_full=pap.pa_with_segment_times(pap.with_heure2(pa)),
        yle=yle,
        asr=fup.of_kind(parsed, "asr"),
        flow=flp.parse_flow(routed),
        ld_lin=ldp.ld_lineage(programs),
        pa_lin=pap.pa_lineage(pa),
        yle_lin=ylep.yle_lineage(yle),
        dedup=dedup,
    )


def build_triples_extraction(spark: SparkSession, routed: DataFrame) -> DataFrame:
    """The VOLUME path only: parse -> emit -> dedup for the three
    document kinds, skipping the lineage-table side branches (segment
    relative times, flow links, subtitles) whose inputs are orders of
    magnitude smaller than the corpus. This is the job whose throughput
    must scale with executors at 10^12 docs; used by the streaming
    upsert (streaming/incremental.py) and by
    perfbench/repro_upsert_success.py.
    PA rows get null relative-time columns (their start/end triples are
    gated) — programs, the overwhelming majority, are unaffected.

    One fused Python parse pass (pipelines.fused), eagerly
    checkpointed; emission is JVM-only from the parsed columns."""
    parsed = fup.parse_all(
        routed, kinds=("ld_program", "pa", "yle")
    ).localCheckpoint(eager=True)
    programs = fup.of_kind(parsed, "ld_program")
    pa = pap.with_heure2(fup.of_kind(parsed, "pa"))
    pa = pa.withColumn("parent_heure2", F.lit(None).cast("string"))
    pa = (
        pa.withColumn("t_start", F.lit(None).cast("string"))
        .withColumn("t_end", F.lit(None).cast("string"))
        .withColumn(
            "pubevent_start_lex",
            F.when(~F.col("is_segment"),
                   pap._pa_pubevent_datetime(F.col("broadcast_date"),
                                             F.col("heure2"))),
        )
    )
    yle = fup.of_kind(parsed, "yle")
    acc = ldp.ld_program_triples(programs)
    for p in (pap.pa_triples(pa), ylep.yle_triples(yle)):
        acc = acc.unionByName(p, allowMissingColumns=True)
    return dedup_triples(acc)


def run_pipeline(
    spark: SparkSession,
    web_pages_path: str,
    work_dir: str,
    resume: bool = True,
    route_partitions: int = 0,
) -> Dict[str, DataFrame]:
    """Execute the full pipeline; returns the named output frames.

    ``route_partitions`` spreads the routed materialization when the
    input arrives in fewer splits than the cluster has slots (small
    files bin-packed by maxPartitionBytes would otherwise cap the
    parallelism of the parse); 0 = keep the scan's partitioning (the
    right choice when the input is already a well-partitioned table).

    With ``resume`` a completed stage of ``work_dir`` is read back
    only when the run fingerprint — the input listing, the
    ``route_partitions`` setting, the package sources and the
    ``MEMAD_MAPPINGS_DIR`` vocabularies — equals the one in
    ``work_dir/_run.json``; otherwise every stage is recomputed and
    ``_run.json`` records why.
    """
    sr = StageRunner(spark, work_dir, resume=resume, fingerprint={
        "inputs": listing_sha1(spark, web_pages_path),
        "route_partitions": route_partitions,
        "sources": package_sha1(),
        "mappings": mappings_sha1(),
    })

    def build_routed() -> DataFrame:
        r = route(read_web_pages(spark, web_pages_path))
        if route_partitions:
            r = r.repartition(route_partitions)
        return r

    routed = sr.stage("routed", build_routed, partition_by=["doc_type"])
    parsed = sr.stage("parsed_docs", lambda: fup.parse_all(routed),
                      partition_by=["doc_type"])
    programs = fup.of_kind(parsed, "ld_program")
    pa = fup.of_kind(parsed, "pa")
    yle = fup.of_kind(parsed, "yle")
    flow = sr.stage("parsed_flow", lambda: flp.parse_flow(routed))

    ld_lin = sr.stage("lineage_ld", lambda: ldp.ld_lineage(programs))
    pa_full = sr.stage(
        "pa_derived",
        lambda: pap.pa_with_segment_times(pap.with_heure2(pa)),
    )
    pa_lin = sr.stage("lineage_pa", lambda: pap.pa_lineage(pa))
    yle_lin = sr.stage("lineage_yle", lambda: ylep.yle_lineage(yle))

    triples = sr.stage(
        "triples",
        lambda: assemble_triples(
            spark,
            programs=programs,
            segments=fup.of_kind(parsed, "ld_segment"),
            pa_full=pa_full,
            yle=yle,
            asr=fup.of_kind(parsed, "asr"),
            flow=flow,
            ld_lin=ld_lin,
            pa_lin=pa_lin,
            yle_lin=yle_lin,
        ),
        partition_by=["graph"],
    )
    sr.write_metrics()
    return {
        "routed": routed,
        "triples": triples,
        "lineage_ld": ld_lin,
        "lineage_pa": pa_lin,
        "lineage_yle": yle_lin,
        "metrics": spark.createDataFrame(
            [
                (m["stage"], m["rows"], m["partitions"], m["files"],
                 m["seconds"], m["resumed"])
                for m in sr.metrics
            ],
            "stage string, rows long, partitions int, files int, "
            "seconds double, resumed boolean",
        ),
    }
