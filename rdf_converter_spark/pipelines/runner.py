# -*- coding: utf-8 -*-
"""Full KG-construction run: web_pages -> parsed -> triples ->
deduplicated triple table, with staged checkpoint/resume, lineage
and metrics (plans.checkpoint).

Stage graph of ``run_pipeline`` (5 stages):
  parsed_docs   ONE fused Arrow parse of every document kind
                (pipelines.fused) over the routed web_pages scan
                (sources.route, a JVM projection), written partitioned
                by doc_type; each kind is read back with
                ``fused.of_kind`` — a partition-pruned JVM scan; no
                shuffle
  lineage_ld / lineage_pa / lineage_yle
                ``lineage_tables``: the identifier -> URI tables the
                link joins run against (``job.py --canonicalize``
                reads them too)
  triples       ``assemble_triples``: per-kind explode emission, the PA
                heure carry (quirk F14) and J2 segment times, the flow
                JSON read, J3/J4 link joins (AQE broadcasts the lineage
                side), union + dedup — THE pipeline shuffle; map-side
                partial dedup collapses hub triples before exchange

``build_triples_inmem`` runs the same parse and the same
``lineage_tables``/``assemble_triples`` wiring as one plan, over a
``localCheckpoint``ed parse instead of stage tables.
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


def lineage_tables(parsed: DataFrame) -> Dict[str, DataFrame]:
    """The identifier -> URI tables of the fused parse (S7: the
    reference's mapping CSVs), keyed by their ``run_pipeline`` stage
    names; the flow (J3) and subtitle (J4) links join against them."""
    return {
        "lineage_ld": ldp.ld_lineage(fup.of_kind(parsed, "ld_program")),
        "lineage_pa": pap.pa_lineage(fup.of_kind(parsed, "pa")),
        "lineage_yle": ylep.yle_lineage(fup.of_kind(parsed, "yle")),
    }


def assemble_triples(
    spark: SparkSession,
    parsed: DataFrame,
    lineage: Dict[str, DataFrame],
    dedup: bool = True,
) -> DataFrame:
    """Every graph's triples from the fused parse and its
    ``lineage_tables`` (or their stage read-backs): the 11-part union
    (per-kind emission with the PA heure carry and the J2 segment
    times, the controlled vocabularies, the flow links and the
    subtitles), deduplicated.

    ``dedup=False`` lets callers that need a different survivor key
    (the compat CLI dedups within (graph, yle dataset) so a triple
    emitted by pages of TWO datasets reaches both datasets' files, like
    the reference's per-dataset graphs) run their own dedup_triples."""
    programs = fup.of_kind(parsed, "ld_program")
    segments = fup.of_kind(parsed, "ld_segment")
    pa = fup.of_kind(parsed, "pa")
    flow = flp.parse_flow(parsed)
    ld_lin = lineage["lineage_ld"]
    parts = [
        ldp.ld_program_triples(programs),
        ina_vocab(spark, "ld"),
        ldp.ld_segment_triples(ldp.ld_segments_with_times(segments, programs)),
        pap.pa_triples(pap.pa_with_segment_times(pap.with_heure2(pa))),
        ina_vocab(spark, "pa"),
        ylep.yle_triples(fup.of_kind(parsed, "yle")),
        yle_vocab(spark, "yle"),
        flp.flow_triples(flow, ld_lin, "ld_flow"),
        flp.flow_triples(flow, lineage["lineage_pa"], "pa_flow"),
        flp.yle_flow_triples(flow, lineage["lineage_yle"]),
        subp.subtitle_triples(fup.of_kind(parsed, "asr"), ld_lin),
    ]
    acc = parts[0]
    for p in parts[1:]:
        acc = acc.unionByName(p, allowMissingColumns=True)
    return dedup_triples(acc) if dedup else acc


def build_triples_inmem(spark: SparkSession, routed: DataFrame) -> DataFrame:
    """Single-plan variant (no staged materialization): routed rows ->
    deduplicated triple table. Used by the benchmark's fused
    cross-check and tests; the staged ``run_pipeline`` is the
    resumable production shape.

    Parse strategy: ONE fused Python pass over the corpus
    (pipelines.fused), materialized via eager localCheckpoint — every
    downstream branch (triples, lineage, joins) is then a pure-JVM
    scan of the narrow parsed columns."""
    parsed = fup.parse_all(routed).localCheckpoint(eager=True)
    return assemble_triples(spark, parsed, lineage_tables(parsed))


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
) -> Dict[str, DataFrame]:
    """Execute the full pipeline; returns the named output frames.

    With ``resume`` a completed stage of ``work_dir`` is read back
    only when the run fingerprint — the input listing, the package
    sources and the ``MEMAD_MAPPINGS_DIR`` vocabularies — equals the
    one in ``work_dir/_run.json``; otherwise every stage is recomputed
    and ``_run.json`` records why.
    """
    sr = StageRunner(spark, work_dir, resume=resume, fingerprint={
        "inputs": listing_sha1(spark, web_pages_path),
        "sources": package_sha1(),
        "mappings": mappings_sha1(),
    })
    parsed = sr.stage(
        "parsed_docs",
        lambda: fup.parse_all(route(read_web_pages(spark, web_pages_path))),
        partition_by=["doc_type"],
    )
    lineage = {name: sr.stage(name, lambda df=df: df)
               for name, df in lineage_tables(parsed).items()}
    triples = sr.stage(
        "triples",
        lambda: assemble_triples(spark, parsed, lineage),
        partition_by=["graph"],
    )
    sr.write_metrics()
    return {
        "triples": triples,
        **lineage,
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
