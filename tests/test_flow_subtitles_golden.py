# -*- coding: utf-8 -*-
"""Flow-link (J3) and ASR subtitle (J4/A3) pipelines vs golden."""

from conftest import collect_triples
from golden import diff_report, golden_triples, precision_recall


def _check(mine, golden_outputs, names):
    golden = golden_triples(
        {k: v for k, v in golden_outputs.items() if k in names}
    )
    p, r = precision_recall(mine, golden)
    assert p == 1.0 and r == 1.0, (
        "P=%.4f R=%.4f\n%s" % (p, r, diff_report(mine, golden))
    )


def test_ld_flow(spark, routed, golden_outputs):
    from rdf_converter_spark.operators.emit import dedup_triples
    from rdf_converter_spark.pipelines import flow as flp
    from rdf_converter_spark.pipelines.fused import parse_all
    from rdf_converter_spark.pipelines import ld as ldp

    flow = flp.parse_flow(parse_all(routed, kinds=("flow",)))
    lineage = ldp.ld_lineage(ldp.parse_ld_programs(routed))
    mine = collect_triples(
        dedup_triples(flp.flow_triples(flow, lineage, "ld_flow"))
    )
    _check(mine, golden_outputs, {"ld_flow_filenames.ttl"})


def test_pa_flow(spark, routed, golden_outputs):
    from rdf_converter_spark.operators.emit import dedup_triples
    from rdf_converter_spark.pipelines import flow as flp
    from rdf_converter_spark.pipelines.fused import parse_all
    from rdf_converter_spark.pipelines import pa as pap

    flow = flp.parse_flow(parse_all(routed, kinds=("flow",)))
    lineage = pap.pa_lineage(pap.parse_pa(routed))
    mine = collect_triples(
        dedup_triples(flp.flow_triples(flow, lineage, "pa_flow"))
    )
    _check(mine, golden_outputs, {"pa_flow_filenames.ttl"})


def test_yle_flow(spark, routed, golden_outputs):
    from rdf_converter_spark.operators.emit import dedup_triples
    from rdf_converter_spark.pipelines import flow as flp
    from rdf_converter_spark.pipelines.fused import parse_all
    from rdf_converter_spark.pipelines import yle as ylep

    flow = flp.parse_flow(parse_all(routed, kinds=("flow",)))
    lineage = ylep.yle_lineage(ylep.parse_yle(routed))
    mine = collect_triples(dedup_triples(flp.yle_flow_triples(flow, lineage)))
    _check(mine, golden_outputs, {"yle_flow_filenames.ttl"})


def test_subtitles(spark, routed, golden_outputs):
    from rdf_converter_spark.operators.emit import dedup_triples
    from rdf_converter_spark.pipelines import ld as ldp
    from rdf_converter_spark.pipelines import subtitles as subp

    asr = subp.parse_asr(routed)
    lineage = ldp.ld_lineage(ldp.parse_ld_programs(routed))
    mine = collect_triples(
        dedup_triples(subp.subtitle_triples(asr, lineage))
    )
    _check(mine, golden_outputs, {"pa_subtitles.ttl"})
