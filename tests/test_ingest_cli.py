# -*- coding: utf-8 -*-
"""Raw reference-layout ingestion + the reference-compatible CLI:
pointing the engine at the exact directory trees the reference
converters consume must yield the same triple table as the web_pages
parquet path, and convert.py must write the reference's output files
(real Turtle) from those raw inputs."""

import os
import sys

from conftest import collect_triples

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ingest(spark, corpus):
    from rdf_converter_spark.sources.ingest import ingest_reference_layout

    return ingest_reference_layout(
        spark,
        ld=os.path.join(corpus, "ld"),
        pa=os.path.join(corpus, "pa"),
        yle=os.path.join(corpus, "yle"),
        asr=os.path.join(corpus, "asr"),
        flow=os.path.join(corpus, "file_flow_mapping.json"),
    )


def test_ingest_matches_web_pages_path(spark, corpus):
    from rdf_converter_spark.pipelines.runner import build_triples_inmem
    from rdf_converter_spark.sources.route import route
    from rdf_converter_spark.sources.web_pages import read_web_pages

    raw = collect_triples(
        build_triples_inmem(spark, route(_ingest(spark, corpus)))
    )
    parq = collect_triples(
        build_triples_inmem(
            spark,
            route(read_web_pages(spark, os.path.join(corpus, "web_pages"))),
        )
    )
    assert raw == parq
    assert len(raw) > 100


def test_ingest_dispatch_is_by_argument_not_dirname(spark, corpus, tmp_path):
    """A user's tree need not be named ld/: dispatch must come from
    WHICH argument the path was passed as."""
    from rdf_converter_spark.sources.ingest import ingest_reference_layout

    alias = str(tmp_path / "legal_deposit")
    os.symlink(os.path.join(corpus, "ld"), alias)
    web = ingest_reference_layout(spark, ld=alias)
    kinds = {
        r["url"].split("/")[3] for r in web.select("url").limit(500).collect()
    }
    assert kinds <= {"ld_program", "ld_segment"} and kinds
    # dataset component survives the rename
    assert web.count() == ingest_reference_layout(
        spark, ld=os.path.join(corpus, "ld")
    ).count()


def test_convert_cli_yle_cross_dataset_reemission(spark, tmp_path):
    """A triple emitted by pages in TWO yle datasets must appear in
    BOTH datasets' .ttl files: the reference re-emits it in every
    dataset's graph (yle_converter.py:545-546), so the CLI dedups
    within (graph, dataset) instead of letting the global dedup pick
    one arbitrary-src_url survivor (ADVICE r2)."""
    sys.path.insert(0, REPO)
    import convert
    from fixtures.generator import CorpusBuilder

    b = CorpusBuilder(str(tmp_path / "unused"), seed=11)
    _stem, payload = b._yle_doc(0)
    for ds in ("dsa", "dsb"):
        p = tmp_path / "yle" / ds / "prog.xml"
        p.parent.mkdir(parents=True)
        p.write_bytes(payload)
    out = str(tmp_path / "out")
    rc = convert.main([
        "yle", "-p", str(tmp_path / "yle"), "-o", out,
        "--master", "local[4]",
    ])
    assert rc == 0
    names = set(os.listdir(out))
    assert {"yle_dsa.ttl", "yle_dsb.ttl"} <= names
    # identical source doc => identical per-dataset graphs; the writer
    # is deterministic, so the files must be byte-identical
    ta = open(os.path.join(out, "yle_dsa.ttl")).read()
    tb = open(os.path.join(out, "yle_dsb.ttl")).read()
    assert len(ta.splitlines()) > 50 and "memad" in ta
    assert ta == tb


def test_convert_cli_ld(spark, corpus, tmp_path):
    """convert.py ld -p <raw ld dir> -o out/ -f flow.json -k writes the
    reference's ld outputs as parseable Turtle."""
    sys.path.insert(0, REPO)
    import convert
    from test_export_canonical import _parse_turtle

    out = str(tmp_path / "out")
    rc = convert.main([
        "ld", "-p", os.path.join(corpus, "ld"), "-o", out,
        "-f", os.path.join(corpus, "file_flow_mapping.json"), "-k",
        "--master", "local[4]",
    ])
    assert rc == 0
    names = set(os.listdir(out))
    assert {"ld.ttl", "ld_sujets.ttl", "ld_flow_filenames.ttl",
            "ina_ld_mapping.csv"} <= names
    triples = _parse_turtle(open(os.path.join(out, "ld.ttl")).read())
    assert len(triples) > 50
    subjects = {t[0] for t in triples}
    assert any("memad" in s or "data" in s for s in subjects)

    # the mapping CSV is the lineage of the one parse the triples used
    from rdf_converter_spark.pipelines import ld as ldp
    from rdf_converter_spark.sources.ingest import ingest_reference_layout
    from rdf_converter_spark.sources.route import route

    routed = route(ingest_reference_layout(spark,
                                           ld=os.path.join(corpus, "ld")))
    want = ldp.ld_lineage(ldp.parse_ld_programs(routed)).toPandas()
    with open(os.path.join(out, "ina_ld_mapping.csv")) as fh:
        got = sorted(fh.read().splitlines())
    assert len(got) > 10
    assert got == sorted(want.to_csv(index=False).splitlines())
