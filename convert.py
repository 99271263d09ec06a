#!/usr/bin/env python
# -*- coding: utf-8 -*-
"""Reference-compatible CLI: the argparse surface of the three MeMAD
converters (ld_converter.py:24-29, pa_converter.py:24-29,
yle_converter.py:23-27) on top of the Spark engine.

    convert.py ld  -p data/ld  -o out/ -f file_flow_mapping.json [-k]
    convert.py pa  -p data/pa  -o out/ -f ... -s data/asr [-k]
    convert.py yle -p data/yle -o out/ -f ... [-k]
    convert.py all -p data/    -o out/ [-f ...] [-s ...] [-k]

Inputs are the RAW reference layouts (latin-1 ';' CSVs, MAObject XML,
Vocapia ASR XML, flow JSON) — no pre-conversion. Outputs mirror the
reference's files: ld.ttl / ld_sujets.ttl / ld_flow_filenames.ttl /
pa.ttl / pa_subtitles.ttl / pa_flow_filenames.ttl / yle_<dataset>.ttl /
yle_flow_filenames.ttl (real Turtle with the reference's prefix
bindings), plus -k mapping CSVs (ina_ld_mapping.csv etc.).
"""

from __future__ import annotations

import argparse
import os
import sys

# graph name in the engine's triple table -> reference output file
_TTL_NAMES = {
    "ld": "ld.ttl",
    "ld_sujets": "ld_sujets.ttl",
    "ld_flow": "ld_flow_filenames.ttl",
    "pa": "pa.ttl",
    "pa_subtitles": "pa_subtitles.ttl",
    "pa_flow": "pa_flow_filenames.ttl",
    "yle": "yle.ttl",  # per-dataset split handled below
    "yle_flow": "yle_flow_filenames.ttl",
}

_KIND_GRAPHS = {
    "ld": ["ld", "ld_sujets", "ld_flow"],
    "pa": ["pa", "pa_subtitles", "pa_flow"],
    "yle": ["yle", "yle_flow"],
}

# converter -> (lineage table, reference mapping CSV), written with -k
_MAPPING_CSVS = {
    "ld": ("lineage_ld", "ina_ld_mapping.csv"),
    "pa": ("lineage_pa", "ina_pa_mapping.csv"),
    "yle": ("lineage_yle", "yle_mapping.csv"),
}


def main(argv=None):
    ap = argparse.ArgumentParser(description="MeMAD Converter (Spark)")
    ap.add_argument("converter", choices=["ld", "pa", "yle", "all"])
    ap.add_argument("-p", "--path", required=True,
                    help="file or folder to process (reference layout)")
    ap.add_argument("-o", "--output", required=True,
                    help="directory for the TTL output")
    ap.add_argument("-f", "--flow_mapping", default=None,
                    help="filename -> Flow identifier JSON mapping")
    ap.add_argument("-s", "--subtitles", default=None,
                    help="ASR subtitles folder (pa)")
    ap.add_argument("-k", "--keep_mappings", action="store_true",
                    help="write programme->URI mapping CSVs")
    ap.add_argument("--master", default="local[*]")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    existing = SparkSession.getActiveSession()
    spark = existing or (
        SparkSession.builder.master(args.master)
        .appName("rdf-converter-spark-cli")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    try:
        from rdf_converter_spark.pipelines.fused import parse_all
        from rdf_converter_spark.pipelines.runner import (assemble_triples,
                                                          lineage_tables)
        from rdf_converter_spark.operators.export import to_turtle_pretty
        from rdf_converter_spark.sources.ingest import ingest_reference_layout
        from rdf_converter_spark.sources.route import route

        kinds = {}
        if args.converter in ("ld", "all"):
            kinds["ld"] = args.path if args.converter == "ld" else \
                os.path.join(args.path, "ld")
        if args.converter in ("pa", "all"):
            kinds["pa"] = args.path if args.converter == "pa" else \
                os.path.join(args.path, "pa")
            kinds["asr"] = args.subtitles or (
                os.path.join(args.path, "asr")
                if args.converter == "all" else None
            )
        if args.converter in ("yle", "all"):
            kinds["yle"] = args.path if args.converter == "yle" else \
                os.path.join(args.path, "yle")
        web = ingest_reference_layout(
            spark,
            ld=kinds.get("ld"),
            pa=kinds.get("pa"),
            yle=kinds.get("yle"),
            asr=kinds.get("asr"),
            flow=args.flow_mapping,
        )
        from rdf_converter_spark.operators.emit import dedup_triples
        from rdf_converter_spark.terms import TRIPLE_KEY

        # one parse feeds the triples and the mapping CSVs
        parsed = parse_all(route(web)).localCheckpoint(eager=True)
        lineage = lineage_tables(parsed)
        # dedup within (graph, yle dataset): the engine's global
        # (graph, triple) dedup keeps ONE survivor with an arbitrary
        # src_url, so a triple emitted by pages in two yle datasets
        # would land in only one dataset's .ttl nondeterministically —
        # the reference re-emits it in every dataset's graph
        # (yle_converter.py:545-546; ADVICE r2). _ds is null outside
        # the yle graph, so ld/pa dedup keys are unchanged.
        raw = assemble_triples(spark, parsed, lineage, dedup=False)
        ds_of = F.when(
            F.col("graph") == "yle", F.split("src_url", "/").getItem(4)
        )
        triples = (
            dedup_triples(raw.withColumn("_ds", ds_of),
                          within=("graph", "_ds"))
            .drop("_ds")
            .persist()
        )

        os.makedirs(args.output, exist_ok=True)
        wanted = (
            sum(_KIND_GRAPHS.values(), []) if args.converter == "all"
            else _KIND_GRAPHS[args.converter]
        )
        graphs = [
            r["graph"] for r in
            triples.select("graph").distinct().collect()
            if r["graph"] in wanted
        ]
        for g in sorted(graphs):
            gt = triples.filter(F.col("graph") == g)
            if g == "yle":
                # reference emits one TTL per yle dataset
                # (yle_converter.py:545-546); dataset is encoded in the
                # page url: <base>/yle/<dataset>/<file>/<row>.
                # Dataset-independent rows (null src_url: the vocab
                # seeds) belong in EVERY dataset graph, as each
                # reference dataset pass re-seeds its own graph.
                ds_col = F.split(F.col("src_url"), "/").getItem(4)
                datasets = [
                    r[0] for r in gt.select(ds_col.alias("ds")).distinct()
                    .collect() if r[0]
                ] or ["data"]
                for ds in datasets:
                    # a triple can survive twice (once per dataset, or
                    # dataset + null-src vocab seed): collapse within
                    # this dataset's slice before writing
                    sliced = gt.filter(
                        (ds_col == ds) | ds_col.isNull()
                    ).dropDuplicates(TRIPLE_KEY)
                    path = os.path.join(args.output, "yle_%s.ttl" % ds)
                    n = to_turtle_pretty(sliced, path)
                    print("saved %s (%d triples)" % (path, n))
                continue
            path = os.path.join(args.output, _TTL_NAMES.get(g, g + ".ttl"))
            n = to_turtle_pretty(gt, path)
            print("saved %s (%d triples)" % (path, n))

        if args.keep_mappings:
            for kind, (table, name) in _MAPPING_CSVS.items():
                if args.converter in (kind, "all"):
                    path = os.path.join(args.output, name)
                    lineage[table].toPandas().to_csv(path, index=False)
                    print("saved %s" % path)
        return 0
    finally:
        if existing is None:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
