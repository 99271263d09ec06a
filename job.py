#!/usr/bin/env python
# -*- coding: utf-8 -*-
"""spark-submit entry point: web_pages -> triple/lineage/metrics tables.

Usage:
    spark-submit --py-files rdf_converter_spark.zip job.py \
        --input /data/web_pages --work /data/kg_run1 \
        [--no-resume] [--canonicalize] \
        [--mappings-dir /data/mappings]

The work dir accumulates one parquet sub-table per stage and doubles
as the checkpoint: rerun the same command after a failure and
completed stages are skipped.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv=None):
    ap = argparse.ArgumentParser(description="MeMAD-style KG construction")
    ap.add_argument("--input", required=True, help="web_pages table path")
    ap.add_argument("--work", required=True, help="stage/work directory")
    ap.add_argument("--no-resume", action="store_true",
                    help="recompute every stage")
    ap.add_argument("--canonicalize", action="store_true",
                    help="run alias connected-components and write the "
                         "canonical triple table + entity map")
    ap.add_argument("--mappings-dir", default=None,
                    help="controlled-vocabulary JSON directory")
    ap.add_argument("--entail", action="store_true",
                    help="materialize the RDFS closure (rho-df rules "
                         "over the schema triples already present in "
                         "the graph) into <work>/triples_entailed")
    ap.add_argument("--validate", default=None, metavar="SHAPES_JSON",
                    help="SHACL-lite shapes file (JSON list of shape "
                         "dicts, see operators/shacl.py); writes the "
                         "violation report to <work>/shacl_report")
    args = ap.parse_args(argv)

    if args.mappings_dir:
        os.environ["MEMAD_MAPPINGS_DIR"] = args.mappings_dir

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("rdf-converter-spark")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from rdf_converter_spark.pipelines.runner import run_pipeline

    out = run_pipeline(spark, args.input, args.work,
                       resume=not args.no_resume)
    # the triples stage's row count, as the stage runner counted it
    # after the write (or read it back on resume): no second scan
    with open(os.path.join(args.work, "_metrics.json")) as fh:
        n = next(m["rows"] for m in json.load(fh) if m["stage"] == "triples")
    print("TRIPLES=%d" % n)

    if args.canonicalize:
        from pyspark.sql import functions as F

        from rdf_converter_spark.operators.cc import (
            alias_edges_from_lineage,
            canonicalize_triples,
            connected_components,
        )

        lineage = (
            out["lineage_ld"].select("identifier", "uri")
            .unionByName(out["lineage_pa"].select("identifier", "uri"))
            .unionByName(out["lineage_yle"].select("identifier", "uri"))
        )
        edges = alias_edges_from_lineage(lineage)
        comps = connected_components(edges)
        comps.write.mode("overwrite").parquet(
            os.path.join(args.work, "entity_components")
        )
        canonical = canonicalize_triples(out["triples"], comps)
        canonical.write.mode("overwrite").partitionBy("graph").parquet(
            os.path.join(args.work, "triples_canonical")
        )
        print("CANONICAL_TRIPLES=%d" % spark.read.parquet(
            os.path.join(args.work, "triples_canonical")).count())

    if args.entail:
        from rdf_converter_spark.operators.rdfs import rdfs_entail

        entailed = rdfs_entail(
            out["triples"].select("subj", "pred", "obj", "obj_is_uri"),
            uri_flag="obj_is_uri",
        )
        dst = os.path.join(args.work, "triples_entailed")
        entailed.write.mode("overwrite").parquet(dst)
        print("ENTAILED_TRIPLES=%d" % spark.read.parquet(dst).count())

    if args.validate:
        from rdf_converter_spark.operators.shacl import shacl_report

        with open(args.validate, "r") as fh:
            shapes = json.load(fh)
        report = shacl_report(out["triples"], shapes)
        dst = os.path.join(args.work, "shacl_report")
        report.write.mode("overwrite").parquet(dst)
        print("SHACL_VIOLATIONS=%d" % spark.read.parquet(dst).count())

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
