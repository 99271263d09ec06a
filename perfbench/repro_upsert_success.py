#!/usr/bin/env python3
"""Two-batch repro: ``stream_triples_upsert`` overwrites its store on every
micro-batch instead of merging into it.

    python3 perfbench/repro_upsert_success.py

The store is written with dynamic partition overwrite, which leaves no
``_SUCCESS`` marker at the store root. ``_store_exists`` looks for that
marker, so it is False on every batch, the merge branch never runs, and
each batch replaces the store with its own triples. After two one-file
batches the store holds the second batch's triples only.

Prints the counts and exits 1 while the bug is present (the store equals
batch 2 alone), 0 once the store has grown past it. An upsert replaces
the (subject, predicate) groups batch 2 re-states, so a fixed store may
hold fewer triples than the union of both batches. Writes only under
``.perfbench/`` of the checkout it runs from, and removes what it wrote;
do not run it while the benchmark runs in the same checkout.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SIZE = {"n_ld": 60, "n_pa": 40, "n_yle": 20, "n_asr": 4}


def main() -> int:
    from fixtures.generator import build_corpus

    from perfbench import host

    scratch = host.fresh_scratch()
    spark = None
    try:
        corpus = os.path.join(scratch, "corpus")
        build_corpus(corpus, seed=0, write_reference_layout=False,
                     n_files=2, **SIZE)
        pages = os.path.join(corpus, "web_pages")
        spark = host.start_session()

        from rdf_converter_spark.pipelines.runner import (
            build_triples_extraction,
        )
        from rdf_converter_spark.sources.route import route
        from rdf_converter_spark.sources.web_pages import read_web_pages
        from rdf_converter_spark.streaming.incremental import (
            stream_triples_upsert,
        )
        from rdf_converter_spark.terms import TRIPLE_KEY

        def extracted(path):
            return build_triples_extraction(
                spark, route(read_web_pages(spark, path))
            ).select(*TRIPLE_KEY).distinct().count()

        out = os.path.join(scratch, "upsert")
        stream_triples_upsert(spark, pages, out,
                              max_files_per_trigger=1).awaitTermination()
        store = os.path.join(out, "triples_store")
        stored = spark.read.parquet(store).select(*TRIPLE_KEY).distinct().count()
        both = extracted(pages)
        last = extracted(os.path.join(pages, "part-00001.parquet"))
        marker = os.path.exists(os.path.join(store, "_SUCCESS"))
        print("batches: 2 (one web_pages file each)")
        print("store triples after batch 2: %d" % stored)
        print("triples of both batches:     %d" % both)
        print("triples of batch 2 alone:    %d" % last)
        print("_SUCCESS at the store root:  %s" % marker)
        if stored == last:
            print("BUG: the store holds batch 2 only")
            return 1
        print("fixed: the store grew past batch 2")
        return 0
    finally:
        if spark is not None:
            spark.stop()
        host.drop_scratch()


if __name__ == "__main__":
    sys.exit(main())
