# -*- coding: utf-8 -*-
"""Incremental triple extraction with Structured Streaming.

The reference is strictly batch (full rematerialization per run); the
web-scale generalization processes newly crawled pages as they land.
``stream_triples_upsert`` reads the web_pages location with
``readStream`` and, per micro-batch, runs the batch volume path
(route -> parse -> emit) and merges the batch's triples into a
bucketed triple store (``merge_batch``). The stream's checkpoint makes
each input file count once: a restarted stream reads only the files it
has not committed.

The volume path is narrower than a ``job.py`` build: it emits the
program, PA and Yle triples, but no segment-time, flow-link or
subtitle triples (``build_triples_extraction`` skips the lineage-table
branches those need), so the maintained store lacks them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.emit import dedup_triples
from ..pipelines.runner import build_triples_extraction
from ..sources.route import route
from ..sources.web_pages import WEB_PAGES_SCHEMA

KEY = ["subj", "pred"]


def merge_batch(base: DataFrame, delta: DataFrame,
                pages: DataFrame) -> DataFrame:
    """Merge one batch's triples (``delta``, each row tagged with the
    ``src_url`` of a page that emitted it) into the store rows ``base``.

    ``pages`` holds the batch's page urls (one ``src_url`` column). A
    (subj, pred) group the batch re-states is REPLACED by the batch's
    rows when every stored row of it came from a page of this batch
    (a re-crawl updates its entity's triples in place); a group that
    also holds rows from pages outside the batch — an agent's roles,
    a collection's parts, a channel's labels, stated by many pages —
    keeps them and gains the batch's rows. New pages therefore only
    add triples: a store fed the corpus in batches holds the triples
    of the whole corpus. Rows are unique on (graph, triple key).

    Only the stored rows of re-stated groups are checked against the
    page set, and the batch-sized key sets are broadcast; the final
    dedup shuffles the touched buckets, not the store. Limit: a stored
    triple records one page, so a value that a re-crawled page no
    longer states survives in a group other pages also state."""
    keys = delta.select(*KEY).distinct()
    restated = base.join(F.broadcast(keys), KEY, "left_semi")
    shared = (
        restated.join(F.broadcast(pages), "src_url", "left_anti")
        .select(*KEY).distinct()
    )
    # shared is a subset of keys: batch-sized like them
    replaced = keys.join(F.broadcast(shared), KEY, "left_anti")
    kept = base.join(F.broadcast(replaced), KEY, "left_anti")
    return dedup_triples(kept.unionByName(delta))


def stream_triples_upsert(
    spark: SparkSession,
    web_pages_path: str,
    out_dir: str,
    n_buckets: int = 16,
    max_files_per_trigger: int = 64,
):
    """Incremental extraction that MAINTAINS a triple store: each
    micro-batch's triples merge into the store (``merge_batch``) —
    re-crawled pages update their entity's triples in place, new pages
    add theirs, and the store holds no duplicate rows.

    Scale shape: the store is hash-bucketed on ``subj`` and written
    with DYNAMIC partition overwrite, so a micro-batch rewrites only
    the buckets its delta touches — never the whole store (at 10^12
    docs a batch touches a bounded set of buckets; per-batch cost is
    O(delta + touched buckets), the same contract as an Iceberg
    MERGE). The merged frame is localCheckpointed before the write:
    it breaks the plan's lineage to the store files, which Spark
    otherwise (correctly) refuses to overwrite while reading.

    Caveat: a batch whose merge leaves a touched bucket EMPTY writes
    no partition for it and dynamic overwrite leaves the stale bucket
    in place — impossible here (every touched bucket holds rows of the
    batch itself), but a deployment adding deletes needs the Iceberg
    MERGE path.
    """
    reader = (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(web_pages_path)
    )
    store = os.path.join(out_dir, "triples_store")
    ckpt_path = os.path.join(out_dir, "_upsert_checkpoint")

    def _store_exists(s) -> bool:
        # a committed bucket partition, not a root _SUCCESS: dynamic
        # partition overwrite never writes the root marker, so that
        # check sent every batch down the "no store yet" branch and
        # each batch replaced the store. Hadoop FS, not os.path: the
        # store may live on hdfs:///s3a://, where a driver-local stat
        # is always False. Uncommitted output sits in a hidden
        # .spark-staging-* directory, which the glob does not match.
        jvm = s.sparkContext._jvm
        conf = s.sparkContext._jsc.hadoopConfiguration()
        pattern = jvm.org.apache.hadoop.fs.Path(
            os.path.join(store, "bucket=*")
        )
        found = pattern.getFileSystem(conf).globStatus(pattern)
        return bool(found) and any(st.isDirectory() for st in found)

    def process_batch(batch_df, batch_id: int):
        s = batch_df.sparkSession
        exists = _store_exists(s)
        # the merge reads the batch twice (the parse and the page set)
        # and the delta twice (the touched buckets and the merge): both
        # are persisted (persist returns the frame itself), so each is
        # computed once. The routed batch is kept, not the raw one: it
        # holds the decoded payload without the page markup (99 kB
        # against 143 kB cached for a 108-page fixture file)
        routed = route(batch_df)
        cached = [routed.persist()] if exists else []
        try:
            delta = build_triples_extraction(s, routed).withColumn(
                "bucket", F.pmod(F.xxhash64("subj"), F.lit(n_buckets))
            )
            if exists:
                cached.append(delta.persist())
                touched = [
                    r["bucket"]
                    for r in delta.select("bucket").distinct().collect()
                ]
                base = s.read.parquet(store).filter(
                    F.col("bucket").isin(touched)
                )
                pages = routed.select(F.col("url").alias("src_url")).distinct()
                merged = merge_batch(base, delta, pages)
            else:
                merged = delta.dropDuplicates()
            merged = merged.localCheckpoint(eager=True)
        finally:
            for df in cached:
                df.unpersist()
        (
            merged.write.partitionBy("bucket")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(store)
        )

    return (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt_path)
        .trigger(availableNow=True)
        .start()
    )
