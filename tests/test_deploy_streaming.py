# -*- coding: utf-8 -*-
"""Deployment (spark-submit --py-files) and streaming-incremental
pipeline tests."""

import glob
import json
import os
import shutil
import subprocess
import sys


def test_spark_submit_py_files(corpus, tmp_path):
    """The packaged job must run under a real spark-submit with the
    package shipped via --py-files (BASELINE north_star)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    import package

    zip_path = package.build(str(tmp_path / "rdf_converter_spark.zip"))
    spark_submit = shutil.which("spark-submit")
    assert spark_submit, "spark-submit not on PATH"

    # shapes file: one conformant shape (every PublicationChannel has
    # exactly one channel id) and one deliberately violated one
    # (max_count 0 on the same path) so the report is non-empty and
    # both outcomes are covered by a single submit.
    eb = "http://www.ebu.ch/metadata/ontologies/ebucore/ebucore#"
    shapes = [
        {"shape": "ChannelShape", "target_class": eb + "PublicationChannel",
         "property": [{"path": eb + "publicationChannelId",
                       "min_count": 1, "max_count": 1}]},
        {"shape": "NoChannelIdShape",
         "target_class": eb + "PublicationChannel",
         "property": [{"path": eb + "publicationChannelId",
                       "max_count": 0}]},
    ]
    shapes_path = str(tmp_path / "shapes.json")
    with open(shapes_path, "w") as fh:
        json.dump(shapes, fh)

    work = str(tmp_path / "work")
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zip_path,
            os.path.join(repo, "job.py"),
            "--input", os.path.join(corpus, "web_pages"),
            "--work", work,
            "--entail",
            "--validate", shapes_path,
        ],
        capture_output=True, text=True, timeout=420,
        cwd=str(tmp_path),  # anywhere: package must be self-contained
    )
    assert proc.returncode == 0, proc.stderr[-3000:]

    def stdout_int(prefix):
        lines = [l for l in proc.stdout.splitlines()
                 if l.startswith(prefix + "=")]
        assert lines, (prefix, proc.stdout[-2000:])
        return int(lines[0].split("=")[1])

    n_triples = stdout_int("TRIPLES")
    assert n_triples > 1000
    assert os.path.exists(os.path.join(work, "triples", "_SUCCESS"))
    n_entailed = stdout_int("ENTAILED_TRIPLES")
    n_viol = stdout_int("SHACL_VIOLATIONS")
    assert n_viol > 0
    import pyspark.sql

    spark = pyspark.sql.SparkSession.getActiveSession()
    if spark is not None:
        tr = spark.read.parquet(os.path.join(work, "triples"))
        # closure is a superset of the (graph-collapsed) input set
        distinct_spo = tr.select("subj", "pred", "obj").distinct().count()
        assert n_entailed >= distinct_spo
        rep = spark.read.parquet(os.path.join(work, "shacl_report"))
        assert rep.filter(rep.shape == "ChannelShape").count() == 0
        assert rep.filter(rep.shape == "NoChannelIdShape").count() == n_viol
    else:
        assert n_entailed > 1000


def test_streaming_incremental(spark, corpus, tmp_path):
    """Two micro-batches of newly-arrived pages -> appended triples,
    exactly-once per input file via the stream checkpoint."""
    from rdf_converter_spark.streaming.incremental import stream_triples

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    parts = sorted(glob.glob(os.path.join(corpus, "web_pages", "*.parquet")))
    assert parts
    shutil.copy(parts[0], src)

    out = str(tmp_path / "stream_out")
    q = stream_triples(spark, src, out, trigger_once=True)
    q.awaitTermination(300)
    sink = os.path.join(out, "triples_stream")
    n1 = spark.read.parquet(sink).count()
    assert n1 > 1000

    # batch 2: the same file again must NOT reprocess (checkpoint);
    # a genuinely new file must
    shutil.copy(parts[0], os.path.join(src, "again.parquet"))
    q = stream_triples(spark, src, out, trigger_once=True)
    q.awaitTermination(300)
    n2 = spark.read.parquet(sink).count()
    assert n2 > n1  # new file processed
    # same content twice -> extraction emits the same distinct set per
    # batch, so batch2 appended at most n1 rows
    assert n2 <= 2 * n1


def test_salted_repartition_balances_hub_key(spark):
    """Skew guard (SURVEY §5.6): one key holding 50% of rows must not
    land in one partition after salting."""
    from pyspark.sql import functions as F

    from rdf_converter_spark.operators.salt import salted_repartition

    rows = [("hub",)] * 5000 + [("k%d" % i,) for i in range(5000)]
    df = spark.createDataFrame(rows, "k string")
    out = salted_repartition(df, ["k"], num_salts=16, num_partitions=16)
    sizes = [
        r["count"]
        for r in out.groupBy(F.spark_partition_id().alias("p"))
        .count().collect()
    ]
    assert len(sizes) > 4
    assert max(sizes) < 0.25 * sum(sizes), sizes


def test_streaming_upsert_store(spark, corpus, tmp_path):
    """Maintained-store streaming: a re-delivered (re-crawled,
    unchanged) page batch must leave the bucketed triple store
    IDENTICAL (upsert replaces each (subj, pred) group with the same
    content) — not grow it like the append sink; and the final store
    must equal the batch extraction's distinct triple set."""
    from pyspark.sql import functions as F

    from rdf_converter_spark.pipelines.runner import build_triples_extraction
    from rdf_converter_spark.sources.route import route
    from rdf_converter_spark.streaming.incremental import (
        stream_triples_upsert,
    )

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    parts = sorted(glob.glob(os.path.join(corpus, "web_pages", "*.parquet")))
    shutil.copy(parts[0], src)

    out = str(tmp_path / "store_out")
    store = os.path.join(out, "triples_store")
    q = stream_triples_upsert(spark, src, out)
    q.awaitTermination(300)
    # batch triple set over the same pages == the maintained store
    batch = build_triples_extraction(
        spark, route(spark.read.parquet(os.path.join(src, "*.parquet")))
    ).dropDuplicates()
    cols = [c for c in batch.columns]
    # materialize NOW: the second stream run below replaces the
    # store's files and a lazy plan over them would fail to re-read
    rows1 = sorted(
        map(tuple, spark.read.parquet(store).select(cols).collect())
    )
    n1 = len(rows1)
    assert n1 > 1000
    assert rows1 == sorted(map(tuple, batch.collect()))

    # re-delivery: same content under a new name -> store unchanged
    shutil.copy(parts[0], os.path.join(src, "recrawl.parquet"))
    q = stream_triples_upsert(spark, src, out)
    q.awaitTermination(300)
    rows2 = sorted(
        map(tuple, spark.read.parquet(store).select(cols).collect())
    )
    assert len(rows2) == n1
    assert rows2 == rows1


def test_streaming_upsert_batches_add_up_to_batch_extraction(
        spark, tmp_path_factory):
    """New pages only add triples: a corpus fed to the maintained
    store in 2-3 micro-batches, no page delivered twice, leaves the
    store holding exactly the distinct triples ``build_triples_extraction``
    gives over all the pages at once. Each source file (an LD/PA export
    CSV, a Yle XML file) goes to one batch as a whole: the PA heure
    carry (quirk F14) reads the previous rows of the same file, which a
    batch that holds only part of the file does not see."""
    import pyarrow.parquet as pq
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fixtures.generator import build_corpus
    from rdf_converter_spark.pipelines.runner import build_triples_extraction
    from rdf_converter_spark.sources.route import route
    from rdf_converter_spark.sources.web_pages import (
        read_web_pages, unwrap_html,
    )
    from rdf_converter_spark.streaming.incremental import (
        stream_triples_upsert,
    )
    from rdf_converter_spark.terms import TRIPLE_KEY

    cols = ["graph"] + list(TRIPLE_KEY)

    @settings(max_examples=2, deadline=None, derandomize=True)
    @given(seed=st.integers(0, 20), n_batches=st.integers(2, 3),
           data=st.data())
    def check(seed, n_batches, data):
        root = str(tmp_path_factory.mktemp("upsert_batches"))
        build_corpus(root, n_ld=24, n_pa=16, n_yle=6, n_asr=2, seed=seed,
                     write_reference_layout=False)
        table = pq.read_table(os.path.join(root, "web_pages"))
        source = [unwrap_html(h)[:3] for h in table.column("html").to_pylist()]
        files = sorted(set(source))
        batch_of = dict(zip(files, data.draw(
            st.lists(st.integers(0, n_batches - 1), min_size=len(files),
                     max_size=len(files))
            .filter(lambda a: len(set(a)) == n_batches),
            label="batch of each source file")))
        incoming = os.path.join(root, "incoming")
        os.makedirs(incoming)
        for b in range(n_batches):
            rows = [i for i, s in enumerate(source) if batch_of[s] == b]
            pq.write_table(table.take(rows), os.path.join(
                incoming, "part-%05d.parquet" % b))

        out = os.path.join(root, "out")
        stream_triples_upsert(spark, incoming, out,
                              max_files_per_trigger=1).awaitTermination(600)
        stored = spark.read.parquet(
            os.path.join(out, "triples_store")).select(cols).collect()
        expected = build_triples_extraction(
            spark, route(read_web_pages(spark, incoming))
        ).select(cols).collect()
        assert len(set(stored)) == len(stored)  # no duplicate rows
        assert set(stored) == set(expected)

    check()


def test_merge_batch_replaces_only_groups_of_recrawled_pages(spark):
    """A re-crawled page replaces the (subj, pred) groups only it
    states; a group other pages also state keeps their rows and gains
    the batch's; groups the batch does not re-state are untouched."""
    from rdf_converter_spark.streaming.incremental import merge_batch

    schema = ("graph string, subj string, pred string, obj string, "
              "obj_is_uri boolean, obj_lang string, obj_datatype string, "
              "src_url string")

    def rows(*spos):
        return spark.createDataFrame(
            [("g", s, p, o, False, None, None, u) for s, p, o, u in spos],
            schema)

    base = rows(("prog", "title", "old title", "A"),
                ("agent", "role", "camera", "A"),
                ("agent", "role", "sound", "B"),
                ("other", "title", "kept", "B"))
    delta = rows(("prog", "title", "new title", "A"),
                 ("agent", "role", "editor", "A"))
    pages = spark.createDataFrame([("A",)], "src_url string")
    got = {(r["subj"], r["pred"], r["obj"])
           for r in merge_batch(base, delta, pages).collect()}
    assert got == {
        ("prog", "title", "new title"),
        ("agent", "role", "camera"),
        ("agent", "role", "sound"),
        ("agent", "role", "editor"),
        ("other", "title", "kept"),
    }
