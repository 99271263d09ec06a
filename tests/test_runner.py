# -*- coding: utf-8 -*-
"""Full-pipeline runner: end-to-end equality with ALL golden graphs,
resume-from-checkpoint identity, lineage/metrics presence."""

import json
import os
import shutil

from conftest import collect_triples
from golden import diff_report, golden_triples, precision_recall


def test_full_pipeline_and_resume(spark, corpus, golden_outputs, tmp_path_factory):
    from rdf_converter_spark.pipelines.runner import run_pipeline

    work = str(tmp_path_factory.mktemp("runner_work"))
    out = run_pipeline(spark, os.path.join(corpus, "web_pages"), work)
    mine = collect_triples(out["triples"])

    golden = golden_triples(golden_outputs)  # union of every graph
    p, r = precision_recall(mine, golden)
    assert p == 1.0 and r == 1.0, (
        "P=%.4f R=%.4f\n%s" % (p, r, diff_report(mine, golden))
    )

    # metrics + per-partition lineage written
    metrics = json.load(open(os.path.join(work, "_metrics.json")))
    stages = {m["stage"] for m in metrics}
    assert {"routed", "triples", "lineage_ld"} <= stages
    assert all(m["rows"] >= 0 for m in metrics)
    assert os.path.exists(os.path.join(work, "_lineage", "triples.json"))

    # simulate a crash after the parse stages: delete downstream
    # outputs, rerun, assert identical final table and that upstream
    # stages were resumed (not recomputed)
    shutil.rmtree(os.path.join(work, "triples"))
    out2 = run_pipeline(spark, os.path.join(corpus, "web_pages"), work)
    mine2 = collect_triples(out2["triples"])
    assert mine2 == mine
    metrics2 = json.load(open(os.path.join(work, "_metrics.json")))
    resumed = {m["stage"] for m in metrics2 if m["resumed"]}
    assert "routed" in resumed and "parsed_docs" in resumed
    recomputed = {m["stage"] for m in metrics2 if not m["resumed"]}
    assert recomputed == {"triples"}


def test_inmem_fused_equals_staged(spark, corpus, golden_outputs):
    """The fused single-pass parse (build_triples_inmem, the bench /
    streaming shape) must emit exactly the golden triple set — same
    gate as the staged runner."""
    from rdf_converter_spark.pipelines.runner import build_triples_inmem
    from rdf_converter_spark.sources.route import route
    from rdf_converter_spark.sources.web_pages import read_web_pages

    routed = route(read_web_pages(spark, os.path.join(corpus, "web_pages")))
    mine = collect_triples(build_triples_inmem(spark, routed))
    golden = golden_triples(golden_outputs)
    p, r = precision_recall(mine, golden)
    assert p == 1.0 and r == 1.0, (
        "P=%.4f R=%.4f\n%s" % (p, r, diff_report(mine, golden))
    )


def test_lineage_footer_reads_are_not_on_the_driver(spark, tmp_path,
                                                    monkeypatch):
    """_record must read parquet footers on the EXECUTORS: driver-side
    pyarrow calls must stay at ZERO however many files a stage writes
    (the r02 sequential driver loop became the stall at millions of
    files). Python workers are separate processes, so patching the
    driver's pyarrow proves where the reads run. Also pins the ADVICE
    r02 lineage semantics: partition_id == write-task id, partitions
    metric == distinct tasks (not files) under partition_by."""
    import pyarrow.parquet as pq

    from rdf_converter_spark.plans.checkpoint import StageRunner

    calls = []
    orig = pq.ParquetFile

    def spy(*a, **kw):
        calls.append(a)
        return orig(*a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", spy)

    runner = StageRunner(spark, str(tmp_path / "work"), resume=False)
    from pyspark.sql import functions as F

    df = runner.stage(
        "st",
        lambda: spark.range(100).repartition(4).withColumn(
            "g", (F.col("id") % 2).cast("string")
        ),
        partition_by=["g"],
    )
    assert df.count() == 100
    assert calls == []  # zero driver-side footer reads

    lineage = [
        json.loads(line)
        for line in open(
            os.path.join(str(tmp_path / "work"), "_lineage", "st.json")
        )
    ]
    assert sum(p["rows"] for p in lineage) == 100
    # 4 write tasks x 2 partition values -> more files than tasks
    tasks = {p["partition_id"] for p in lineage}
    assert all(t >= 0 for t in tasks)
    m = runner.metrics[-1]
    assert m["partitions"] == len(tasks)
    assert m["files"] == len(lineage)
    assert m["files"] > m["partitions"]


def test_resumed_stage_reuses_lineage_without_rewrite(spark, tmp_path):
    """ADVICE r03: a resumed stage must not launch a footer-read job
    or rewrite its lineage JSON — the original run's rows are reused
    byte-identically (mtime unchanged), and the metrics entry carries
    the same totals with seconds=0/resumed=True."""
    import json
    import os

    from rdf_converter_spark.plans.checkpoint import StageRunner

    work = str(tmp_path / "w")
    r1 = StageRunner(spark, work)
    r1.stage("st", lambda: spark.range(50).repartition(4))
    lpath = os.path.join(work, "_lineage", "st.json")
    stat1 = os.stat(lpath)

    r2 = StageRunner(spark, work)
    r2.stage("st", lambda: spark.range(1))
    stat2 = os.stat(lpath)
    assert (stat1.st_mtime_ns, stat1.st_size) == \
        (stat2.st_mtime_ns, stat2.st_size)
    m = r2.metrics[-1]
    assert m["resumed"] and m["seconds"] == 0.0
    assert m["rows"] == 50
    with open(lpath) as fh:
        per_part = [json.loads(ln) for ln in fh if ln.strip()]
    assert m["files"] == len(per_part)
    assert m["partitions"] == len({p["partition_id"] for p in per_part})


def _digest(df):
    """(rows, order-independent hash sum) of a triple table."""
    from pyspark.sql import functions as F

    cols = ["graph", "subj", "pred", "obj", "obj_is_uri", "obj_lang",
            "obj_datatype"]
    row = df.select(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return row["n"], row["h"]


def test_resume_recomputes_only_the_deleted_stage(spark, corpus,
                                                  tmp_path_factory):
    """Crash after every stage but ``triples``: a rerun with
    resume=True reads the completed stages back (the single
    ``parsed_docs`` parse stage included), recomputes ``triples`` alone
    and yields the identical table."""
    from rdf_converter_spark.pipelines.runner import run_pipeline

    pages = os.path.join(corpus, "web_pages")
    work = str(tmp_path_factory.mktemp("resume_work"))
    first = _digest(run_pipeline(spark, pages, work, resume=False)["triples"])
    assert first[0] > 1000

    metrics = json.load(open(os.path.join(work, "_metrics.json")))
    assert [m["stage"] for m in metrics] == [
        "routed", "parsed_docs", "parsed_flow", "lineage_ld",
        "pa_derived", "lineage_pa", "lineage_yle", "triples",
    ]

    shutil.rmtree(os.path.join(work, "triples"))
    again = run_pipeline(spark, pages, work, resume=True)
    assert _digest(again["triples"]) == first
    metrics = json.load(open(os.path.join(work, "_metrics.json")))
    resumed = {m["stage"] for m in metrics if m["resumed"]}
    assert {"routed", "parsed_docs"} <= resumed
    assert {m["stage"] for m in metrics if not m["resumed"]} == {"triples"}


def test_lineage_rows_equal_footer_counts(spark, tmp_path):
    """On a partition_by stage every lineage row names one committed
    file, and its ``rows`` equals that file's parquet footer count."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from rdf_converter_spark.plans.checkpoint import StageRunner

    work = str(tmp_path / "work")
    runner = StageRunner(spark, work, resume=False)
    runner.stage(
        "st",
        lambda: spark.range(1000).repartition(3).withColumn(
            "g", (F.col("id") % 5).cast("string")
        ).filter((F.col("id") % 7) != 3),
        partition_by=["g"],
    )
    root = os.path.join(work, "st")
    lineage = [json.loads(line) for line in
               open(os.path.join(work, "_lineage", "st.json"))]
    footers = {
        os.path.relpath(os.path.join(d, f), root):
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _, names in os.walk(root)
        for f in names if f.endswith(".parquet")
    }
    assert {p["file"] for p in lineage} == set(footers)
    for p in lineage:
        assert p["rows"] == footers[p["file"]], p
    assert runner.metrics[-1]["rows"] == 1000 - 143


def test_lineage_rejects_rows_outside_the_committed_files(spark, tmp_path):
    """A counted file the stage's file index does not list means the
    directory changed under the read: _record raises instead of
    writing lineage that does not add up."""
    import pytest

    from rdf_converter_spark.plans.checkpoint import StageRunner

    work = str(tmp_path / "work")
    runner = StageRunner(spark, work, resume=False)
    runner._write(spark.range(100).repartition(2), "st", None)
    df = spark.read.parquet(os.path.join(work, "st"))
    listed = df.inputFiles()
    assert len(listed) == 2
    df.inputFiles = lambda: listed[:1]
    with pytest.raises(RuntimeError, match="outside its committed output"):
        runner._record("st", df, seconds=0.0, resumed=False)


def test_resume_on_new_inputs_recomputes_every_stage(spark, tmp_path_factory):
    """A work dir built from corpus A, rerun with resume=True on
    corpus B: every stage is recomputed (the fingerprint's input listing
    changed, and ``_run.json`` says so) and the result is B's fresh
    table, not A's; a second rerun on B resumes every stage."""
    from fixtures.generator import build_corpus
    from rdf_converter_spark.pipelines.runner import run_pipeline

    pages = {}
    for name, seed in (("a", 1), ("b", 2)):
        root = str(tmp_path_factory.mktemp("corpus_" + name))
        build_corpus(root, n_ld=12, n_pa=8, n_yle=4, n_asr=2, seed=seed,
                     write_reference_layout=False)
        pages[name] = os.path.join(root, "web_pages")
    work = str(tmp_path_factory.mktemp("stale_work"))
    fresh_b = _digest(run_pipeline(
        spark, pages["b"], str(tmp_path_factory.mktemp("fresh_b")),
        resume=False)["triples"])
    first = _digest(run_pipeline(spark, pages["a"], work)["triples"])
    assert first != fresh_b

    def stages():
        metrics = json.load(open(os.path.join(work, "_metrics.json")))
        return {m["stage"]: m["resumed"] for m in metrics}

    assert _digest(run_pipeline(spark, pages["b"], work)["triples"]) == fresh_b
    assert not any(stages().values())
    run = json.load(open(os.path.join(work, "_run.json")))
    assert run["recomputed"] == "fingerprint changed: inputs"
    assert len(run["stages"]) == 8

    assert _digest(run_pipeline(spark, pages["b"], work)["triples"]) == fresh_b
    assert all(stages().values()) and len(stages()) == 8
    run = json.load(open(os.path.join(work, "_run.json")))
    assert run["recomputed"] is None


def test_resume_after_an_override_mapping_change_recomputes_every_stage(
        spark, tmp_path, monkeypatch):
    """The vocabularies ``MEMAD_MAPPINGS_DIR`` overrides are part of
    the run fingerprint: an unchanged override resumes every stage, an
    edited one recomputes them all and ``_run.json`` says why."""
    from fixtures.generator import build_corpus
    from rdf_converter_spark import mappings
    from rdf_converter_spark.pipelines.runner import run_pipeline

    build_corpus(str(tmp_path / "corpus"), n_ld=4, n_pa=4, n_yle=2,
                 n_asr=1, write_reference_layout=False)
    pages = str(tmp_path / "corpus" / "web_pages")
    override = tmp_path / "mappings"
    override.mkdir()
    table = dict(mappings.load("yle_channel2code"))
    (override / "yle_channel2code.json").write_text(json.dumps(table))
    monkeypatch.setenv("MEMAD_MAPPINGS_DIR", str(override))
    work = str(tmp_path / "work")

    def run():
        run_pipeline(spark, pages, work)
        metrics = json.load(open(os.path.join(work, "_metrics.json")))
        run = json.load(open(os.path.join(work, "_run.json")))
        return [m["resumed"] for m in metrics], run["recomputed"]

    try:
        assert run() == ([False] * 8, "no _run.json in the work dir")
        assert run() == ([True] * 8, None)
        table["unused-test-channel"] = "x"
        (override / "yle_channel2code.json").write_text(json.dumps(table))
        assert run() == ([False] * 8, "fingerprint changed: mappings")
    finally:
        mappings.load.cache_clear()


def test_input_listing_digest_follows_the_files(spark, tmp_path):
    """``listing_sha1`` accepts a directory or a glob naming the same
    files with the same digest, and changes when a file changes."""
    from rdf_converter_spark.plans.checkpoint import listing_sha1

    d = tmp_path / "in"
    spark.range(10).repartition(2).write.parquet(str(d))
    first = listing_sha1(spark, str(d))
    assert listing_sha1(spark, str(d / "*.parquet")) == first
    part = sorted(d.glob("*.parquet"))[0]
    os.utime(part, ns=(0, part.stat().st_mtime_ns + 10**9))
    assert listing_sha1(spark, str(d)) != first


def test_package_digest_is_the_same_from_a_py_files_zip(tmp_path):
    """``package_sha1`` hashes the package it was imported from, also
    from the ``--py-files`` zip ``scripts/package.py`` builds — not a
    constant hash of nothing."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    try:
        import package
    finally:
        sys.path.pop(0)
    from rdf_converter_spark.plans.checkpoint import package_sha1

    zipped = package.build(str(tmp_path / "rdf_converter_spark.zip"))
    code = ("import sys; sys.path.insert(0, sys.argv[1]); "
            "from rdf_converter_spark.plans import checkpoint as c; "
            "assert '.zip' in c.__file__, c.__file__; "
            "print(c.package_sha1())")
    out = subprocess.run([sys.executable, "-c", code, zipped], cwd=tmp_path,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == package_sha1()
