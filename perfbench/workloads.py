"""The benchmark's workloads: inputs, setup, the measured operations, the
per-layer numbers of a traced phase and the tracing overhead.

``build_staged`` times ``pipelines.runner.run_pipeline(..., resume=False)``
into a fresh work dir: the ``job.py`` production path, one build in a
fresh JVM, as a ``spark-submit`` of ``job.py`` runs it. ``sparql_mix``
times a closed loop of SPARQL text through ``SparkGraph.query``/``.update``
over a seeded graph (``perfbench/kg.py``).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from . import checks, host
from . import trace as tr


def fused_build(spark, web_pages: str):
    """``build_triples_inmem`` over the corpus, materialized."""
    from rdf_converter_spark.pipelines import runner
    from rdf_converter_spark.sources.route import route
    from rdf_converter_spark.sources.web_pages import read_web_pages

    routed = route(read_web_pages(spark, web_pages))
    return runner.build_triples_inmem(spark, routed).localCheckpoint(
        eager=True)


@dataclass
class Sample:
    seconds: float
    cpu_s: float
    problems: list = field(default_factory=list)
    label: str = ""


class Workload:
    name = ""
    inputs = ""      # which generator of perfbench.corpus makes the input
    root_span = ""

    def __init__(self, spark, seed: int, path: str, size: int):
        self.spark = spark
        self.seed = seed
        self.path = path
        self.size = size   # pages of the corpus, or triples of the graph
        self.checked = []  # checks outside the measured samples
        self.digests = {}  # build path -> "rows:digest", for pinning
        self.jvm = host.jvm_pid(spark)

    def cycles(self, seconds: float) -> int:
        return 1

    def measure(self, seconds: float, tracer=None):
        """Closed loop over whole cycles (a build, or a pass of the mix).
        Their count depends on ``seconds`` only, not on how fast this run
        goes: latencies keep falling for dozens of cycles while the JIT
        settles, so a run that fitted one cycle more would read faster."""
        samples = []
        for _ in range(self.cycles(seconds)):
            samples.extend(self.cycle(tracer))
        return samples


class BuildStaged(Workload):
    """One cold staged build a run: the build is the first of its JVM, so
    it pays the plan, codegen, JIT and Python-worker start-up costs a
    production ``job.py`` run pays. A second build in the same JVM would
    be a different (warm) operation, so ``--seconds`` does not add
    builds."""

    name = "build_staged"
    inputs = "pages"
    root_span = "run_pipeline"

    def setup(self):
        self.builds = 0
        self.stage_metrics = []
        self.emitted = 0
        self.summary_ = None

    def instrument(self, tracer):
        tracer.patch_staged()

    def cycle(self, tracer=None):
        from rdf_converter_spark.pipelines.runner import run_pipeline

        work = os.path.join(host.SCRATCH, "work-%d" % self.builds)
        self.builds += 1
        span = tracer.span(self.root_span) if tracer else contextlib.nullcontext()
        c0 = host.cpu_s(self.jvm)
        t0 = time.perf_counter()
        with span:
            out = run_pipeline(self.spark, self.path, work, resume=False)
        seconds = time.perf_counter() - t0
        cpu = host.cpu_s(self.jvm) - c0
        with tr.job_group(self.spark.sparkContext, tr.BENCH):
            self.summary_ = checks.summarize(out["triples"])
            self.digests["staged"] = "%(rows)d:%(digest)s" % self.summary_
            if tracer is not None:
                with open(os.path.join(work, "_metrics.json")) as fh:
                    self.stage_metrics = json.load(fh)
                # rows entering the final dedup, read before the stage
                # tables they come from are deleted
                self.emitted = tracer.stash.pop("emitted").count()
        shutil.rmtree(work, ignore_errors=True)
        return [Sample(seconds, cpu,
                       checks.problems(self.summary_, self.seed), "build")]

    def trace_overhead(self, traced, seconds: float):
        """Two fused builds of the same corpus, untraced then traced: the
        tracing overhead is the traced wall over the untraced one. Each
        fused build is also the second parse path the staged build is
        checked against. The staged-only wrappers add a span per stage on
        top of what the traced fused build carries (a job group, the
        event-logging listener). The traced build runs second, in a JVM
        one build warmer, so the overhead reads low rather than high."""
        walls = []
        for traced_build in (False, True):
            tracer = (tr.Tracer(self.spark, os.path.join(
                host.SCRATCH, "eventlog-fused")) if traced_build else None)
            span = contextlib.nullcontext()
            if tracer is not None:
                tracer.start_event_log()
                span = tracer.span("build_triples_inmem", "pipelines")
            t0 = time.perf_counter()
            try:
                with span:
                    df = fused_build(self.spark, self.path)
            finally:
                walls.append(time.perf_counter() - t0)
                if tracer is not None:
                    tracer.stop_event_log()
            with tr.job_group(self.spark.sparkContext, tr.BENCH):
                summary = checks.summarize(df)
            self.digests["fused"] = "%(rows)d:%(digest)s" % summary
            self.checked.append(
                ["fused build: " + p for p in
                 checks.problems(summary, self.seed, self.summary_)])
            host.log("fused build %d: %.1f s" % (len(walls), walls[-1]))
        return walls[1] / walls[0] - 1.0, []

    def layer_metrics(self, tracer, log: tr.EventLog, n: int) -> dict:
        """Per-build layer numbers of the traced phase (``n`` builds; the
        ``_metrics.json`` figures and the dedup input are its last
        build's)."""
        spans = tracer.spans
        st = tr.self_times(spans)
        stages = self.stage_metrics
        reported = sum(s["seconds"] for s in stages)
        dedup = min(log.stage_seconds(log.shuffle_read_stages(
            "operators.emit")), st["operators.emit"])
        parse = {"pipelines.parse"}
        return {
            "sources.route_s": st["sources"] / n,
            "sources.records_read": log.task_metric(
                {"sources"}, "Input Metrics", "Records Read") / n,
            "pipelines.parse_s": st["pipelines.parse"] / n,
            "pipelines.parse_rows_out": sum(
                s["rows"] for s in stages if s["stage"].startswith("parsed_")),
            "pipelines.python_bytes_sent": log.accum(
                parse, "data sent to Python workers") / n,
            "pipelines.python_bytes_received": log.accum(
                parse, "data returned from Python workers") / n,
            "pipelines.derive_s": st["pipelines.derive"] / n,
            "pipelines.plan_build_s": st["pipelines.plan_build"] / n,
            "operators.emit.emit_s": (st["operators.emit"] - dedup) / n,
            "operators.emit.dedup_s": dedup / n,
            "operators.emit.triples_emitted": self.emitted,
            "operators.emit.dedup_ratio":
                self.summary_["rows"] / self.emitted,
            "operators.emit.shuffle_bytes": log.task_metric(
                {"operators.emit"}, "Shuffle Write Metrics",
                "Shuffle Bytes Written") / n,
            "operators.emit.shuffle_skew": log.reduce_skew("operators.emit"),
            "plans.checkpoint.stage_s": reported,
            "plans.checkpoint.harvest_s":
                tr.total(spans, "plans.checkpoint") / n - reported,
            "plans.checkpoint.self_s": st["plans.checkpoint"] / n,
            "plans.checkpoint.bytes_written": log.task_metric(
                None, "Output Metrics", "Bytes Written") / n,
            "plans.checkpoint.files_written": sum(s["files"] for s in stages),
            "plans.checkpoint.jobs": log.jobs("plans.checkpoint") / n,
        }

    def summary(self, lat_ms: list) -> dict:
        build_s = statistics.median(lat_ms) / 1e3
        return {"build_s": build_s,
                "triples_per_s": self.summary_["rows"] / build_s,
                "distinct_triples": self.summary_["rows"]}


class SparqlMix(Workload):
    name = "sparql_mix"
    inputs = "graph"
    root_span = "query"
    cycle_s = 6.0  # --seconds per measured pass; a pass takes 2-6 s here
    warmup_passes = 2

    def cycles(self, seconds: float) -> int:
        return max(1, round(seconds / self.cycle_s))

    def setup(self):
        import duckdb

        from rdf_converter_spark.graph import SparkGraph

        from . import mix

        con = duckdb.connect()
        try:
            con.execute("SET threads TO %d" % host.nproc())
            con.execute("CREATE VIEW t AS SELECT * FROM read_parquet('%s')"
                        % self.path)
            point = con.execute(
                "SELECT min(subj) FROM t WHERE pred = ? AND obj = ?",
                [mix.RDF_TYPE, mix.EB + "TVProgramme"]).fetchone()[0]
            self.ops = mix.build_mix(point)
            self.expected = {op.name: mix.twin(con, op) for op in self.ops}
        finally:
            con.close()
        with tr.job_group(self.spark.sparkContext, tr.BENCH):
            table = self.spark.read.parquet(self.path).cache()
            self.graph_triples = table.count()
        self.checked.append([] if self.graph_triples == self.size else [
            "graph: Spark reads %d triples, the generator wrote %d"
            % (self.graph_triples, self.size)])
        self.graph = SparkGraph(table)
        host.log("graph and DuckDB twins ready")
        # untimed passes: the first compiles every query shape, the
        # second lets the JIT catch up with them
        for _ in range(self.warmup_passes):
            self.checked.extend(s.problems for s in self.cycle())
        host.log("warm-up passes done")

    def instrument(self, tracer):
        tracer.patch_sparql()

    def cycle(self, tracer=None):
        from . import mix

        out = []
        for op in self.ops:
            span = (tracer.span(self.root_span, op=op.name) if tracer
                    else contextlib.nullcontext())
            consume = (
                (lambda: tracer.span("operators.bgp", "operators.bgp"))
                if tracer else contextlib.nullcontext)
            c0 = host.cpu_s(self.jvm)
            t0 = time.perf_counter()
            with span:
                got = mix.run_op(self.graph, op, consume)
            seconds = time.perf_counter() - t0
            cpu = host.cpu_s(self.jvm) - c0
            bad = [] if got == self.expected[op.name] else [
                "%s: result differs from its DuckDB twin" % op.name]
            out.append(Sample(seconds, cpu, bad, op.name))
        return out

    def trace_overhead(self, traced, seconds: float):
        """The same passes again, untraced; the traced mean over this
        one. The untraced passes run second and are the warmer ones, so
        the overhead reads high rather than low."""
        plain = self.measure(seconds)
        mean = statistics.fmean
        return (mean(s.seconds for s in traced)
                / mean(s.seconds for s in plain) - 1.0, plain)

    def layer_metrics(self, tracer, log: tr.EventLog, n: int) -> dict:
        """Per-query layer numbers of the traced phase (``n`` queries)."""
        spans = tracer.spans
        st = tr.self_times(spans)
        bgp = {"operators.bgp"}
        return {
            "operators.sparql_text.parse_ms":
                st["operators.sparql_text.parse"] * 1e3 / n,
            "operators.sparql_text.lower_ms":
                st["operators.sparql_text.lower"] * 1e3 / n,
            "operators.bgp.exec_ms": st["operators.bgp"] * 1e3 / n,
            "operators.bgp.jobs_per_query": log.jobs("operators.bgp") / n,
            "operators.bgp.shuffle_bytes_per_query": log.task_metric(
                bgp, "Shuffle Write Metrics", "Shuffle Bytes Written") / n,
            "operators.paths.exec_ms": st["operators.paths"] * 1e3 / n,
            "operators.paths.jobs_per_query": log.jobs("operators.paths") / n,
        }

    def summary(self, lat_ms: list) -> dict:
        """Pooled percentiles; a run holds a few passes of the ten-request
        mix, too few samples for a p90 with ten beyond it."""
        return {"query_p50_ms": statistics.median(lat_ms),
                "query_p90_ms": statistics.quantiles(
                    lat_ms, n=10, method="inclusive")[8],
                "queries_per_s": 1e3 * len(lat_ms) / sum(lat_ms),
                "graph_triples": self.graph_triples}


WORKLOADS = {w.name: w for w in (BuildStaged, SparqlMix)}
