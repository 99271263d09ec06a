"""Traced runs: spans from the benchmark's wrappers, job-group tagging and
Spark event-log parsing.

Only the traced phase of a ``--trace 1`` run installs any of this. The
``Tracer`` patches a few public entry points of the package for the
duration of the phase and restores them afterwards:

- each wrapper records a span (name, start, end, parent) and sets the
  Spark job group to the layer the wrapped function belongs to, so every
  job the call launches is tagged with that layer;
- an event-logging listener is attached to the live SparkContext for the
  phase only, and its log is parsed into per-layer task, shuffle, I/O,
  GC and Python-crossing numbers.

A layer's self time is its spans' duration minus the part covered by
child spans; the self times of a traced operation add up to its wall.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict

GROUP = "spark.jobGroup.id"
BENCH = "bench"  # the benchmark's own checks; excluded from every layer


@contextlib.contextmanager
def job_group(sc, group: str):
    """Tag every Spark job launched inside the block with ``group``."""
    prev = sc.getLocalProperty(GROUP)
    sc.setLocalProperty(GROUP, group)
    try:
        yield
    finally:
        sc.setLocalProperty(GROUP, prev)


def stage_layer(stage: str) -> str:
    """Layer that owns the work of one ``run_pipeline`` stage write."""
    if stage == "routed":
        return "sources"
    if stage.startswith("parsed_"):
        return "pipelines.parse"
    if stage == "triples":
        return "operators.emit"
    return "pipelines.derive"  # lineage_* and pa_derived


class Tracer:
    def __init__(self, spark, log_dir: str):
        self.sc = spark.sparkContext
        self.log_dir = log_dir
        self.spans = []
        self._stack = []
        self._patches = []
        self._listener = None
        self.stash = {}

    # -- spans and job groups ---------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, group: str = None, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            with (job_group(self.sc, group) if group
                  else contextlib.nullcontext()):
                yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def _patch(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))
        self._patches.append((owner, attr, orig))

    def _spanning(self, owner, attr: str, name: str, group: str = None):
        def make(orig):
            def wrapper(*a, **kw):
                with self.span(name, group):
                    return orig(*a, **kw)
            return wrapper
        self._patch(owner, attr, make)

    def patch_staged(self):
        """Spans around ``run_pipeline``'s stages (``plans.checkpoint``),
        the lazy plan each stage builds (``pipelines.plan_build``) and
        each stage's write job (the stage's layer, see ``stage_layer``);
        keeps the input of the final dedup for an untimed count."""
        from rdf_converter_spark.pipelines import runner
        from rdf_converter_spark.plans.checkpoint import StageRunner

        def make_stage(orig):
            def stage(sr, name, build, partition_by=None):
                layer = stage_layer(name)

                def traced_build():
                    with self.span("pipelines.plan_build", layer, stage=name):
                        return build()
                with self.span("plans.checkpoint", "plans.checkpoint",
                               stage=name):
                    return orig(sr, name, traced_build, partition_by)
            return stage

        def make_write(orig):
            def write(sr, df, name, partition_by):
                layer = stage_layer(name)
                with self.span(layer, layer, stage=name):
                    return orig(sr, df, name, partition_by)
            return write

        def make_dedup(orig):
            def dedup(df, *a, **kw):
                self.stash["emitted"] = df
                return orig(df, *a, **kw)
            return dedup

        self._patch(StageRunner, "stage", make_stage)
        self._patch(StageRunner, "_write", make_write)
        self._patch(runner, "dedup_triples", make_dedup)

    def patch_sparql(self):
        """Spans around SPARQL text parsing, lowering (``sparql_query``),
        property-path closures and eager ASK probes."""
        from rdf_converter_spark.operators import paths, sparql_text

        self._spanning(sparql_text, "parse_query", "operators.sparql_text.parse")
        self._spanning(sparql_text, "sparql_query", "operators.sparql_text.lower",
                       "operators.sparql_text")
        self._spanning(sparql_text, "ask", "operators.bgp", "operators.bgp")
        self._spanning(paths, "path_match", "operators.paths", "operators.paths")

    def unpatch(self):
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- event log ----------------------------------------------------------
    def start_event_log(self):
        jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        conf = (jsc.conf().clone()
                .set("spark.eventLog.rolling.enabled", "false")
                .set("spark.eventLog.compress", "false"))
        os.makedirs(self.log_dir, exist_ok=True)
        none = getattr(jvm.scala, "None$").__getattr__("MODULE$")
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.sc.applicationId, none,
            jvm.java.net.URI("file://" + self.log_dir), conf,
            self.sc._jsc.hadoopConfiguration())
        self._listener.start()
        jsc.addSparkListener(self._listener)

    def stop_event_log(self) -> list:
        """Detach the listener; returns the events it wrote. The listener
        bus is drained first so no event of the phase is lost."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self._listener)
        self._listener.stop()
        self._listener = None
        events = []
        for path in glob.glob(os.path.join(self.log_dir, "*")):
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
        return events

    def write_spans(self, path: str):
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# -- span arithmetic --------------------------------------------------------
def self_times(spans) -> dict:
    """Layer name -> summed self time (s)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out = defaultdict(float)
    for s in spans:
        out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
    return out


def total(spans, name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


# -- event-log arithmetic ---------------------------------------------------
class EventLog:
    """Per-layer aggregates of one traced phase's Spark events."""

    def __init__(self, events):
        self.group_of_job = {}
        self.stage_group = {}
        self.stages = {}
        self.tasks = []
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get(GROUP) or BENCH
                self.group_of_job[e["Job ID"]] = g
                for sid in e["Stage IDs"]:
                    self.stage_group[sid] = g
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                self.stages[info["Stage ID"]] = info
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(e)

    def group_of_task(self, t) -> str:
        return self.stage_group.get(t["Stage ID"], BENCH)

    def jobs(self, group: str) -> int:
        return sum(1 for g in self.group_of_job.values() if g == group)

    def task_metric(self, groups, *path) -> float:
        """Sum of one task metric over the tasks of ``groups`` (None: of
        every layer; the benchmark's own checks never count)."""
        out = 0.0
        for t in self.tasks:
            g = self.group_of_task(t)
            if g == BENCH or (groups is not None and g not in groups):
                continue
            v = t.get("Task Metrics") or {}
            for k in path:
                v = v.get(k) if isinstance(v, dict) else None
            out += v or 0
        return out

    def accum(self, groups, name: str) -> float:
        out = 0.0
        for t in self.tasks:
            if self.group_of_task(t) not in groups:
                continue
            for a in t["Task Info"].get("Accumulables", ()):
                if a.get("Name") == name:
                    out += float(a.get("Update") or 0)
        return out

    def shuffle_read_stages(self, group: str):
        """Stages of ``group`` whose tasks read shuffle data (the
        reduce side of an exchange)."""
        read = defaultdict(float)
        for t in self.tasks:
            if self.group_of_task(t) != group:
                continue
            m = (t.get("Task Metrics") or {}).get("Shuffle Read Metrics") or {}
            read[t["Stage ID"]] += (m.get("Remote Bytes Read", 0)
                                    + m.get("Local Bytes Read", 0))
        return [sid for sid, b in read.items() if b > 0]

    def stage_seconds(self, stage_ids) -> float:
        out = 0.0
        for sid in stage_ids:
            info = self.stages.get(sid)
            if info and info.get("Submission Time") and info.get(
                    "Completion Time"):
                out += (info["Completion Time"] - info["Submission Time"]) / 1e3
        return out

    def reduce_skew(self, group: str) -> float:
        """max / median of per-task shuffle bytes read on ``group``'s
        reduce side, over tasks that read any (1.0 = perfectly even)."""
        per_task = []
        stages = set(self.shuffle_read_stages(group))
        for t in self.tasks:
            if t["Stage ID"] in stages:
                m = t["Task Metrics"].get("Shuffle Read Metrics") or {}
                per_task.append(m.get("Remote Bytes Read", 0)
                                + m.get("Local Bytes Read", 0))
        per_task = [b for b in per_task if b > 0]
        if not per_task:
            return 0.0
        return max(per_task) / statistics.median(per_task)
