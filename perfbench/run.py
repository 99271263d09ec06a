#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload build_staged --seed 0 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it (``# perfbench {...}``)
records the host, the measured source and the metrics under the names
the workloads are described with in ``perfbench/README.md``. Progress
and check failures go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.host import log  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
}

PER_LAYER = {
    "sources.route_s": "s",
    "sources.records_read": "count",
    "pipelines.parse_s": "s",
    "pipelines.parse_rows_out": "count",
    "pipelines.python_bytes_sent": "bytes",
    "pipelines.python_bytes_received": "bytes",
    "pipelines.derive_s": "s",
    "pipelines.plan_build_s": "s",
    "operators.emit.emit_s": "s",
    "operators.emit.triples_emitted": "count",
    "operators.emit.dedup_s": "s",
    "operators.emit.dedup_ratio": "ratio",
    "operators.emit.shuffle_bytes": "bytes",
    "operators.emit.shuffle_skew": "ratio",
    "plans.checkpoint.stage_s": "s",
    "plans.checkpoint.harvest_s": "s",
    "plans.checkpoint.self_s": "s",
    "plans.checkpoint.bytes_written": "bytes",
    "plans.checkpoint.files_written": "count",
    "plans.checkpoint.jobs": "count",
    "operators.sparql_text.parse_ms": "ms",
    "operators.sparql_text.lower_ms": "ms",
    "operators.bgp.exec_ms": "ms",
    "operators.bgp.jobs_per_query": "count",
    "operators.bgp.shuffle_bytes_per_query": "bytes",
    "operators.paths.exec_ms": "ms",
    "operators.paths.jobs_per_query": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.jobs": "count",
    "spark.core_busy_share": "ratio",
    "spark.peak_rss_mb": "MB",
    "trace.overhead_share": "ratio",
    "trace.accounted_share": "ratio",
}


def preflight() -> bool:
    """The measured package must come from this checkout."""
    try:
        import fixtures.generator  # noqa: F401
        import rdf_converter_spark
    except ImportError as e:
        log("cannot import the package under test from %s: %s" % (ROOT, e))
        return False
    here = os.path.dirname(os.path.abspath(rdf_converter_spark.__file__))
    if os.path.dirname(here) != ROOT:
        log("rdf_converter_spark resolves to %s, not this checkout" % here)
        return False
    return True


def report_problems(problem_lists) -> int:
    failed = 0
    for probs in problem_lists:
        if probs:
            failed += 1
            for p in probs:
                log("CHECK FAILED: " + p)
    return failed


def medians_ms(samples, attr: str = "seconds") -> dict:
    """Operation kind -> median wall (or CPU) of its operations, in ms."""
    by_kind = {}
    for s in samples:
        by_kind.setdefault(s.label, []).append(getattr(s, attr) * 1e3)
    return {k: statistics.median(v) for k, v in by_kind.items()}


def wall_metrics(samples) -> dict:
    # The geometric mean of the per-kind medians weighs every kind of the
    # mix alike and is far steadier across runs than a percentile of the
    # pooled samples, which jumps between kinds when a run is short.
    return {
        "latency_ms": statistics.geometric_mean(
            medians_ms(samples).values()),
        "ops_per_s": len(samples) / sum(s.seconds for s in samples),
    }


def untraced_metrics(samples, setup_cpu_s) -> dict:
    """CPU time, not wall: on a shared host, wall time moves with the
    CPU the hypervisor gives other guests (steal), which no run can
    control; CPU time charged to the run's own processes moves far less
    (README.md)."""
    return {
        "setup_s": setup_cpu_s,
        "cpu_ms_per_op": statistics.geometric_mean(
            medians_ms(samples, "cpu_s").values()),
    }


def traced_metrics(wl, spark, seconds):
    """A traced phase of the operations ``--trace 0`` measures, in the
    same place in the run; per-layer numbers of it, and the workload's
    measure of the tracing overhead, which runs after it."""
    from perfbench import host
    from perfbench import trace as tr

    tracer = tr.Tracer(spark, os.path.join(host.SCRATCH, "eventlog"))
    wl.instrument(tracer)
    tracer.start_event_log()
    try:
        traced = wl.measure(seconds, tracer)
    finally:
        events = tracer.stop_event_log()
        tracer.unpatch()
    rss = host.jvm_peak_rss_mb(spark)
    overhead, plain = wl.trace_overhead(traced, seconds)
    spans_path = os.path.join(host.STATE, "spans-%s.jsonl" % wl.name)
    tracer.write_spans(spans_path)
    log("spans written to " + spans_path)

    ev = tr.EventLog(events)
    n = len(traced)
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    metrics.update(wl.layer_metrics(tracer, ev, n))
    traced_s = sum(s.seconds for s in traced)
    task_s = ev.task_metric(None, "Executor Run Time") / 1e3
    roots = [s for s in tracer.spans if s["parent"] is None]
    root_wall = sum(s["end"] - s["start"] for s in roots)
    metrics.update({
        "spark.task_s": task_s / n,
        "spark.gc_s": ev.task_metric(None, "JVM GC Time") / 1e3 / n,
        "spark.spill_bytes": (ev.task_metric(None, "Memory Bytes Spilled")
                              + ev.task_metric(None, "Disk Bytes Spilled"))
        / n,
        "spark.jobs": sum(1 for g in ev.group_of_job.values()
                          if g != tr.BENCH) / n,
        "spark.core_busy_share": task_s / (host.nproc() * traced_s),
        "spark.peak_rss_mb": rss,
        "trace.overhead_share": overhead,
        "trace.accounted_share":
            1.0 - tr.self_times(tracer.spans)[wl.root_span] / root_wall,
    })
    return metrics, traced + plain


def shutdown(spark) -> None:
    """Stop the session, the JVM and the Python workers it forked, and
    wait for each to end."""
    from pyspark import SparkContext

    from perfbench import host

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = host.descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists("/proc/%d" % pid) and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists("/proc/%d" % pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["sparql_mix", "build_staged"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=18.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    t0 = time.perf_counter()
    if not preflight():
        return 2
    from perfbench import host
    from perfbench.corpus import Generation
    from perfbench.workloads import WORKLOADS

    host.fresh_scratch()
    spark = gen = None
    try:
        kind = WORKLOADS[args.workload].inputs
        gen = Generation(ROOT, kind, args.seed,
                         os.path.join(host.SCRATCH, "input"))
        spark = host.start_session()
        log("session started")
        env = host.environment(spark)
        path, size = gen.result()
        log("input: %s of %d (seed %d)" % (kind, size, args.seed))
        wl = WORKLOADS[args.workload](spark, args.seed, path, size)
        wl.setup()
        setup_s = time.perf_counter() - t0
        setup_cpu_s = host.cpu_s(wl.jvm)
        log("set-up done in %.1f s, %.1f CPU s" % (setup_s, setup_cpu_s))
        if args.trace:
            metrics, samples = traced_metrics(wl, spark, args.seconds)
            rss = metrics["spark.peak_rss_mb"]
            units = PER_LAYER
        else:
            samples = wl.measure(args.seconds)
            metrics = untraced_metrics(samples, setup_cpu_s)
            rss = host.jvm_peak_rss_mb(spark)
            units = END_TO_END
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if gen is not None:
            gen.close()
        if spark is not None:
            shutdown(spark)
        host.drop_scratch()

    checked = wl.checked + [s.problems for s in samples]
    failed = report_problems(checked)
    lat_ms = [s.seconds * 1e3 for s in samples]
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input": {kind: size}, "operations": len(samples),
        "error_rate": failed / len(checked), "setup_wall_s": setup_s,
        "setup_cpu_s": setup_cpu_s, "peak_rss_mb": rss,
        **wall_metrics(samples),
        "op_median_ms": medians_ms(samples),
        **wl.summary(lat_ms), "digests": wl.digests, "env": env,
    }
    if "build_s" in record:
        record["pages_per_s"] = size / record["build_s"]
    print("# perfbench " + json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
