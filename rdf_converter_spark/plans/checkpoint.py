# -*- coding: utf-8 -*-
"""Stage checkpointing: every stage materializes to a parquet directory;
a completed stage (atomic _SUCCESS marker from the parquet committer)
is skipped on resume and read back instead of recomputed.

This replaces the reference's rerun-from-scratch model (and its
implicit cross-stage CSV handoffs, pa_converter.py:632) with explicit,
resumable handles, per BASELINE north_rule.

A completed stage is resumed only under the run fingerprint it was
written under. ``<work>/_run.json`` holds the fingerprint (for
``run_pipeline``: the input listing, the routing setting, the package
sources and the override vocabularies), the stages completed under it,
and why the stages were recomputed when they were: a missing or
different fingerprint recomputes every stage instead of returning a
stale table.

Each completed stage appends a metrics row (rows, partitions, files,
seconds) and per-file lineage rows (stage, write-task id, file, row
count) — the run's audit trail and the resume-validation input. The
row counts come from one JVM-only aggregate over the stage just read
back (``groupBy(input_file_name()).count()``): no Python worker and
no footer reads anywhere, on the driver or on the executors.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import time
from importlib import resources
from typing import Callable, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_TASK_ID = re.compile(r"part-(\d+)")


def _local(uri: str) -> str:
    """file:///x/y URI (as returned by inputFiles) -> local path."""
    if "://" in uri:
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(uri).path)
    return uri


def listing_sha1(spark: SparkSession, path: str) -> str:
    """Digest of the (path, length, modification time) of every data
    file ``path`` names — a directory, a file or a glob, as
    ``spark.read`` accepts. Spark's file index lists them through the
    Hadoop ``FileSystem`` API (in parallel for large listings) and
    ``binaryFile`` reads each status without the content; one JVM-side
    aggregate folds them into an order-free (count, hash sums) row, so
    the driver receives one row whatever the number of files."""
    files = (spark.read.format("binaryFile")
             .option("recursiveFileLookup", "true").load(path))
    key = F.concat_ws("\t", "path", "length",
                      F.unix_millis("modificationTime"))
    row = files.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(key).cast("decimal(20,0)")),
        F.sum(F.hash(key).cast("bigint")),
    ).first()
    return hashlib.sha1(json.dumps([str(v) for v in row]).encode()
                        ).hexdigest()


def _tree_sha1(root, suffixes: tuple) -> Optional[str]:
    """SHA-1 of the files under ``root`` (an ``importlib.resources``
    traversable, so also a directory inside a zip) whose names end in
    ``suffixes``, by relative path and content; None when there is no
    such file."""
    h = hashlib.sha1()
    found = False
    todo = [("", root)]
    while todo:
        rel, node = todo.pop()
        for child in sorted(node.iterdir(), key=lambda c: c.name,
                            reverse=True):
            name = rel + "/" + child.name
            if child.is_dir():
                todo.append((name, child))
            elif child.name.endswith(suffixes):
                found = True
                h.update(name.encode() + b"\0" + child.read_bytes())
    return h.hexdigest() if found else None


def package_sha1() -> str:
    """SHA-1 of the package's ``.py`` and ``.json`` sources (code and
    vendored mapping tables), read through ``importlib.resources`` so
    it also hashes a package imported from a ``--py-files`` zip.
    Raises when no source is found rather than return a hash of
    nothing that every later run would match."""
    digest = _tree_sha1(resources.files(__package__.split(".")[0]),
                        (".py", ".json"))
    if digest is None:
        raise RuntimeError("no package sources found to fingerprint")
    return digest


def mappings_sha1() -> Optional[str]:
    """SHA-1 of the override vocabularies ``mappings.load`` reads from
    ``MEMAD_MAPPINGS_DIR`` (the ``*.json`` files directly in it); None
    when the variable is unset, so the vendored tables — hashed with
    the package sources — are the ones in use."""
    override = os.environ.get("MEMAD_MAPPINGS_DIR")
    if not override:
        return None
    h = hashlib.sha1()
    for f in sorted(glob.glob(os.path.join(override, "*.json"))):
        with open(f, "rb") as fh:
            h.update(os.path.basename(f).encode() + b"\0" + fh.read())
    return h.hexdigest()


def _stale_reason(resume: bool, prev: Optional[dict],
                  fingerprint: dict) -> Optional[str]:
    """Why no stage of the work dir may be resumed; None if the stages
    completed under the previous run (``prev``) may."""
    if not resume:
        return "resume=False"
    if prev is None:
        return "no _run.json in the work dir"
    old = prev["fingerprint"]
    changed = sorted(k for k in set(old) | set(fingerprint)
                     if old.get(k) != fingerprint.get(k))
    if changed:
        return "fingerprint changed: " + ", ".join(changed)
    return None


class StageRunner:
    """Directory-per-stage checkpoints with atomic _SUCCESS markers,
    resumed only under the same run ``fingerprint`` (module
    docstring)."""

    def __init__(self, spark: SparkSession, work_dir: str, resume: bool = True,
                 fingerprint: Optional[dict] = None):
        self.spark = spark
        self.work_dir = work_dir
        self.metrics: List[dict] = []
        os.makedirs(work_dir, exist_ok=True)
        self.run_path = os.path.join(work_dir, "_run.json")
        fingerprint = dict(fingerprint or {})
        try:
            with open(self.run_path) as fh:
                prev = json.load(fh)
        except FileNotFoundError:
            prev = None
        reason = _stale_reason(resume, prev, fingerprint)
        self.run = {"fingerprint": fingerprint,
                    "stages": prev["stages"] if reason is None else [],
                    "recomputed": reason}
        self._write_run()

    def _write_run(self):
        with open(self.run_path + ".tmp", "w") as fh:
            json.dump(self.run, fh, indent=1)
        os.replace(self.run_path + ".tmp", self.run_path)

    # -- storage ----------------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.work_dir, name)

    def _done(self, name: str) -> bool:
        return (name in self.run["stages"] and os.path.exists(
            os.path.join(self.path(name), "_SUCCESS")))

    def _read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def _write(self, df: DataFrame, name: str,
               partition_by: Optional[List[str]]):
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.path(name))

    # -- execution --------------------------------------------------------
    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        partition_by: Optional[List[str]] = None,
    ) -> DataFrame:
        """Run (or resume) one stage; returns the materialized frame."""
        if self._done(name):
            df = self._read(name)
            self._record(name, df, seconds=0.0, resumed=True)
            return df
        t0 = time.time()
        df = build()
        self._write(df, name, partition_by)
        out = self._read(name)
        self._record(name, out, seconds=time.time() - t0, resumed=False)
        if name not in self.run["stages"]:
            self.run["stages"].append(name)
            self._write_run()
        return out

    def _record(self, name: str, df: DataFrame, seconds: float, resumed: bool):
        """Metrics + per-file lineage of the stage ``df`` was read from.

        The committed file list comes from the read-back's own file
        index (``inputFiles``, no recursive driver-side glob); the row
        count of each file from one ``groupBy(input_file_name()).count()``
        job over ``df`` — a JVM-only scan whose result is one row per
        non-empty file. A committed file absent from that result holds
        no rows; a counted file that is not among the committed ones
        means the stage directory changed under the read, and raises.

        ``partition_id`` is the WRITE TASK id parsed from the
        ``part-NNNNN-…`` committer filename (with ``partition_by`` one
        task emits one file per partition VALUE, so the task id — not a
        sorted-file index — is the stable lineage key; ``file``
        disambiguates multi-file tasks).

        A resumed stage did no work: it reuses the lineage rows of the
        run that wrote it, without a job and without rewriting the
        JSON; it is counted afresh only when that file is missing
        (e.g. a work dir copied without ``_lineage``)."""
        lineage_path = os.path.join(self.work_dir, "_lineage",
                                    name + ".json")
        if resumed and os.path.exists(lineage_path):
            with open(lineage_path) as fh:
                per_part = [json.loads(ln) for ln in fh if ln.strip()]
            self.metrics.append(self._entry(name, per_part, 0.0, True))
            return

        root = self.path(name)
        files = sorted(
            _local(f) for f in df.inputFiles() if f.endswith(".parquet")
        )
        counts = {}
        if files:
            counts = {
                _local(f): n
                for f, n in df.groupBy(F.input_file_name()).count().collect()
            }
        stray = sorted(set(counts) - set(files))
        if stray:
            raise RuntimeError(
                "stage %s: rows read from files outside its committed "
                "output: %s" % (name, ", ".join(stray[:5]))
            )
        per_part = []
        for i, f in enumerate(files):
            rel = os.path.relpath(f, root)
            m = _TASK_ID.search(os.path.basename(rel))
            per_part.append(
                {
                    "stage": name,
                    # non-committer filenames (no part-NNNN) get a
                    # distinct negative per-file index — a shared -1
                    # would collapse them and undercount the distinct-
                    # task "partitions" metric
                    "partition_id": int(m.group(1)) if m else -(i + 1),
                    "file": rel,
                    "rows": counts.get(f, 0),
                }
            )
        self.metrics.append(self._entry(name, per_part, seconds, resumed))
        os.makedirs(os.path.dirname(lineage_path), exist_ok=True)
        with open(lineage_path, "w") as fh:
            for p in per_part:
                fh.write(json.dumps(p) + "\n")

    @staticmethod
    def _entry(name: str, per_part: List[dict], seconds: float,
               resumed: bool) -> dict:
        return {
            "stage": name,
            "rows": sum(p["rows"] for p in per_part),
            # distinct WRITE TASKS (the task parallelism of the stage);
            # "files" counts committed files, which exceeds partitions
            # under partition_by
            "partitions": len({p["partition_id"] for p in per_part}),
            "files": len(per_part),
            "seconds": round(seconds, 3),
            "resumed": resumed,
        }

    def write_metrics(self):
        with open(os.path.join(self.work_dir, "_metrics.json"), "w") as fh:
            json.dump(self.metrics, fh, indent=1)
