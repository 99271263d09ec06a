# -*- coding: utf-8 -*-
"""Stage checkpointing: every stage materializes to a parquet directory;
a completed stage (atomic _SUCCESS marker from the parquet committer)
is skipped on resume and read back instead of recomputed.

This replaces the reference's rerun-from-scratch model (and its
implicit cross-stage CSV handoffs, pa_converter.py:632) with explicit,
resumable handles, per BASELINE north_rule.

Each completed stage appends a metrics row (rows, partitions, files,
seconds) and per-file lineage rows (stage, write-task id, file, row
count) — the run's audit trail and the resume-validation input. The
row counts come from one JVM-only aggregate over the stage just read
back (``groupBy(input_file_name()).count()``): no Python worker and
no footer reads anywhere, on the driver or on the executors.
"""

from __future__ import annotations

import json
import os
import re
import time
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


class StageRunner:
    """Directory-per-stage checkpoints with atomic _SUCCESS markers."""

    def __init__(self, spark: SparkSession, work_dir: str, resume: bool = True):
        self.spark = spark
        self.work_dir = work_dir
        self.resume = resume
        self.metrics: List[dict] = []
        os.makedirs(work_dir, exist_ok=True)

    # -- storage ----------------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.work_dir, name)

    def _done(self, name: str) -> bool:
        return os.path.exists(os.path.join(self.path(name), "_SUCCESS"))

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
        if self.resume and self._done(name):
            df = self._read(name)
            self._record(name, df, seconds=0.0, resumed=True)
            return df
        t0 = time.time()
        df = build()
        self._write(df, name, partition_by)
        out = self._read(name)
        self._record(name, out, seconds=time.time() - t0, resumed=False)
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
