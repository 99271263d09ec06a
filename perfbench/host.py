"""Host sizing, the Spark session, the scratch root, CPU and memory
readings of the run's processes, and the run record.

Everything a run writes lives under ``<checkout>/.perfbench/run``, which is
emptied at the start and removed at the end of every run. Python workers
import ``rdf_converter_spark`` from the checkout being measured: the
checkout root is prepended to ``PYTHONPATH`` before the JVM starts, and
local-mode workers inherit the JVM's environment.
"""

from __future__ import annotations

import hashlib
import os
import platform
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
SCRATCH = os.path.join(STATE, "run")

# Driver heap for local[nproc]: the corpus is a few MB, the triple table a
# few tens of MB; 2 GB leaves the rest of a 15 GB host to other tenants.
DRIVER_MEMORY = "2g"

_T0 = time.perf_counter()


def log(msg: str) -> None:
    print("[perfbench %7.1f s] %s" % (time.perf_counter() - _T0, msg),
          file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 2 ** 20, 1)
    return 0.0


def fresh_scratch() -> str:
    shutil.rmtree(SCRATCH, ignore_errors=True)
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(SCRATCH, sub))
    return SCRATCH


def drop_scratch() -> None:
    shutil.rmtree(SCRATCH, ignore_errors=True)


def start_session():
    """``local[nproc]`` session configured like ``job.py`` (AQE, skew
    join, Arrow), with every temp location under the scratch root."""
    tmp = os.path.join(SCRATCH, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(SCRATCH, "local")
    os.environ["TMPDIR"] = tmp
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[%d]" % nproc())
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=" + tmp)
        .config("spark.local.dir", os.path.join(SCRATCH, "local"))
        .config("spark.sql.warehouse.dir",
                os.path.join(SCRATCH, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * nproc()))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def descendants(pid: int) -> list:
    children = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % d) as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(jvm: int) -> float:
    """CPU seconds (user + system) used so far by this process, its
    ended children (the input generator), the driver JVM ``jvm`` and
    every process below it (the Python daemon and workers). Time the hypervisor gives to other guests (steal) is not
    charged to any of them."""
    t = os.times()
    total = t.user + t.system + t.children_user + t.children_system
    for pid in [jvm] + descendants(jvm):
        try:
            with open("/proc/%d/stat" % pid) as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended since the listing
        total += (int(f[11]) + int(f[12])) / _TICK  # utime, stime
    return total


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (``VmHWM``), in MB."""
    pid = jvm_pid(spark)
    with open("/proc/%d/status" % pid) as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/%d/status" % pid)


def source_sha1() -> str:
    """Content hash of the measured package, for checkouts without git."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "rdf_converter_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith((".py", ".json")):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def environment(spark) -> dict:
    java = spark.sparkContext._jvm.java.lang.System.getProperty(
        "java.version")
    return {
        "git_sha": git_sha(),
        "source_sha1": source_sha1(),
        "nproc": nproc(),
        "ram_gb": ram_gb(),
        "master": spark.sparkContext.master,
        "driver_memory": DRIVER_MEMORY,
        "spark": spark.version,
        "java": java,
        "python": platform.python_version(),
    }
