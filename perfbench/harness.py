"""Run-time plumbing for the benchmark: working directories inside the
checkout, the Spark session, and the span recorder that gives every
operation its own Spark job group.

Nothing here reaches into ``lucene_spark`` internals: the recorder wraps the
calls the workloads make into each layer's public functions.
"""

from __future__ import annotations

import functools
import hashlib
import itertools
import os
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORK_DIR = os.path.join(BENCH_DIR, "_work")
CACHE_DIR = os.path.join(BENCH_DIR, "_cache")
TRACE_DIR = os.path.join(BENCH_DIR, "_traces")


@functools.cache
def code_version() -> str:
    """Hash of the engine's and the benchmark's Python sources."""
    h = hashlib.sha256()
    root = os.path.dirname(BENCH_DIR)
    for top in ("lucene_spark", os.path.basename(BENCH_DIR)):
        for base, dirs, files in sorted(os.walk(os.path.join(root, top))):
            dirs[:] = sorted(d for d in dirs if not d.startswith("_"))
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(base, f)
                    h.update(os.path.relpath(path, root).encode() + b"\0")
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def cache_path(name: str) -> str:
    """A file in the cache of this code version. Cached job counts and
    oracle answers are reused only by runs of the same sources, so a
    change to the engine or the benchmark starts from an empty cache."""
    d = os.path.join(CACHE_DIR, code_version())
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, name)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_run_dir(name: str) -> str:
    """Fresh per-run directory; Spark scratch and temp files go under it."""
    run = os.path.join(WORK_DIR, name)
    shutil.rmtree(run, ignore_errors=True)
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        # every JVM (spark-submit's launcher too): temp files in the run
        # directory, no hsperfdata file under the system temp directory
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_LOCAL_DIRS=os.path.join(run, "spark-local"),
        SPARK_LOCAL_IP="127.0.0.1",
        SPARK_GRAFT_CPUS=str(cpu_count()),
        SPARK_DRIVER_MEMORY="2g",
        PYSPARK_PYTHON=sys.executable,
    )
    tempfile.tempdir = None
    return run


def start_spark(run: str):
    """One session start as a user pays it: getOrCreate plus a first job.
    Returns (spark, seconds)."""
    from lucene_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{cpu_count()}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(run, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of the JVM plus this Python process."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(jvm_pid: int) -> float:
    """CPU time so far of this process plus the JVM and every process
    under it (Python workers), reaped children included."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        # utime stime cutime cstime
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != jvm_pid:
            p = parent.get(p, 0)
        if p == jvm_pid:
            total += t
    me = os.times()
    return total / _TICK + me.user + me.system


def median(xs) -> float:
    return float(statistics.median(xs))


class Recorder:
    """Spans with one Spark job group each.

    ``span(name)`` times a block, sets a fresh job group for the jobs it
    launches and restores the enclosing span's group on exit, so each job
    is attributed to the innermost open span. Job and stage ids are read
    back from ``statusTracker`` in ``resolve()``, after the listener bus
    has drained. Spans stay in memory until ``dump()``.

    Operation (outermost) spans also record ``cpu_s``: CPU time of this
    process, the JVM and its Python workers over the span.

    Untraced runs record only operation spans (one job group per client
    operation, which the end-to-end job counts need); ``detail=True``
    spans inside an operation are recorded only when ``traced``.
    """

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.jvm_pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, layer: str, detail: bool = False):
        if detail and not self.traced:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": sid, "name": name, "layer": layer,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else sid,
            "group": f"perfbench-{sid}",
        }
        self.sc.setJobGroup(sp["group"], name)
        self._stack.append(sp)
        if parent is None:
            sp["cpu0"] = cpu_seconds(self.jvm_pid)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            if parent is None:
                sp["cpu_s"] = cpu_seconds(self.jvm_pid) - sp.pop("cpu0")
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    def resolve(self) -> None:
        """Fill own/total jobs and stages and self time of every span."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        children: dict[int, list[dict]] = {}
        # spans are appended on exit, so every child precedes its parent
        for sp in self.spans:
            if "own_jobs" not in sp:
                jobs = list(tracker.getJobIdsForGroup(sp["group"]))
                stages = 0
                for j in jobs:
                    info = tracker.getJobInfo(j)
                    if info is None:  # evicted: counts would be wrong
                        raise RuntimeError(f"job {j} of {sp['name']} not retained")
                    stages += len(info.stageIds)
                sp["own_jobs"], sp["own_stages"] = len(jobs), stages
            kids = children.pop(sp["id"], [])
            sp["jobs"] = sp["own_jobs"] + sum(k["jobs"] for k in kids)
            sp["stages"] = sp["own_stages"] + sum(k["stages"] for k in kids)
            sp["self_s"] = (sp["end"] - sp["start"]) - _covered(kids)
            if sp["parent"] is not None:
                children.setdefault(sp["parent"], []).append(sp)

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = [
            {k: (v - t0 if k in ("start", "end") else v) for k, v in s.items()}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as fh:
            json.dump(out, fh, indent=0)


def _covered(kids: list[dict]) -> float:
    """Length of the union of the children's intervals."""
    total, end = 0.0, float("-inf")
    for k in sorted(kids, key=lambda s: s["start"]):
        lo = max(k["start"], end)
        if k["end"] > lo:
            total += k["end"] - lo
        end = max(end, k["end"])
    return total
