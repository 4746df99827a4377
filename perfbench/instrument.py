"""Measurement plumbing of the benchmark, kept outside the program:

* ``Spans``: an in-memory span recorder (name, start, end, parent, trace
  id) with self-time, written out once when the run ends;
* ``SparkCalls``: a job group around each public call, counted with
  ``statusTracker`` (works with the UI off) and, when the UI is on,
  enriched with the REST stage/task metrics;
* ``RssSampler``: peak memory of the driver process tree from ``/proc``
  (the JVM's RSS, the Python processes' PSS);
* ``environment``: nproc, loadavg and steal, versions.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import platform
import threading
import time
import urllib.request
import uuid

# --------------------------------------------------------------------------
# spans


class Spans:
    """Spans of one workload run share ``trace_id``. ``span`` nests: the
    innermost open span is the parent of a new one."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.done: list[dict] = []
        self._open: list[int] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid, self._next = self._next, self._next + 1
        parent = self._open[-1] if self._open else None
        self._open.append(sid)
        rec = {"id": sid, "parent": parent, "name": name,
               "trace_id": self.trace_id, "start": time.time(), **attrs}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            self.done.append(rec)

    def self_times(self) -> dict[str, float]:
        """Σ per span name of (duration − time covered by its children)."""
        kids: dict[int, list[dict]] = {}
        for s in self.done:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.done:
            covered = _union_len([(c["start"], c["end"])
                                  for c in kids.get(s["id"], [])],
                                 s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) \
                + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.done,
                       "self_s": self.self_times()}, f, default=str)


def _union_len(iv: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals ``iv`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in iv):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# --------------------------------------------------------------------------
# Spark job groups, statusTracker and REST


def _rest_time(s: str) -> float:
    return dt.datetime.strptime(s.replace("GMT", "+0000"),
                                "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkCalls:
    """Runs a public call under its own job group and collects the work it
    caused. ``rest`` needs a session started with the UI enabled."""

    def __init__(self, spark, rest: bool):
        self.sc = spark.sparkContext
        self.base = None
        if rest:
            self.base = (f"{self.sc.uiWebUrl}/api/v1/applications/"
                         f"{self.sc.applicationId}")

    @contextlib.contextmanager
    def group(self, name: str):
        gid = f"{name}-{uuid.uuid4().hex[:8]}"
        self.sc.setJobGroup(gid, name)
        rec = {"group": gid, "t0": time.time()}
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _drain(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def counts(self, rec: dict) -> dict:
        """statusTracker view of one group: jobs, stages, tasks, failed."""
        self._drain()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(rec["group"])
        stages, tasks, failed = 0, 0, 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                if si is None or si.numCompletedTasks + si.numFailedTasks \
                        == 0:
                    continue   # skipped (shuffle reuse) or evicted
                stages += 1
                tasks += si.numCompletedTasks + si.numFailedTasks
                failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}

    def collect(self, rec: dict) -> dict:
        """``counts`` and, with the UI on, ``rest`` of one group."""
        out = self.counts(rec)
        if self.base is not None:
            out.update(self.rest(rec))
        return out

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def rest(self, rec: dict) -> dict:
        """REST stage and task metrics of one group. ``stages`` keeps the
        per-stage rows for layer-specific use (task times, completion)."""
        self._drain()
        jobs = [j for j in self._get("/jobs")
                if j.get("jobGroup") == rec["group"]]
        spans = [(_rest_time(j["submissionTime"]),
                  _rest_time(j.get("completionTime")
                             or j["submissionTime"])) for j in jobs]
        covered = _union_len(spans, rec["t0"], rec["t1"])
        out = {"driver_gap_s": (rec["t1"] - rec["t0"]) - covered,
               "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
               "sched_delay_s": 0.0, "input_mb": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0, "stage_rows": []}
        sids = sorted({s for j in jobs for s in j["stageIds"]})
        for sid in sids:
            for st in self._get(f"/stages/{sid}?details=true"):
                if st["status"] != "COMPLETE":
                    continue
                out["executor_run_s"] += st["executorRunTime"] / 1e3
                out["executor_cpu_s"] += st["executorCpuTime"] / 1e9
                out["gc_s"] += st["jvmGcTime"] / 1e3
                out["input_mb"] += st["inputBytes"] / 2**20
                out["shuffle_write_mb"] += st["shuffleWriteBytes"] / 2**20
                out["spill_mb"] += st["diskBytesSpilled"] / 2**20
                task_run = []
                for t in (st.get("tasks") or {}).values():
                    out["sched_delay_s"] += t.get("schedulerDelay", 0) / 1e3
                    m = t.get("taskMetrics") or {}
                    task_run.append(m.get("executorRunTime", 0) / 1e3)
                out["stage_rows"].append({
                    "id": sid, "name": st["name"],
                    "run_s": st["executorRunTime"] / 1e3,
                    "completion": _rest_time(st["completionTime"]),
                    "task_run_s": task_run})
        return out


def with_ui(spark):
    """A new session with ``spark``'s exact configuration plus the UI,
    which the REST metrics need; ``spark`` is stopped (the JVM stays)."""
    from pyspark.sql import SparkSession
    conf = spark.sparkContext.getConf().set("spark.ui.enabled", "true")
    spark.stop()
    spark = SparkSession.builder.config(conf=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# --------------------------------------------------------------------------
# /proc memory of the driver process tree (psutil is not installed)


def _stat() -> dict[int, tuple[int, int]]:
    """pid → (ppid, RSS bytes), for every process we can read."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rfind(")") + 2:].split()
        out[int(d)] = (int(fields[1]), int(fields[21]) * page)
    return out


def _pss(pid: int) -> int:
    """Proportional set size in bytes: pages shared by the forked Python
    workers are split between them instead of counted once per worker,
    so the sum over the tree is the memory the tree really holds."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples every ``period`` s, in a daemon thread, the memory of this
    process, the JVM child and the JVM's descendants (the Python workers);
    keeps the peak of the sum and of each part. The JVM counts its RSS:
    walking its page tables for PSS (smaps) stalls its page faults and
    slowed the workload 2x. The Python processes are small, and count PSS."""

    def __init__(self, jvm_pid: int | None, period: float = 0.2):
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak = {"total": 0, "jvm": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        procs = _stat()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            kids.setdefault(ppid, []).append(pid)
        workers, todo = 0, list(kids.get(self.jvm_pid, []))
        while todo:
            p = todo.pop()
            workers += _pss(p)
            todo.extend(kids.get(p, []))
        jvm = procs.get(self.jvm_pid, (0, 0))[1]
        total = _pss(os.getpid()) + jvm + workers
        for k, v in (("total", total), ("jvm", jvm), ("workers", workers)):
            self.peak[k] = max(self.peak[k], v)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


# --------------------------------------------------------------------------
# environment


def cpu_stat() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:9]))
    return vals[7], sum(vals)


def environment(nproc: int) -> dict:
    import pyspark
    return {"nproc": nproc, "python": platform.python_version(),
            "spark": pyspark.__version__, "host_cpus": os.cpu_count(),
            "loadavg_before": list(os.getloadavg())}
