"""Traced-run recorder: in-memory spans around calls into each layer, Spark
job groups named after the span, and metrics parsed from Spark's event log.

A span is ``{name, start, end, parent, run}``.  Spans stay in memory and are
written out once, at the end of the run.  A Spark job is attributed to the
span whose name is its job group; jobs started from threads the benchmark
does not own carry another group and are attributed by submission time.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager


class Recorder:
    """Spans for one run.  With ``spark`` given, each span also sets the
    Spark job group (so Spark's own metrics can be split by span); without
    it only wall times are kept."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def _set_group(self, name: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(name, f"perfbench {self.run_id}: {name}")

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._set_group(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "run": self.run_id})

    def seconds(self, name: str) -> float:
        """Total wall time of the spans called ``name`` (0 if none)."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def interval(self, name: str) -> tuple[float, float] | None:
        """(start, end) of the last span called ``name``."""
        for s in reversed(self.spans):
            if s["name"] == name:
                return s["start"], s["end"]
        return None

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


class CodeClock:
    """Wall time this thread spends in Python functions defined in the given
    source files, outermost calls only: ``{file: layer}`` in, ``seconds``
    (per layer) out.  Spark plans are lazy, so this times the calls into a
    layer, not the Spark work its plans do later; it shows whether a
    workload calls the layer at all."""

    def __init__(self, files: dict[str, str]):
        self.files = {os.path.realpath(f): layer for f, layer in files.items()}
        self.seconds = dict.fromkeys(self.files.values(), 0.0)
        self._seen: dict[str, str | None] = {}   # co_filename -> layer
        self._active = None   # (frame, layer, start) of the outermost call

    def _layer(self, filename: str) -> str | None:
        if filename not in self._seen:
            self._seen[filename] = self.files.get(os.path.realpath(filename))
        return self._seen[filename]

    def _profile(self, frame, event, arg):
        if event == "call" and self._active is None:
            layer = self._layer(frame.f_code.co_filename)
            if layer is not None:
                self._active = (frame, layer, time.perf_counter())
        elif event == "return" and self._active and frame is self._active[0]:
            _, layer, start = self._active
            self.seconds[layer] += time.perf_counter() - start
            self._active = None

    def __enter__(self):
        sys.setprofile(self._profile)
        return self

    def __exit__(self, *exc):
        sys.setprofile(None)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    # one plain JSON-lines file, parseable without a zstd binding
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
#: driver-side scan metric: bytes of the files a scan covers (the task-level
#: "Bytes Read" misses most parquet page reads in local mode)
_FILES_READ = "size of files read"


def _task_record(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    acc = {a.get("Name"): a.get("Update") for a in ev["Task Info"].get("Accumulables", [])}
    return {
        "run_ms": m.get("Executor Run Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "python_ms": int(acc.get(_PY_TIME) or 0),
        "python_sent": int(acc.get(_PY_SENT) or 0),
    }


def _metric_names(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _metric_names(child, out)


def parse_event_log(path: str) -> list[dict]:
    """Jobs of one application: ``{group, submit, end, execution, stages:
    {id: [task]}, sql: {metric: value}}`` with times in epoch seconds, one
    record per finished task, and the driver-side SQL metrics of the job's
    SQL execution (shared by every job of that execution)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    names: dict[int, str] = {}
    driver: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _metric_names(ev["sparkPlanInfo"], names)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                acc = driver.setdefault(ev["executionId"], {})
                for acc_id, value in ev["accumUpdates"]:
                    acc[acc_id] = acc.get(acc_id, 0) + value
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                execution = props.get("spark.sql.execution.id")
                job = {"group": props.get("spark.jobGroup.id"),
                       "submit": ev["Submission Time"] / 1000.0, "end": None,
                       "execution": int(execution) if execution is not None else None,
                       "stages": {}}
                jobs[ev["Job ID"]] = job
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                job = jobs[stage_job[ev["Stage ID"]]]
                job["stages"].setdefault(ev["Stage ID"], []).append(_task_record(ev))
    sql = {e: {names.get(a, str(a)): v for a, v in acc.items()} for e, acc in driver.items()}
    for job in jobs.values():
        job["sql"] = sql.get(job["execution"], {})
    return list(jobs.values())


def event_log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def jobs_of(jobs: list[dict], rec: Recorder, name: str) -> list[dict]:
    """Jobs attributed to the span ``name``: by job group, or by submission
    time for jobs whose group is not a span of ``rec`` (streaming and
    thread-pool jobs)."""
    iv = rec.interval(name)
    known = {s["name"] for s in rec.spans}
    return [j for j in jobs
            if j["group"] == name
            or (j["group"] not in known and iv and iv[0] <= j["submit"] <= iv[1])]


def jobs_within(jobs: list[dict], rec: Recorder, name: str) -> list[dict]:
    """Every job submitted during the last span ``name``, whatever its group
    (the span's children included)."""
    iv = rec.interval(name)
    return [j for j in jobs if iv and iv[0] <= j["submit"] <= iv[1]]


def _max_over_median(stages: list[list[dict]]) -> float:
    """Straggler ratio of the busiest multi-task stage: max ÷ median task
    run time (1.0 when no stage has two tasks)."""
    multi = [t for t in stages if len(t) >= 2]
    if not multi:
        return 1.0
    busiest = max(multi, key=lambda ts: sum(t["run_ms"] for t in ts))
    runs = [t["run_ms"] for t in busiest]
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 1.0


def totals(jobs: list[dict]) -> dict:
    """Spark-side totals over ``jobs``: bytes, waits, spill, GC, Python time,
    straggler ratio, and the wall time the jobs were running (their union)."""
    stages = [ts for j in jobs for ts in j["stages"].values()]
    tasks = [t for ts in stages for t in ts]

    def s(key: str) -> float:
        return float(sum(t[key] for t in tasks))

    executions = {j["execution"]: j.get("sql", {}) for j in jobs if j.get("execution") is not None}
    spans = sorted((j["submit"], j["end"] or j["submit"]) for j in jobs)
    busy, cur_s, cur_e = 0.0, None, None
    for a, b in spans:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        busy += cur_e - cur_s
    return {
        "jobs": len(jobs),
        "files_read_bytes": float(sum(m.get(_FILES_READ, 0) for m in executions.values())),
        "output_bytes": s("output"),
        "shuffle_read_bytes": s("shuffle_read"),
        "shuffle_write_bytes": s("shuffle_write"),
        "fetch_wait_s": s("fetch_wait_ms") / 1000.0,
        "spill_bytes": s("spill"),
        "gc_s": s("gc_ms") / 1000.0,
        "python_s": s("python_ms") / 1000.0,
        "python_bytes_sent": s("python_sent"),
        "task_max_over_median": _max_over_median(stages),
        "jobs_busy_s": busy,
    }


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of the driver: this Python process plus the
    driver JVM (read from /proc before the JVM stops)."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid:
        try:
            with open(f"/proc/{jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    return (py_kb + jvm_kb) / 1024.0
