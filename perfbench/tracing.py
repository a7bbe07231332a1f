"""Spans around calls into the engine's layers, joined with Spark's own
stage metrics from an uncompressed, non-rolling event log.

Each span sets a Spark job group named after its id, so every job the
span starts is tagged in the event log; the log is parsed with the
standard library after the session stops. A span's self time is its
duration minus the part covered by its child spans.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

SPARK_METRICS = ("jobs", "stages", "tasks", "task_failures", "executor_run_s",
                 "executor_cpu_s", "jvm_gc_s", "input_bytes", "shuffle_read_bytes",
                 "shuffle_write_bytes", "spill_bytes", "output_bytes")
# besides the engine-wide metrics: tasks of stages that scan the REST
# source, and jobs with a stage that scans parquet files (in the
# transform, each such job re-evaluates the silver plan over bronze)
COUNTED = SPARK_METRICS + ("source_scan_tasks", "file_scan_jobs")


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


class Tracer:
    """Records spans in memory; ``enabled=False`` makes ``span`` a no-op
    so the untraced run executes the same benchmark code."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {"id": f"s{len(self.spans)}", "parent": parent["id"] if parent else None,
             "name": name, "attrs": attrs, "start": time.perf_counter()}
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["id"], name)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, fn, name: str, key=None):
        """``fn`` inside a span named ``name`` (plus ``[key(args)]``)."""
        def traced(*args, **kwargs):
            label = f"{name}[{key(*args)}]" if key else name
            with self.span(label):
                return fn(*args, **kwargs)
        return traced

    def finish(self, stage_by_group: dict[str, dict]) -> list[dict]:
        """Attach durations, self times and the Spark metrics of each
        span's own jobs; returns the spans."""
        kids: dict[str, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - sum(k["end"] - k["start"] for k in kids.get(s["id"], ()))
            s["spark"] = stage_by_group.get(s["id"], empty_metrics())
        return self.spans

    def subtree(self, span_id: str) -> list[dict]:
        """The span and all of its descendants."""
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            for s in self.spans:
                if s["id"] == sid:
                    out.append(s)
                elif s["parent"] == sid:
                    todo.append(s["id"])
        return out


def empty_metrics() -> dict:
    return {k: 0 for k in COUNTED}


def add_metrics(a: dict, b: dict) -> dict:
    return {k: a[k] + b[k] for k in COUNTED}


def find_event_log(log_dir: str) -> str:
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]


def metrics_by_group(path: str) -> dict[str, dict]:
    """Job group id -> summed stage metrics of the jobs in that group."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    per_stage: dict[int, dict] = {}
    stages_done: dict[int, int] = {}
    scopes: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", ()):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                stages_done[sid] = stages_done.get(sid, 0) + 1
                scopes[sid] = " ".join(r.get("Scope") or "" for r in info.get("RDD Info", ()))
            elif kind == "SparkListenerTaskEnd":
                m = per_stage.setdefault(ev["Stage ID"], empty_metrics())
                m["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    m["task_failures"] += 1
                tm = ev.get("Task Metrics") or {}
                m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["jvm_gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                m["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
    out: dict[str, dict] = {}
    file_scan_jobs: set[int] = set()
    for jid, group in job_group.items():
        out.setdefault(group, empty_metrics())["jobs"] += 1
    for sid, jid in stage_job.items():
        g = out[job_group[jid]]
        g["stages"] += stages_done.get(sid, 0)
        scope = scopes.get(sid, "")
        if "Scan parquet" in scope and jid not in file_scan_jobs:
            file_scan_jobs.add(jid)
            g["file_scan_jobs"] += 1
        if sid in per_stage:
            st = per_stage[sid]
            for k in SPARK_METRICS:
                if k not in ("jobs", "stages"):
                    g[k] += st[k]
            if "BatchScan jira_rest" in scope:
                g["source_scan_tasks"] += st["tasks"]
    return out


def write_spans(path: str, spans: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t0 = min((s["start"] for s in spans), default=0.0)
    with open(path, "w") as f:
        for s in spans:
            row = dict(s, start=s["start"] - t0, end=s["end"] - t0)
            f.write(json.dumps(row) + "\n")
