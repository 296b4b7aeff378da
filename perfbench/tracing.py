"""Traced runs: spans recorded around the benchmark's calls into each
layer, and Spark's event log read back per job group.

Every span sets its own job group, so the jobs, stages and tasks that ran
inside it can be found in the event log (``spark.eventLog.enabled``, a
public JSON-lines format) after the session stops. Spans stay in memory
and are written out once, at the end of the run.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench.common import job_group

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, log_dir: str):
        self.log_dir = log_dir
        os.makedirs(log_dir, exist_ok=True)
        self.spans: list[dict] = []
        self.jobs: dict[str, list[dict]] = {}

    def conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": self.log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    @contextmanager
    def span(self, spark, op: str, layer: str, **attrs):
        """Time one call into ``layer`` for op ``op`` under its own job group."""
        group = f"{op}/{layer}"
        job_group(spark, group)
        rec = {"op": op, "layer": layer, "group": group, **attrs}
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["s"] = rec["end"] - rec["start"]
            self.spans.append(rec)

    def seconds(self, layer: str) -> list[float]:
        return [s["s"] for s in self.spans if s["layer"] == layer]

    def read_log(self) -> None:
        """Parse the event log into per-job records keyed by job group."""
        jobs: list[dict] = []
        for path in sorted(glob.glob(os.path.join(self.log_dir, "local-*"))):
            stage_job: dict[int, dict] = {}  # ids restart in each application
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        job = {
                            "group": props.get("spark.jobGroup.id"),
                            "submitted": ev.get("Submission Time", 0),
                            "stages": set(),
                            "tasks": [],
                        }
                        jobs.append(job)
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = job
                    elif kind == "SparkListenerTaskEnd":
                        job = stage_job.get(ev["Stage ID"])
                        if job is not None:
                            job["stages"].add(ev["Stage ID"])
                            job["tasks"].append(ev)
        self.jobs = defaultdict(list)
        for job in jobs:
            self.jobs[job["group"]].append(job)

    def group_window(self, group: str, source: str, start_ms: float, end_ms: float) -> None:
        """Move the jobs of job group ``source`` submitted in [start, end]
        into ``group``. A streaming query runs every micro-batch under one
        job group, its run id; the batch's time window tells them apart."""
        jobs = self.jobs.get(source, [])
        inside = [j for j in jobs if start_ms <= j["submitted"] <= end_ms]
        self.jobs[source] = [j for j in jobs if j not in inside]
        self.jobs[group].extend(inside)

    def work(self, groups: list[str]) -> dict:
        """Summed task work of every job in ``groups``."""
        out = defaultdict(float)
        stages = set()
        for g in groups:
            for job in self.jobs.get(g, []):
                out["jobs"] += 1
                stages |= job["stages"]
                for ev in job["tasks"]:
                    _add_task(out, ev)
        out["stages"] = len(stages)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


def _add_task(out: dict, ev: dict) -> None:
    out["tasks"] += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        out["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    out["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
    out["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    sr = m.get("Shuffle Read Metrics") or {}
    out["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
    out["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
    out["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
    out["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
    out["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        if name == PY_SENT:
            out["to_worker_mb"] += float(acc.get("Update", 0)) / MB
        elif name == PY_RECEIVED:
            out["from_worker_mb"] += float(acc.get("Update", 0)) / MB


SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "input_mb",
    "output_mb",
    "failed_tasks",
)


def spark_layer(tracer: Tracer, groups_per_op: list[list[str]], wall_per_op: list[float], cpus: int) -> dict:
    """``spark.*`` metrics: means per op of the work in each op's groups."""
    n = len(groups_per_op)
    totals = defaultdict(float)
    for groups in groups_per_op:
        for k, v in tracer.work(groups).items():
            totals[k] += v
    out = {f"spark.{k}": totals[k] / n for k in SPARK_KEYS}
    out["spark.slot_busy_ratio"] = totals["task_run_s"] / (sum(wall_per_op) * cpus)
    out["python.to_worker_mb"] = totals["to_worker_mb"] / n
    out["python.from_worker_mb"] = totals["from_worker_mb"] / n
    return out
