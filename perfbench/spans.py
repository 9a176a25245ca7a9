"""Spans and the Spark event-log collector, standard library only.

A ``Tracer`` keeps spans (name, start, end, parent, run id) in memory and
writes them out once at the end.  While a span is open, the Spark jobs the
calling thread submits carry the span name as their job group, so the event
log attributes every job, task, CPU second and shuffle byte to a layer.

``layer_table`` joins the spans with the parsed event log:

* ``wall_s``: the span's self time, its duration minus the part covered by
  its child spans;
* ``cpu_s``: executor CPU time of the layer's tasks;
* ``driver_s``: self time during which no task ran (planning, collects,
  job launch);
* ``shuffle_mb``: shuffle bytes written by the layer's tasks;
* ``jobs``: jobs submitted under the layer;
* ``python_s``: the ``time to run Python workers`` SQL metric of its tasks;
* ``bytes_read_mb``: the ``size of files read`` SQL metric of its scans.

A job whose group is not a span name (a streaming query sets its own group)
belongs to the innermost span open when it was submitted.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

PYTHON_RUN_METRIC = "time to run Python workers"
FILES_READ_METRIC = "size of files read"
SQL_EVENTS = "org.apache.spark.sql.execution.ui."


class Tracer:
    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, name: str | None) -> None:
        if self.sc is None:
            return
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        """Open a span; the yielded dict collects counts for the layer."""
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent["name"] if parent else None,
               "run_id": self.run_id, "start": time.time(), "end": None,
               "counts": {}}
        self._stack.append(rec)
        self._set_group(name)
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent["name"] if parent else None)
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(rec) + "\n")


# --- interval arithmetic ----------------------------------------------------

def _union(intervals):
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def _subtract(base, holes):
    """Parts of the intervals ``base`` not covered by ``holes``."""
    holes = _union(holes)
    out = []
    for s, e in base:
        cur = s
        for hs, he in holes:
            if he <= cur or hs >= e:
                continue
            if hs > cur:
                out.append([cur, hs])
            cur = max(cur, he)
        if cur < e:
            out.append([cur, e])
    return out


def _length(intervals) -> float:
    return sum(e - s for s, e in intervals)


def self_intervals(span: dict, spans: list[dict]) -> list:
    children = [(c["start"], c["end"]) for c in spans
                if c["parent"] == span["name"] and c["run_id"] == span["run_id"]
                and c["start"] >= span["start"] and c["end"] <= span["end"]]
    return _subtract([[span["start"], span["end"]]], children)


# --- event log --------------------------------------------------------------

def read_events(path: str):
    """Events of one application log: a plain file, or a rolling event-log
    directory of ``events_<n>_*`` files."""
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "events_*")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        files = [path]
    for name in files:
        with open(name) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def find_event_log(log_dir: str) -> str:
    entries = [os.path.join(log_dir, e) for e in os.listdir(log_dir)
               if not e.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}, found {entries}")
    return entries[0]


def _metric_ids(plan: dict, name: str, out: set) -> None:
    out.update(m["accumulatorId"] for m in plan.get("metrics", []) if m.get("name") == name)
    for child in plan.get("children", []):
        _metric_ids(child, name, out)


def parse_jobs(events) -> dict:
    """job id -> {group, submit_s, files_read_bytes, tasks: [...]} with each
    task's interval and metrics.  A SQL execution's file-scan bytes go to
    its first job."""
    jobs, stage_job, exec_first_job = {}, {}, {}
    scan_ids, files_read = set(), {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {"group": props.get("spark.jobGroup.id"),
                                  "submit_s": ev["Submission Time"] / 1000.0,
                                  "files_read_bytes": 0, "tasks": []}
            for sid in ev["Stage IDs"]:
                stage_job[sid] = ev["Job ID"]
            exec_id = props.get("spark.sql.execution.id")
            if exec_id is not None:
                exec_first_job.setdefault(int(exec_id), ev["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"]))
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            if job is None:
                continue
            python_ms = sum(float(a.get("Update", 0)) for a in info.get("Accumulables", [])
                            if a.get("Name") == PYTHON_RUN_METRIC)
            job["tasks"].append({
                "start": info["Launch Time"] / 1000.0,
                "end": info["Finish Time"] / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "python_s": python_ms / 1000.0,
            })
        elif kind in (SQL_EVENTS + "SparkListenerSQLExecutionStart",
                      SQL_EVENTS + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _metric_ids(ev["sparkPlanInfo"], FILES_READ_METRIC, scan_ids)
        elif kind == SQL_EVENTS + "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev["accumUpdates"]:
                if acc_id in scan_ids:
                    files_read[ev["executionId"]] = files_read.get(ev["executionId"], 0) + value
    for exec_id, n_bytes in files_read.items():
        if exec_id in exec_first_job:
            jobs[exec_first_job[exec_id]]["files_read_bytes"] += n_bytes
    return jobs


def layer_table(spans: list[dict], jobs: dict) -> dict:
    """Per span name (summed over spans of the same name): wall_s, cpu_s,
    driver_s, shuffle_mb, jobs, python_s, bytes_read_mb and the counts the
    benchmark recorded in the span."""
    names = {s["name"] for s in spans}
    by_layer: dict[str, list] = {}
    for job in jobs.values():
        layer = job["group"] if job["group"] in names else None
        if layer is None:
            open_spans = [s for s in spans if s["start"] <= job["submit_s"] <= s["end"]]
            if open_spans:
                layer = max(open_spans, key=lambda s: s["start"])["name"]
        if layer is not None:
            by_layer.setdefault(layer, []).append(job)
    all_tasks = [[t["start"], t["end"]] for job in jobs.values() for t in job["tasks"]]
    table: dict[str, dict] = {}
    for span in spans:
        own = self_intervals(span, spans)
        row = table.setdefault(span["name"], {
            "wall_s": 0.0, "cpu_s": 0.0, "driver_s": 0.0, "shuffle_mb": 0.0,
            "jobs": 0, "python_s": 0.0, "bytes_read_mb": 0.0, "spans": 0,
            "counts": {},
        })
        row["spans"] += 1
        row["wall_s"] += _length(own)
        row["driver_s"] += _length(_subtract(own, all_tasks))
        for k, v in span["counts"].items():
            row["counts"][k] = row["counts"].get(k, 0) + v
    for name, layer_jobs in by_layer.items():
        row = table[name]
        row["jobs"] = len(layer_jobs)
        tasks = [t for job in layer_jobs for t in job["tasks"]]
        row["cpu_s"] = sum(t["cpu_s"] for t in tasks)
        row["shuffle_mb"] = sum(t["shuffle_bytes"] for t in tasks) / 1e6
        row["python_s"] = sum(t["python_s"] for t in tasks)
        row["bytes_read_mb"] = sum(job["files_read_bytes"] for job in layer_jobs) / 1e6
    return table
