"""In-memory spans and Spark event-log attribution.

A span is (id, name, parent, start, end) with epoch-second times, so the
jobs, stages and tasks of Spark's own event log (epoch milliseconds) can
be attributed to the innermost span that was open when they were
submitted.  Spans are recorded from the benchmark's own files, around the
calls into each module's public functions; nothing inside the program is
instrumented.
"""

from __future__ import annotations

import contextlib
import glob
import json
import time
from statistics import median
from typing import Dict, List, Optional


class Tracer:
    def __init__(self) -> None:
        self.spans: List[dict] = []
        self._open: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._open[-1] if self._open else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()

    @staticmethod
    def dur(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def named(self, name: str) -> List[dict]:
        return [s for s in self.spans if s["name"] == name]

    def innermost(self, t: float) -> Optional[dict]:
        """The latest-started closed span containing epoch time ``t``."""
        best = None
        for s in self.spans:
            if s["end"] is not None and s["start"] <= t <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best


def read_event_log(log_dir: str) -> List[dict]:
    """Every event of the (uncompressed) logs under ``log_dir``; Spark 4
    writes one ``eventlog_v2_<app>/events_<n>_<app>`` file set per app."""
    events = []
    for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


class EventLog:
    """Jobs and finished tasks of a Spark event log, with the scan nodes
    of every SQL plan, indexed for attribution to spans."""

    def __init__(self, events: List[dict]) -> None:
        self.job_submit: Dict[int, float] = {}
        stage_job: Dict[int, int] = {}
        self.tasks: Dict[int, List[dict]] = {}
        self.plans: List[dict] = []
        for ev in events:
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                self.job_submit[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev.get("Stage ID"))
                if job is not None:
                    self.tasks.setdefault(job, []).append(ev)
            elif "sparkPlanInfo" in ev:
                self.plans.append(ev["sparkPlanInfo"])

    def jobs_in(self, spans: List[dict]) -> List[int]:
        """Jobs submitted while one of ``spans`` was open."""
        return [j for j, t in self.job_submit.items()
                if any(s["start"] <= t <= s["end"] for s in spans)]

    def tasks_of(self, jobs: List[int]) -> List[dict]:
        return [t for j in jobs for t in self.tasks.get(j, [])]

    def scan_row_metric_ids(self, location: str) -> set:
        """Accumulator ids of 'number of output rows' on every scan node
        whose metadata names ``location`` (cached plans included)."""
        ids: set = set()
        stack = list(self.plans)
        while stack:
            node = stack.pop()
            if node.get("nodeName", "").startswith("Scan") and \
                    location in json.dumps(node.get("metadata", {})):
                ids.update(m["accumulatorId"] for m in node.get("metrics", [])
                           if m.get("name") == "number of output rows")
            stack.extend(node.get("children", []))
        return ids


def accumulated(tasks: List[dict], ids: set) -> int:
    """Sum of the tasks' updates to the accumulators ``ids``: the rows
    those scan nodes really read (a cached re-read updates nothing)."""
    return sum(int(a.get("Update", 0)) for t in tasks
               for a in t["Task Info"].get("Accumulables", [])
               if a.get("ID") in ids)


def bytes_written(tasks: List[dict]) -> int:
    return sum(((t.get("Task Metrics") or {}).get("Output Metrics") or {})
               .get("Bytes Written", 0) for t in tasks)


def spark_counts(log: EventLog, tracer: Tracer,
                 span_names: List[str]) -> Dict[str, Dict[str, float]]:
    """Per span name (every instance pooled): jobs, tasks, shuffle write
    and spill in MB, and max / median task time in seconds.  A job belongs
    to the innermost span of those names open at its submission."""
    out: Dict[str, Dict[str, float]] = {}
    owner: Dict[int, str] = {}
    for job, t in log.job_submit.items():
        s = tracer.innermost(t)
        while s is not None and s["name"] not in span_names:
            s = tracer.spans[s["parent"]] if s["parent"] is not None else None
        if s is not None:
            owner[job] = s["name"]
    for name in span_names:
        jobs = [j for j, n in owner.items() if n == name]
        tasks = log.tasks_of(jobs)
        secs = sorted((t["Task Info"]["Finish Time"]
                       - t["Task Info"]["Launch Time"]) / 1000.0
                      for t in tasks)
        shuffle = spill = 0
        for t in tasks:
            m = t.get("Task Metrics") or {}
            shuffle += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            spill += m.get("Memory Bytes Spilled", 0) \
                + m.get("Disk Bytes Spilled", 0)
        out[name] = {"jobs": len(jobs), "tasks": len(tasks),
                     "shuffle_write_mb": shuffle / 2 ** 20,
                     "spill_mb": spill / 2 ** 20,
                     "task_max_s": secs[-1] if secs else 0.0,
                     "task_p50_s": median(secs) if secs else 0.0}
    return out


def write_trace(path: str, tracer: Tracer, metrics: dict) -> None:
    with open(path, "w") as f:
        json.dump({"spans": tracer.spans, "metrics": metrics}, f, indent=1)
