"""Outside-in layer tracing: benchmark-side spans + a Spark event-log fold.

The benchmark never edits the engine to trace it.  It wraps each call it
makes into an engine module (``plans.pagerank``, ``operators.secondary``,
...) in a :class:`Span`.  In a traced run every span also tags the Spark
jobs it launches with a job group unique to that call
(``sparkContext.setJobGroup``); Spark's own event log then records every
job, stage and task with that group, and :func:`fold` joins the two into
one row of metrics per layer.

Event-log facts the fold relies on (Spark 4.1, uncompressed JSON lines):

- a rolling log is a directory ``eventlog_v2_<app>/`` holding parts
  ``events_<n>_<app>``; :func:`read_event_log` reads every part in
  numeric order of ``n``;
- ``SparkListenerJobStart`` carries the job group
  (``Properties["spark.jobGroup.id"]``) and the ids of every stage the
  job *could* run; stages whose shuffle output already exists are
  skipped and never complete, so only ``SparkListenerStageCompleted``
  counts a stage as executed;
- ``SparkListenerTaskEnd`` carries the task's run/CPU/GC times and
  shuffle bytes; it names its stage, not its job.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

_PART_RE = re.compile(r"^events_(\d+)_")


@dataclass
class Span:
    """One benchmark call into one layer (epoch seconds)."""

    layer: str
    group: str
    start: float
    end: float
    supersteps: int = 0


class Tracer:
    """Records spans; with ``tag_jobs`` it also sets a job group per span.

    Spark job groups are thread-local, so a span tags exactly the jobs
    launched from the thread that opened it — the serving workload opens
    its spans on the HTTP server's handler threads for that reason.
    """

    def __init__(self, spark_context, tag_jobs: bool):
        self._sc = spark_context
        self._tag = tag_jobs
        self._lock = threading.Lock()
        self._n = 0
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str, supersteps: int = 0, keep_group: bool = False):
        """Time one call into ``layer``; yields the call's job group.

        ``keep_group`` leaves the group set on the thread after the span
        closes, for a caller that materializes the returned frame later
        on the same thread (the HTTP handler collecting a registry
        closure's result)."""
        with self._lock:
            self._n += 1
            group = f"{layer}#{self._n}"
        if self._tag:
            self._sc.setJobGroup(group, layer)
        start = time.time()
        try:
            yield group
        finally:
            end = time.time()
            if self._tag and not keep_group:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(Span(layer, group, start, end, supersteps))

    def walls(self, layer: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.layer == layer]


def read_event_log(log_dir: str) -> list[dict]:
    """Every event under ``log_dir``: a rolling ``eventlog_v2_*``
    directory (parts in numeric order) or plain single-file logs."""
    events: list[dict] = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if _PART_RE.match(p)]
            parts.sort(key=lambda p: int(_PART_RE.match(p).group(1)))
            files = [os.path.join(path, p) for p in parts]
        elif entry.startswith(".") or entry.endswith(".inprogress"):
            continue
        else:
            files = [path]
        for f in files:
            with open(f) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# per-layer metric -> unit
LAYER_METRICS = {
    "wall_s": "s",
    "jobs": "count",
    "single_task_stages": "count",
    "tasks": "count",
    "driver_gap_s": "s",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "core_util": "ratio",
}


def fold(
    events: list[dict], spans: list[Span], cores: int
) -> tuple[dict[str, dict], dict[str, tuple[float, int]]]:
    """Per-layer table from the event log and the spans of one run, plus
    ``{job group: (span wall, jobs)}`` for every span.

    A span's wall runs from its start to the later of its end and its
    last job's end: the serving layer's spans close when the registry
    closure returns, but ``serve.py`` collects the result afterwards on
    the same thread, under the same job group.  ``driver_gap_s`` is that
    wall minus the union of the span's job intervals — time the driver
    spent planning, collecting or idle between jobs.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, int] = {}  # executed stages only
    task_sums: dict[int, list[float]] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                "start": e["Submission Time"] / 1000.0,
                "end": None,
            }
            for sid in e.get("Stage IDs", []):
                # a reused (skipped) stage keeps the job that first ran it
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            acc = task_sums.setdefault(e["Stage ID"], [0, 0.0, 0.0, 0.0, 0.0])
            acc[0] += 1
            acc[1] += m.get("Executor Run Time", 0) / 1000.0
            acc[2] += m.get("Executor CPU Time", 0) / 1e9
            acc[3] += m.get("JVM GC Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            acc[4] += sw.get("Shuffle Bytes Written", 0) / 1e6

    by_group: dict[str, list[int]] = {}
    for jid, j in jobs.items():
        if j["group"] is not None:
            by_group.setdefault(j["group"], []).append(jid)
    stages_by_job: dict[int, list[int]] = {}
    for sid in stage_tasks:
        if sid in stage_job:
            stages_by_job.setdefault(stage_job[sid], []).append(sid)

    table: dict[str, dict] = {}
    per_span: dict[str, tuple[float, int]] = {}
    for span in spans:
        row = table.setdefault(
            span.layer, {k: 0.0 for k in LAYER_METRICS} | {"supersteps": 0}
        )
        jids = by_group.get(span.group, [])
        ivals = [
            (jobs[j]["start"], jobs[j]["end"])
            for j in jids
            if jobs[j]["end"] is not None
        ]
        end = max([span.end] + [e for _, e in ivals])
        wall = end - span.start
        per_span[span.group] = (wall, len(jids))
        row["wall_s"] += wall
        row["driver_gap_s"] += max(0.0, wall - _union_len(ivals))
        row["jobs"] += len(jids)
        row["supersteps"] += span.supersteps
        for j in jids:
            for sid in stages_by_job.get(j, []):
                n, run, cpu, gc, sw = task_sums.get(sid, [0, 0, 0, 0, 0])
                row["single_task_stages"] += stage_tasks[sid] == 1
                row["tasks"] += n
                row["task_run_s"] += run
                row["task_cpu_s"] += cpu
                row["gc_s"] += gc
                row["shuffle_write_mb"] += sw
    for row in table.values():
        wall = row["wall_s"]
        row["core_util"] = row["task_run_s"] / (wall * cores) if wall else 0.0
    return table, per_span
