"""Spans around layer calls, and per-layer Spark counts from the event log.

A :class:`Tracer` keeps spans (name, start, end, parent, run id) in
memory.  Entering a span sets a Spark job group that is unique per
(workload, run, span), so every job the span's thread submits carries
that id in the event log.  Jobs submitted from helper threads the engine
starts (which do not inherit the group) are assigned to the innermost
span open at their submission time; the traced run is single-client, so
that assignment is exact.

After the session stops, :func:`layer_metrics` reads the event log and
sums jobs, stages, tasks and shuffle bytes per layer.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = ("sources", "extract", "entailment", "pipeline", "identity",
          "relationships", "dtdl", "cdm", "unified", "validate", "sinks",
          "sparql", "shacl", "linking", "curate", "dedup")

# per-layer fields reported for every layer; rows_out only where a ratio
# uses it as its base (the other layers' row counts are fixed by the
# checked outputs and move with no optimisation)
FIELDS = ("wall_s", "self_s", "driver_gap_s", "jobs", "stages", "tasks",
          "shuffle_write_mb")
ROWS_OUT = ("extract", "pipeline", "linking", "curate", "dedup", "sparql",
            "shacl")
RATIOS = ("pipeline.dedup_keep_ratio", "extract.skip_ratio",
          "linking.link_ratio", "curate.survivor_ratio", "dedup.pair_yield",
          "sparql.p50_s", "shacl.p50_s", "linking.p50_s")


def metric_names() -> list[str]:
    names = [f"{layer}.{f}" for layer in LAYERS for f in FIELDS]
    names += [f"{layer}.rows_out" for layer in ROWS_OUT]
    return names + list(RATIOS) + ["trace.overhead_s"]


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    run_id: str
    group: str
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Spans of one traced run; ``spark`` is the live session."""
    spark: object
    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    counts: dict = field(default_factory=dict)

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        group = f"{self.run_id}/{name}/{sid}"
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, parent, self.run_id, group, time.time())
        self.spans.append(sp)
        sc = self.spark.sparkContext
        sc.setJobGroup(group, f"kgbench {name}", interruptOnCancel=False)
        self._stack.append(sid)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                sc.setJobGroup(outer.group, f"kgbench {outer.name}",
                               interruptOnCancel=False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def untraced(self):
        """Bookkeeping work (row counts for ratios): its jobs belong to no
        layer."""
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{self.run_id}/_bookkeeping", "kgbench bookkeeping",
                       interruptOnCancel=False)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(len(self.spans), "_bookkeeping", None,
                                   self.run_id, f"{self.run_id}/_bookkeeping",
                                   t0, time.time()))
            sc.setLocalProperty("spark.jobGroup.id", None)


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float
    end: float = 0.0
    stages: list = field(default_factory=list)


def read_event_log(log_dir: str) -> tuple[dict, dict, dict]:
    """→ (jobs by id, completed-stage shuffle bytes, task count by stage)."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(files)}")
    jobs, shuffle, tasks = {}, {}, {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1000.0, stages=ev["Stage IDs"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                tasks[sid] = tasks.get(sid, 0) + 1
                m = ev.get("Task Metrics") or {}
                w = (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                shuffle[sid] = shuffle.get(sid, 0) + w
    return jobs, shuffle, tasks


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def assign_jobs(spans: list[Span], jobs: dict) -> dict[str, list[Job]]:
    """span job group → its jobs: by job group when the job carries one of
    ours, else the innermost span open at submission time."""
    out: dict[str, list[Job]] = {s.group: [] for s in spans}
    for job in jobs.values():
        group = job.group if job.group in out else None
        if group is None:
            open_ = [s for s in spans
                     if s.start <= job.submit <= s.end]
            if not open_:
                continue
            group = max(open_, key=lambda s: s.start).group
        out[group].append(job)
    return out


def layer_metrics(spans: list[Span], jobs: dict, shuffle: dict,
                  tasks: dict) -> dict[str, float]:
    """Per-layer totals over every span of the layer."""
    per_span = assign_jobs(spans, jobs)
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {f"{layer}.{f}": 0.0 for layer in LAYERS for f in FIELDS}
    for s in spans:
        if s.name not in LAYERS:
            continue
        wall = s.end - s.start
        child = _union_length([(c.start, c.end)
                               for c in children.get(s.sid, [])])
        sjobs = per_span[s.group]
        busy = _union_length([(max(j.submit, s.start), min(j.end, s.end))
                              for j in sjobs if j.end >= s.start])
        stage_ids = {sid for j in sjobs for sid in j.stages if sid in tasks}
        key = s.name + "."
        out[key + "wall_s"] += wall
        out[key + "self_s"] += wall - child
        out[key + "driver_gap_s"] += wall - busy
        out[key + "jobs"] += len(sjobs)
        out[key + "stages"] += len(stage_ids)
        out[key + "tasks"] += sum(tasks[i] for i in stage_ids)
        out[key + "shuffle_write_mb"] += sum(
            shuffle.get(i, 0) for i in stage_ids) / 1e6
    return out
