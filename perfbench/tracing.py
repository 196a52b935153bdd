"""Spans, the Spark event-log fold, and the stream latency computation.

Everything here observes the engine from outside: spans are recorded in
memory around calls into public functions, and the event log written by a
traced session is folded into per-span job and task counters afterwards.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass
from urllib.parse import unquote, urlparse


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


# --- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0


class Tracer:
    """In-memory span recorder.  Each span also sets a Spark job group, so
    the jobs it launches are labelled in the event log; the fold attributes
    jobs by submission time, which also covers jobs the streaming engine
    launches from its own threads."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        s = Span(name, time.time())
        try:
            yield s
        finally:
            s.end = time.time()
            self.spans.append(s)
            sc.setJobGroup("harness", "harness")

    def wrap_stages(self, pipeline) -> None:
        """Wrap each ``(name, fn)`` of ``pipeline.stages`` in place, so a
        stage added to the pipeline later is measured without edits here."""
        for i, (name, fn) in enumerate(pipeline.stages):
            pipeline.stages[i] = (name, self._traced(name, fn))

    def _traced(self, name: str, fn):
        def call(carry):
            with self.span(name):
                return fn(carry)

        return call

    def to_json(self) -> list[dict]:
        return [{"name": s.name, "start": s.start, "end": s.end} for s in self.spans]


# --- event log ---------------------------------------------------------------

TASK_COUNTERS = (
    "jobs", "tasks", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "input_bytes",
)
#: The SQL metric every Python-evaluating plan node (ArrowEvalPython,
#: MapInPandas, ...) keeps, and the seconds in one unit of each metric type.
PYTHON_WORKER_METRIC = "time to run Python workers"
_METRIC_SECONDS = {"timing": 1e-3, "nsTiming": 1e-9}


def _plan_metrics(info: dict, out: dict) -> None:
    """accumulator id -> (metric name, type) over a ``sparkPlanInfo`` tree."""
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


def _python_seconds(accumulables: list[dict], plan_metrics: dict) -> float:
    total = 0.0
    for a in accumulables:
        name, kind = plan_metrics.get(a.get("ID"), ("", ""))
        if name == PYTHON_WORKER_METRIC:
            total += int(a.get("Update", 0)) * _METRIC_SECONDS.get(kind, 0.0)
    return total


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every uncompressed log file under ``log_dir``, in
    order: Spark rolls an application's log into ``events_<n>_...`` files
    inside an ``eventlog_v2_<app>`` directory, next to an ``appstatus``
    marker."""
    files = []
    for root, _, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names if not n.startswith(".")]

    def order(path):
        base = os.path.basename(path)
        parts = base.split("_")
        idx = int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0
        return (os.path.dirname(path), idx, base)

    events = []
    for path in sorted(files, key=order):
        if os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


@dataclass
class EventLog:
    """The parts of a Spark event log the fold needs."""

    jobs: dict  # job id -> {"submit": s, "stages": [...], "group": str|None}
    stage_tasks: dict  # stage id -> list of task-metric dicts
    sql: dict  # execution id -> {"start": s, "end": s, "text": str}

    @classmethod
    def parse(cls, events: list[dict]) -> "EventLog":
        jobs, stage_tasks, sql = {}, {}, {}
        plan_metrics: dict = {}
        for ev in events:
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "stages": ev.get("Stage IDs", []),
                    "group": props.get("spark.jobGroup.id"),
                }
            elif kind == "SparkListenerTaskEnd":
                metrics = dict(ev.get("Task Metrics") or {})
                # Plan metrics reach the log as task accumulable updates;
                # their ids come from the (adaptive) plan events before.
                metrics["python_worker_s"] = _python_seconds(
                    (ev.get("Task Info") or {}).get("Accumulables", []), plan_metrics
                )
                stage_tasks.setdefault(ev["Stage ID"], []).append(metrics)
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metrics(ev.get("sparkPlanInfo") or {}, plan_metrics)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                _plan_metrics(ev.get("sparkPlanInfo") or {}, plan_metrics)
                sql[ev["executionId"]] = {
                    "start": ev["time"] / 1000.0,
                    "end": None,
                    "text": f"{ev.get('description', '')}\n"
                    f"{ev.get('physicalPlanDescription', '')}",
                }
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                if ev["executionId"] in sql:
                    sql[ev["executionId"]]["end"] = ev["time"] / 1000.0
        return cls(jobs, stage_tasks, sql)

    def jobs_between(self, start: float, end: float) -> list[int]:
        return [j for j, info in self.jobs.items() if start <= info["submit"] <= end]

    def task_counters(self, job_ids) -> dict:
        """Sum task metrics over the stages of ``job_ids`` (a stage shared
        by two jobs counts once)."""
        stages = {s for j in job_ids for s in self.jobs[j]["stages"]}
        out = dict.fromkeys((*TASK_COUNTERS, "python_worker_s"), 0.0)
        out["jobs"] = float(len(job_ids))
        for s in stages:
            for m in self.stage_tasks.get(s, []):
                out["tasks"] += 1
                out["python_worker_s"] += m["python_worker_s"]
                out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                out["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                out["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                out["input_bytes"] += (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0
                )
        return out

    def sql_seconds_matching(self, start: float, end: float, needle: str) -> float:
        """Wall seconds of the SQL executions started in ``[start, end]``
        whose description or physical plan names ``needle`` (an output path)."""
        total = 0.0
        for e in self.sql.values():
            if start <= e["start"] <= end and e["end"] and needle in e["text"]:
                total += e["end"] - e["start"]
        return total


def fold_spans(log: EventLog, spans: list[Span], layers) -> dict:
    """Per-layer task counters: for each layer name, the jobs submitted
    inside any span of that name, summed and divided by the number of such
    spans (one span per measured iteration)."""
    out = {}
    for layer in layers:
        mine = [s for s in spans if s.name == layer]
        jobs = sorted({j for s in mine for j in log.jobs_between(s.start, s.end)})
        counters = log.task_counters(jobs)
        n = max(len(mine), 1)
        for k in TASK_COUNTERS:
            out[f"{layer}.{k}"] = counters[k] / n
    return out


# --- stream latency ------------------------------------------------------------


def file_batches(checkpoint: str) -> dict[str, int]:
    """Landed file path -> micro-batch id, from the file source's metadata
    log (``sources/0/<batchId>`` plus compacted ``<batchId>.compact``)."""
    src = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(src):
        return out
    for name in os.listdir(src):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(src, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # the "v1" version header
                entry = json.loads(line)
                out[unquote(urlparse(entry["path"]).path)] = int(entry["batchId"])
    return out


def batch_commits(progresses: list[dict]) -> dict[int, float]:
    """Micro-batch id -> commit time (epoch seconds): the trigger start
    stamped in the progress plus its ``triggerExecution`` duration."""
    from datetime import datetime

    out = {}
    for p in progresses:
        if not p.get("numInputRows"):
            continue
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
        out[int(p["batchId"])] = (
            start.timestamp() + p["durationMs"]["triggerExecution"] / 1000.0
        )
    return out


def file_latencies(
    due: dict[str, float], batch_of: dict[str, int], committed: dict[int, float]
) -> tuple[list[float], float]:
    """Per landed file: seconds from when it was due to land until the
    micro-batch holding it committed.  Also returns the end lag: last
    commit minus last due time.  Raises if a file was never committed."""
    lat = []
    last_commit = 0.0
    for path, t_due in due.items():
        batch = batch_of.get(path)
        if batch is None or batch not in committed:
            raise ValueError(f"landed file never committed: {path}")
        lat.append(committed[batch] - t_due)
        last_commit = max(last_commit, committed[batch])
    return lat, last_commit - max(due.values())
