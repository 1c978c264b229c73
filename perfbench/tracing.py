"""Tracing for the benchmark's traced run: spans around the program's
public functions, a parser for Spark's JSON event log, and a streaming
progress listener.  Nothing here edits the program: spans are installed
by rebinding module attributes from the benchmark's side, and the
counters come from Spark's own event log and ``StreamingQueryProgress``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "jhu_data_parser_spark"


@dataclass
class Span:
    name: str  # "<layer>.<function>" or a harness label
    layer: str
    t0: float  # epoch seconds, the clock Spark stamps events with
    parent: int | None
    t1: float = 0.0
    children_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


@dataclass
class SpanRecorder:
    """Keeps spans in memory; one driver thread, so a plain stack."""

    spans: list[Span] = field(default_factory=list)
    stack: list[int] = field(default_factory=list)

    def open(self, name: str, layer: str) -> int:
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, layer, time.time(), parent))
        self.stack.append(len(self.spans) - 1)
        return self.stack[-1]

    def close(self, idx: int) -> None:
        span = self.spans[idx]
        span.t1 = time.time()
        self.stack.pop()
        if span.parent is not None:
            self.spans[span.parent].children_s += span.dur

    def innermost(self, layer_prefix: str) -> str | None:
        for idx in reversed(self.stack):
            if self.spans[idx].layer.startswith(layer_prefix):
                return self.spans[idx].layer
        return None

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        idx = self.open(name, layer)
        try:
            yield self.spans[idx]
        finally:
            self.close(idx)


def install_spans(recorder: SpanRecorder, layers: dict[str, list[str]]) -> None:
    """Wrap ``module.function`` for every ``layer -> [function, ...]``.

    The layer name is the module path under the package
    (``sources.csv_source``).  References bound by ``from ... import``
    in other package modules are rebound too, so calls made inside the
    program (``etl`` calling ``read_csv_dictreader``) are spanned."""
    for layer, names in layers.items():
        module = sys.modules[f"{PACKAGE}.{layer}"]
        for name in names:
            original = getattr(module, name)
            wrapper = _spanned(recorder, original, f"{layer}.{name}", layer)
            for mod_name, mod in list(sys.modules.items()):
                if mod_name.startswith(PACKAGE) and getattr(mod, name, None) is original:
                    setattr(mod, name, wrapper)


def _spanned(recorder: SpanRecorder, fn, name: str, layer: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with recorder.span(name, layer):
            return fn(*args, **kwargs)

    return wrapper


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

PYTHON_ACCUMS = ("data sent to Python workers", "data returned from Python workers")
TASK_FIELDS = ("tasks", "task_run_s", "task_cpu_s", "gc_s", "scan_bytes",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
               "python_bytes")


@dataclass
class Stage:
    stage_id: int
    submit_s: float = 0.0
    complete_s: float = 0.0
    last_task_end_s: float = 0.0
    counters: dict = field(default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0.0))


@dataclass
class Job:
    job_id: int
    start_s: float
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    # (execution start time, {metric name: summed driver-side value})
    sql_metrics: list[tuple[float, dict[str, float]]] = field(default_factory=list)


def _plan_metric_ids(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metric_ids(child, out)


def parse_event_log(paths: list[str]) -> EventLog:
    """Fold one or more uncompressed, non-rolling event-log files into
    per-job, per-stage task counters and per-SQL-execution driver
    metrics.  A stage that ran again (a retry) adds its tasks to the
    same record."""
    log = EventLog()
    exec_start: dict[int, float] = {}
    exec_metric_names: dict[int, dict[int, str]] = {}
    exec_values: dict[int, dict[str, float]] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0)
                    job.stage_ids = list(ev["Stage IDs"])
                    log.jobs[job.job_id] = job
                    for sid in job.stage_ids:
                        log.stages.setdefault(sid, Stage(sid))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                    if "Submission Time" in info:
                        st.submit_s = info["Submission Time"] / 1000.0
                    st.complete_s = info.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = log.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                    _add_task(st, ev)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    eid = ev["executionId"]
                    exec_start[eid] = ev["time"] / 1000.0
                    _plan_metric_ids(ev["sparkPlanInfo"], exec_metric_names.setdefault(eid, {}))
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metric_ids(ev["sparkPlanInfo"],
                                     exec_metric_names.setdefault(ev["executionId"], {}))
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    eid = ev["executionId"]
                    names = exec_metric_names.get(eid, {})
                    vals = exec_values.setdefault(eid, {})
                    for acc_id, value in ev["accumUpdates"]:
                        name = names.get(acc_id)
                        if name is not None:
                            vals[name] = vals.get(name, 0.0) + value
    log.sql_metrics = sorted((exec_start[e], v) for e, v in exec_values.items()
                             if e in exec_start)
    return log


def _add_task(st: Stage, ev: dict) -> None:
    c = st.counters
    info = ev.get("Task Info", {})
    st.last_task_end_s = max(st.last_task_end_s, info.get("Finish Time", 0) / 1000.0)
    c["tasks"] += 1
    m = ev.get("Task Metrics") or {}
    c["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
    c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    c["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for acc in info.get("Accumulables", []):
        if acc.get("Name") in PYTHON_ACCUMS:
            c["python_bytes"] += float(acc.get("Update", 0) or 0)


def jobs_in(log: EventLog, t0: float, t1: float) -> list[Job]:
    """Jobs submitted inside ``[t0, t1]`` (one closed-loop client, so a
    time window attributes every job to the operation that ran it)."""
    return [j for j in log.jobs.values() if t0 <= j.start_s <= t1]


def job_counters(log: EventLog, jobs: list[Job]) -> dict[str, float]:
    out = dict.fromkeys(TASK_FIELDS, 0.0)
    out["jobs"] = float(len(jobs))
    stage_ids = {sid for j in jobs for sid in j.stage_ids}
    ran = [log.stages[s] for s in stage_ids if log.stages[s].counters["tasks"] > 0]
    out["stages"] = float(len(ran))
    for st in ran:
        for k in TASK_FIELDS:
            out[k] += st.counters[k]
    return out


def busy_s(log: EventLog, jobs: list[Job]) -> float:
    """Length of the union of the stages' active intervals."""
    ivs = sorted((log.stages[s].submit_s, log.stages[s].complete_s)
                 for j in jobs for s in j.stage_ids
                 if log.stages[s].counters["tasks"] > 0 and log.stages[s].submit_s > 0)
    total, end = 0.0, float("-inf")
    for a, b in ivs:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def last_task_end(log: EventLog, jobs: list[Job]) -> float:
    return max((log.stages[s].last_task_end_s for j in jobs for s in j.stage_ids),
               default=0.0)


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------

class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch's progress, keyed by the layer that
    started the query (the innermost ``streaming.*`` span open when the
    query started; ``onQueryStarted`` runs synchronously in ``start()``)."""

    def __init__(self, recorder: SpanRecorder):
        super().__init__()
        self.recorder = recorder
        self.layer_of: dict[str, str] = {}
        self.batches: list[dict] = []
        self.lock = threading.Lock()

    def onQueryStarted(self, event):
        layer = self.recorder.innermost("streaming.") or "streaming.unattributed"
        with self.lock:
            self.layer_of[str(event.id)] = layer

    def onQueryProgress(self, event):
        p = event.progress
        start = _iso_epoch(p.timestamp)
        rec = {
            "id": str(p.id),
            "t0": start,
            "t1": start + p.durationMs.get("triggerExecution", 0) / 1000.0,
            "durations": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_mem": sum(s.memoryUsedBytes for s in p.stateOperators),
        }
        with self.lock:
            self.batches.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _iso_epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()
