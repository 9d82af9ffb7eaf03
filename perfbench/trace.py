"""Spans, the Spark event log and streaming progress -> per-layer metrics.

Every run records spans in memory (run -> pass -> query -> build/exec,
and pass -> epoch -> deliver for the streaming workload); the end-to-end
numbers are read off those spans. A traced run (``--trace 1``) adds two
observers that only add logging to the measured program:

- the Spark event log, enabled by confs passed through
  ``PYSPARK_SUBMIT_ARGS`` so the session still comes from the package's
  own ``get_spark``;
- a ``StreamingQueryListener`` recording every ``StreamingQueryProgress``.

Jobs from the event log are attributed to spans by submission time (see
``metrics.attribute_jobs``), then rolled up per module.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime, timezone

from perfbench import metrics as M

MODULES = (
    "relational",
    "analytics",
    "tpch_more",
    "pubsub",
    "dedup",
    "pipeline",
    "graph",
    "textops",
    "similarity",
    "multimodal",
    "retract",
    "streaming",
)
MODULE_FIELDS = (
    ("build_s", "s"),
    ("driver_s", "s"),
    ("exec_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
)
OTHER_LAYERS = (
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.busy_frac", "ratio"),
    ("spark.input_mb", "MB"),
    ("spark.unattributed_jobs", "count"),
    ("streaming.epochs", "count"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.planning_ms", "ms"),
    ("streaming.commit_ms", "ms"),
    ("streaming.latest_offset_ms", "ms"),
    ("streaming.input_rows", "count"),
    ("pubsub.deliver_write_ms", "ms"),
    ("pubsub.fanout", "ratio"),
    ("pubsub.parse_drop_frac", "ratio"),
    ("query.p50_ms", "ms"),
    ("query.tail_ms", "ms"),
    ("deliver.low_p50_ms", "ms"),
    ("deliver.high_p50_ms", "ms"),
    ("deliver.high_tail_ms", "ms"),
    ("deliver.low_tail_ms", "ms"),
    ("loadgen.backlog_msgs", "count"),
    ("loadgen.lag_ms", "ms"),
    ("session.start_s", "s"),
    ("session.first_build_jobs", "count"),
    ("registry.import_s", "s"),
    ("process.peak_rss_mb", "MB"),
    ("driver.error_lines", "count"),
    ("trace.cover_frac", "ratio"),
)
PER_LAYER = tuple(
    (f"{m}.{f}", u) for m in MODULES for f, u in MODULE_FIELDS
) + OTHER_LAYERS


def module_of(fn) -> str:
    """Layer name of a registered query function: its defining module,
    with ``streaming.ops`` reported as ``streaming``."""
    parts = fn.__module__.split(".")
    return "streaming" if "streaming" in parts else parts[-1]


class Tracer:
    """In-memory span recorder. Spans opened with :meth:`span` nest on the
    calling thread; :meth:`add` records a finished span with an explicit
    parent (streaming epochs are only known after the fact)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name, kind, start, end, parent=None, **attrs) -> dict:
        with self._lock:
            sp = {
                "id": len(self.spans),
                "name": name,
                "kind": kind,
                "parent": parent,
                "start": start,
                "end": end,
                **attrs,
            }
            self.spans.append(sp)
        return sp

    @contextmanager
    def span(self, name, kind, parent=None, **attrs):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]["id"]
        sp = self.add(name, kind, time.time(), None, parent, **attrs)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()

    def of_kind(self, *kinds) -> list[dict]:
        return [s for s in self.spans if s["kind"] in kinds and s["end"] is not None]

    def dump(self, path: str) -> None:
        """Write every span with its self time (duration minus the union
        of its children)."""
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        rows = []
        for s in self.spans:
            if s["end"] is None:
                continue
            rows.append(
                {**s, "self_s": M.self_time((s["start"], s["end"]), kids.get(s["id"], []))}
            )
        with open(path, "w") as f:
            json.dump(rows, f)


def iso_to_epoch(ts: str) -> float:
    return (
        datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def progress_record(p: dict) -> dict:
    """The fields of one ``StreamingQueryProgress`` (as JSON) we use."""
    src = (p.get("sources") or [{}])[0]

    def off(o):
        if o is None:
            return None
        o = json.loads(o) if isinstance(o, str) else o
        return o.get("next") if isinstance(o, dict) else None

    return {
        "run": p.get("runId"),
        "batch": p.get("batchId"),
        "rows": p.get("numInputRows", 0),
        "dur": p.get("durationMs", {}),
        "start": iso_to_epoch(p["timestamp"]),
        "from": off(src.get("startOffset")),
        "to": off(src.get("endOffset")),
    }


def make_listener():
    """A ``StreamingQueryListener`` that keeps every progress record."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.records: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.records.append(progress_record(json.loads(event.progress.json)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


def read_event_log(log_dir: str) -> dict:
    """Jobs, stage-to-job map and task metrics from a Spark event log."""
    jobs: dict = {}
    stage_job: dict = {}
    stages_done = []
    tasks = []
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid,
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    stages_done.append(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                            "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                            "shuffle_b": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0)
                            + sw.get("Shuffle Bytes Written", 0),
                            "spill_b": tm.get("Disk Bytes Spilled", 0),
                            "input_b": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                        }
                    )
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["submit"]
    return {
        "jobs": sorted(jobs.values(), key=lambda j: j["submit"]),
        "stage_job": stage_job,
        "stages_done": stages_done,
        "tasks": tasks,
    }


def _layer_of(span_by_id: dict, sid) -> dict | None:
    """Nearest enclosing span (self included) carrying a module and phase."""
    while sid is not None:
        sp = span_by_id[sid]
        if sp.get("module") and sp.get("phase"):
            return sp
        sid = sp["parent"]
    return None


def _inside_measured(span_by_id: dict, sid) -> bool:
    while sid is not None:
        sp = span_by_id[sid]
        if sp["kind"] == "pass":
            return True
        sid = sp["parent"]
    return False


def _median_or_zero(values) -> float:
    return M.median(values) if values else 0.0


def layer_metrics(tracer: Tracer, log: dict, progress: list[dict], cores: int) -> dict:
    """Per-layer metrics of the measured passes of one traced run."""
    spans = [s for s in tracer.spans if s["end"] is not None]
    by_id = {s["id"]: s for s in spans}
    passes = [s for s in spans if s["kind"] == "pass"]
    jobs = [j for j in log["jobs"] if M.innermost(passes, j["submit"]) is not None]
    owner = M.attribute_jobs(jobs, spans)
    job_intervals = [(j["submit"], j["end"]) for j in log["jobs"]]

    tasks_by_job: dict = {}
    for t in log["tasks"]:
        jid = log["stage_job"].get(t["stage"])
        tasks_by_job.setdefault(jid, []).append(t)

    out: dict = {}
    for m in MODULES:
        for f, _ in MODULE_FIELDS:
            out[f"{m}.{f}"] = 0
    for sp in spans:
        if sp.get("module") and sp.get("phase") and _inside_measured(by_id, sp["id"]):
            m = sp["module"]
            dur = sp["end"] - sp["start"]
            out[f"{m}.{sp['phase']}_s"] += dur
            out[f"{m}.driver_s"] += M.self_time((sp["start"], sp["end"]), job_intervals)
    unattributed = 0
    for j in jobs:
        layer = _layer_of(by_id, owner[j["id"]])
        if layer is None:
            unattributed += 1
            continue
        m = layer["module"]
        ts = tasks_by_job.get(j["id"], [])
        out[f"{m}.jobs"] += 1
        out[f"{m}.tasks"] += len(ts)
        out[f"{m}.shuffle_mb"] += sum(t["shuffle_b"] for t in ts) / 1e6
        out[f"{m}.spill_mb"] += sum(t["spill_b"] for t in ts) / 1e6

    job_ids = {j["id"] for j in jobs}
    measured_tasks = [t for t in log["tasks"] if log["stage_job"].get(t["stage"]) in job_ids]
    wall = sum(p["end"] - p["start"] for p in passes)
    task_s = sum(t["run_s"] for t in measured_tasks)
    out["spark.jobs"] = len(jobs)
    out["spark.stages"] = sum(1 for s in log["stages_done"] if log["stage_job"].get(s) in job_ids)
    out["spark.tasks"] = len(measured_tasks)
    out["spark.task_s"] = task_s
    out["spark.gc_s"] = sum(t["gc_s"] for t in measured_tasks)
    out["spark.busy_frac"] = task_s / (wall * cores) if wall else 0.0
    out["spark.input_mb"] = sum(t["input_b"] for t in measured_tasks) / 1e6
    out["spark.unattributed_jobs"] = unattributed

    epochs = [p for p in progress if M.innermost(passes, p["start"]) is not None]
    d = [p["dur"] for p in epochs]
    out["streaming.epochs"] = len(epochs)
    out["streaming.add_batch_ms"] = _median_or_zero([x.get("addBatch", 0) for x in d])
    out["streaming.planning_ms"] = _median_or_zero([x.get("queryPlanning", 0) for x in d])
    out["streaming.commit_ms"] = _median_or_zero(
        [x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]
    )
    out["streaming.latest_offset_ms"] = _median_or_zero([x.get("latestOffset", 0) for x in d])
    out["streaming.input_rows"] = sum(p["rows"] for p in epochs)

    cover = []
    for p in passes:
        kids = [(s["start"], s["end"]) for s in spans
                if s["parent"] == p["id"] and s["kind"] in ("query", "epoch")]
        if p["end"] > p["start"]:
            cover.append(M.union_length(M.clip(kids, p["start"], p["end"])) / (p["end"] - p["start"]))
    out["trace.cover_frac"] = min(cover) if cover else 0.0

    builds = [s for s in spans if s["kind"] == "build" and _inside_measured(by_id, s["id"])]
    # The first build on a fresh session, whose memos start cold.
    first = next((s for s in builds if s.get("fresh")), builds[0] if builds else None)
    out["session.first_build_jobs"] = (
        sum(1 for j in jobs if first["start"] <= j["submit"] <= first["end"]) if first else 0
    )
    return out
