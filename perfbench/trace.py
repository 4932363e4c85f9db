"""Benchmark-side tracing: spans around calls into engine layers, the Spark
event-log fold, and the Structured Streaming progress fold.

Spans are recorded by wrapping a public function at the module where its
caller looks it up (``nntsc_spark.export.server.select_aggregated_data``,
``nntsc_spark.streaming.ingest.write_fact``, ...), so the engine runs
unmodified.  Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Thread-aware span recorder.  A span is (name, start, end, parent
    span id, operation id); the operation id is whatever the calling thread
    last declared with :meth:`op`."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def op(self, op_id: str):
        prev = getattr(self._local, "op", None)
        self._local.op = op_id
        try:
            yield
        finally:
            self._local.op = prev

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        rec = {
            "id": sid, "name": name, "parent": stack[-1] if stack else None,
            "op": getattr(self._local, "op", None), "start": time.monotonic(),
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.monotonic()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, iterator: bool = False) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.  With
        ``iterator`` the span lasts until the returned iterator is drained."""
        orig = getattr(owner, attr)
        tracer = self

        if iterator:
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                with tracer.span(name):
                    yield from orig(*a, **kw)
        else:
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                with tracer.span(name):
                    return orig(*a, **kw)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def total_ms(self, name: str, t0: float, t1: float, where=None) -> float:
        """Summed duration of ``name`` spans that started inside [t0, t1]
        (and satisfy ``where``, if given)."""
        return 1000.0 * sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and t0 <= s["start"] <= t1 and (where is None or where(s))
        )

    def self_ms(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += 1000.0 * (s["end"] - s["start"] - child[s["id"]])
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


# -- Spark event log -----------------------------------------------------

STAGE_FIELDS = (
    "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "shuffle_write_bytes", "spill_bytes",
)


def fold_event_log(path: str) -> list[dict]:
    """One record per Spark job in an uncompressed JSON event log.

    Each record has the job id, its job group (``spark.jobGroup.id``), its
    submit and completion times (epoch seconds) and the sums over its
    completed stages' tasks: stage and task counts, executor run, CPU and
    GC time (ms), shuffle bytes written and bytes spilled to disk.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    completed: set[int] = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "job": jid,
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev.get("Submission Time", 0) / 1000.0,
                    "end": None,
                    "stage_ids": list(ev.get("Stage IDs", [])),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1000.0
            elif kind == "SparkListenerStageCompleted":
                completed.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                acc = stage_tasks[ev["Stage ID"]]
                acc["tasks"] += 1
                acc["executor_run_ms"] += tm.get("Executor Run Time", 0)
                acc["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                acc["gc_ms"] += tm.get("JVM GC Time", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    for job in jobs.values():
        sums = dict.fromkeys(STAGE_FIELDS, 0.0)
        for sid in job.pop("stage_ids"):
            if sid not in completed or stage_job.get(sid) != job["job"]:
                continue
            sums["stages"] += 1
            for k, v in stage_tasks.get(sid, {}).items():
                sums[k] += v
        job.update(sums)
    return sorted(jobs.values(), key=lambda j: j["job"])


def fold_jobs(jobs: list[dict]) -> dict[str, float]:
    """Sum job records into ``jobs`` plus every STAGE_FIELDS total."""
    out = dict.fromkeys(("jobs", *STAGE_FIELDS), 0.0)
    for j in jobs:
        out["jobs"] += 1
        for k in STAGE_FIELDS:
            out[k] += j[k]
    return out


# -- Structured Streaming progress ---------------------------------------

PROGRESS_FIELDS = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "latest_offset_ms": "latestOffset",
    "wal_commit_ms": "walCommit",
}


def fold_progress(progress: list[dict]) -> dict[str, float]:
    """Per-epoch means from ``StreamingQuery.recentProgress`` records,
    counting only epochs that read input."""
    epochs = [p for p in progress if p.get("numInputRows", 0) > 0]
    n = len(epochs)
    out = {"epochs": float(n)}
    out["input_rows_per_epoch"] = sum(p["numInputRows"] for p in epochs) / n if n else 0.0
    for key, field in PROGRESS_FIELDS.items():
        vals = [p.get("durationMs", {}).get(field, 0) for p in epochs]
        out[key] = sum(vals) / n if n else 0.0
    return out
