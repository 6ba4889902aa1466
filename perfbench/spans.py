"""Spans around calls into the engine's layers, and the fold of Spark's
event log into per-span counts.

A span is (id, name, layer, start, end, parent, op).  The benchmark
opens one around each call it makes into a layer; nothing inside the
engine is instrumented.  While a span is open on the client thread,
the Spark jobs that thread submits carry the span id as their job
group.  Jobs submitted from threads the engine starts itself (thread
pools do not inherit the job group) are attributed by time to the
innermost client span open when they were submitted.  Micro-batch jobs
run on the stream thread, inside the benchmark's ``foreachBatch``
wrapper, which opens the sink span there.

With tracing off, ``span`` only keeps the wall-clock interval, so the
untraced run pays nothing beyond two clock reads per call.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
STAGE_FIELDS = ("run_s", "cpu_s", "gc_s", "deserialize_s", "scheduler_delay_s",
                "input_bytes", "input_rows", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "output_bytes")


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: "int | None" = None
    op: "int | None" = None
    thread: str = ""
    attrs: "dict[str, object]" = field(default_factory=dict)
    counts: "dict[str, float]" = field(default_factory=lambda: defaultdict(float))

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: "list[Span]" = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> "list[Span]":
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, op: "int | None" = None, **attrs):
        """Time one call into ``layer``.  Yields the Span; its ``end``
        is set when the block exits, whether or not it raised."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = self._next
            self._next += 1
        sp = Span(
            sid, name, layer, time.time(),
            parent=parent.sid if parent else None,
            op=op if op is not None else (parent.op if parent else None),
            thread=threading.current_thread().name, attrs=dict(attrs),
        )
        sc = self.spark.sparkContext
        saved = None
        if self.enabled:
            # a micro-batch thread already carries Spark's own group
            # (the query's run id); put it back afterwards
            saved = [(k, sc.getLocalProperty(k)) for k in _GROUP_PROPS]
            sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name, False)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            for key, value in saved or ():
                sc.setLocalProperty(key, value)
            with self._lock:
                self.spans.append(sp)

    def self_times(self) -> "dict[int, float]":
        """Span duration minus the union of its children's intervals."""
        kids: "dict[int, list[Span]]" = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
                a, b = max(c.start, s.start), min(c.end, s.end)
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.sid] = max(0.0, s.duration - covered)
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({
                    "id": s.sid, "name": s.name, "layer": s.layer, "start": s.start,
                    "end": s.end, "parent": s.parent, "op": s.op, "thread": s.thread,
                    "self_s": selfs[s.sid], "attrs": s.attrs, "counts": dict(s.counts),
                }, default=str) + "\n")


def add_self_times(tracer: Tracer, lay: dict, n_ops: int) -> None:
    """``self_s.<layer>``: self time of the timed spans of each layer,
    per timed operation."""
    selfs = tracer.self_times()
    totals: "dict[str, float]" = {}
    for s in tracer.spans:
        if s.op is None:
            continue
        totals[s.layer] = totals.get(s.layer, 0.0) + selfs[s.sid]
    for layer, total in totals.items():
        lay[f"self_s.{layer}"] = total / max(n_ops, 1)


# ---- event log ------------------------------------------------------------


def _task_figures(ev: dict) -> "dict[str, float]":
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    run_ms = m.get("Executor Run Time", 0)
    deser_ms = m.get("Executor Deserialize Time", 0)
    ser_ms = m.get("Result Serialization Time", 0)
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    getting = info.get("Getting Result Time", 0)
    fetch_ms = info.get("Finish Time", 0) - getting if getting else 0
    delay_ms = max(0, duration - run_ms - deser_ms - ser_ms - fetch_ms)
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    out = m.get("Output Metrics") or {}
    return {
        "run_s": run_ms / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "deserialize_s": deser_ms / 1e3,
        "scheduler_delay_s": delay_ms / 1e3,
        "input_bytes": inp.get("Bytes Read", 0),
        "input_rows": inp.get("Records Read", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "output_bytes": out.get("Bytes Written", 0),
    }


def read_event_log(log_dir: str) -> "list[dict]":
    """Jobs from the (closed) event log of the one application that
    wrote into ``log_dir``: id, submission time, properties, the
    number of stages that ran, tasks, and summed task figures."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one closed event log in {log_dir}, found {files}")
    jobs: "dict[int, dict]" = {}
    stage_job: "dict[int, int]" = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "id": jid, "submitted": ev.get("Submission Time", 0) / 1e3,
                    "props": ev.get("Properties") or {}, "stages": 0, "tasks": 0,
                    **{k: 0.0 for k in STAGE_FIELDS},
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                if jid is None:
                    continue
                job = jobs[jid]
                job["tasks"] += 1
                for k, v in _task_figures(ev).items():
                    job[k] += v
    return sorted(jobs.values(), key=lambda j: j["id"])


def attribute_jobs(tracer: Tracer, jobs: "list[dict]") -> "dict[str, int]":
    """Add each job's figures to the span it belongs to.  Returns how
    many jobs were attributed by job group, by time, and not at all."""
    by_id = {s.sid: s for s in tracer.spans}
    client = sorted((s for s in tracer.spans if s.thread == "MainThread"), key=lambda s: s.start)
    tally = defaultdict(int)
    for job in jobs:
        props = job["props"]
        group = props.get("spark.jobGroup.id") or ""
        target = None
        if group.startswith(GROUP_PREFIX):
            target = by_id.get(int(group[len(GROUP_PREFIX):]))
            how = "group"
        if target is None:
            # innermost client span open at submission time
            t = job["submitted"]
            for s in client:
                if s.start <= t <= s.end and (target is None or s.start >= target.start):
                    target = s
            how = "time"
        if target is None:
            tally["unattributed"] += 1
            continue
        tally[how] += 1
        target.counts["jobs"] += 1
        target.counts["stages"] += job["stages"]
        target.counts["tasks"] += job["tasks"]
        for k in STAGE_FIELDS:
            target.counts[k] += job[k]
    return dict(tally)


def subtree_counts(tracer: Tracer, span: Span) -> "dict[str, float]":
    """Counts of ``span`` plus all of its descendants."""
    kids: "dict[int, list[Span]]" = defaultdict(list)
    for s in tracer.spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    total: "dict[str, float]" = defaultdict(float)
    stack = [span]
    while stack:
        s = stack.pop()
        for k, v in s.counts.items():
            total[k] += v
        stack.extend(kids.get(s.sid, []))
    return total


def layer_counts(tracer: Tracer, layer: str) -> "tuple[dict[str, float], int]":
    """Summed subtree counts over the spans of ``layer`` that have no
    ancestor in the same layer, and how many such spans there were."""
    by_id = {s.sid: s for s in tracer.spans}

    def nested(s: Span) -> bool:
        p = by_id.get(s.parent) if s.parent is not None else None
        while p is not None:
            if p.layer == layer:
                return True
            p = by_id.get(p.parent) if p.parent is not None else None
        return False

    tops = [s for s in tracer.spans if s.layer == layer and not nested(s)]
    total: "dict[str, float]" = defaultdict(float)
    for s in tops:
        for k, v in subtree_counts(tracer, s).items():
            total[k] += v
    return total, len(tops)


# ---- streaming listener ----------------------------------------------------


def make_progress_listener():
    """A StreamingQueryListener that keeps every progress event's full
    ``durationMs`` map and its state-operator figures."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.records: "list[dict]" = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ops = p.stateOperators or []
            rec = {
                "name": p.name,
                "start": dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                "run_id": str(p.runId),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs or {}),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_memory_bytes": sum(o.memoryUsedBytes for o in ops),
                "state_commit_ms": sum(o.commitTimeMs for o in ops),
                "dropped_by_watermark": sum(o.numRowsDroppedByWatermark for o in ops),
            }
            with self._lock:
                self.records.append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressLog()
