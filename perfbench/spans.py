"""Spans around the benchmark's own calls into each layer of the package,
and their attribution to the Spark jobs those calls launched.

A span is opened by the benchmark around one public call (``match_schema``,
``materialize_mapping``, a ``collect``...). While it is open, the span's id
is set as a SparkContext local property, which Spark copies into every job
the call submits, including the jobs AQE submits from its own threads. After
the session stops, the event log is read and every job, stage and task is
attributed to the innermost span whose id it carries.

Spans are kept in memory and attributed once, at exit; with tracing off
``span`` only yields.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Optional, Tuple

SPAN_PROPERTY = "perfbench.span"

LAYERS = (
    "session",
    "sources.standards",
    "operators.schema_matching",
    "operators.value_matching",
    "plans",
    "sink",
)

# per-layer metric -> unit; every layer reports every metric
LAYER_METRICS = {
    "call_s": "s",
    "self_s": "s",
    "driver_only_s": "s",
    "jobs": "count",
    "stages": "count",
    "stages_skipped": "count",
    "tasks": "count",
    "task_cpu_s": "s",
    "jvm_gc_s": "s",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "codegen_ms": "ms",
    "python_bytes": "bytes",
}

# whole-pass and set-up metrics; ``pass.unattributed_s`` is the pass wall
# time no layer span covers, so the layers' self_s plus it equal
# ``pass.wall_s``
RUN_METRICS = {
    "pass.wall_s": "s",
    "pass.unattributed_s": "s",
    "pass.driver_only_s": "s",
    "pass.jobs": "count",
    "first_pass.wall_s": "s",
    "first_pass.codegen_ms": "ms",
    "first_pass.jobs": "count",
    "sources.standards.setup_s": "s",
}

PER_LAYER_UNITS = {
    **{f"{layer}.{m}": u for layer in LAYERS for m, u in LAYER_METRICS.items()},
    **RUN_METRICS,
}

_PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


def union_length(intervals: Iterable[Tuple[float, float]]) -> float:
    """Length of the union of possibly overlapping ``(start, end)`` intervals.

    Concurrent jobs (AQE submits sibling query stages as separate jobs)
    overlap, so neither the sum of their durations nor the gaps between
    consecutive start/end times measure the time the caller waited on jobs.
    """
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@dataclass
class Span:
    id: str
    layer: str
    what: str
    scope: str  # "setup", "pass0" (the cold pass), "pass1"..
    parent: Optional[str]
    start: float = 0.0  # epoch seconds, the event log's clock
    end: float = 0.0
    gc_ms: float = 0.0
    codegen_ns: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory. Disabled, ``span`` costs one generator."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.scope = ""
        self.spans: List[Span] = []
        self._open: List[Span] = []
        self._ids = itertools.count()

    def _jvm_counters(self) -> Tuple[float, float]:
        """(GC ms since JVM start, codegen compile ns since JVM start), or
        zeros before the JVM exists."""
        from pyspark import SparkContext

        jvm = SparkContext._jvm
        if jvm is None:
            return 0.0, 0.0
        gc_ms = sum(
            b.getCollectionTime()
            for b in jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        return float(gc_ms), float(codegen.compileTime())

    def bind(self) -> None:
        """Tag the active SparkContext's jobs with the innermost open span;
        called again when a span creates the context."""
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if self.enabled and sc is not None:
            sc.setLocalProperty(SPAN_PROPERTY, self._open[-1].id if self._open else None)

    @contextmanager
    def span(self, layer: str, what: str = ""):
        if not self.enabled:
            yield
            return
        sp = Span(
            id=f"s{next(self._ids)}",
            layer=layer,
            what=what,
            scope=self.scope,
            parent=self._open[-1].id if self._open else None,
        )
        self._open.append(sp)
        self.bind()
        gc0, cg0 = self._jvm_counters()
        sp.start = time.time()
        try:
            yield
        finally:
            sp.end = time.time()
            gc1, cg1 = self._jvm_counters()
            sp.gc_ms, sp.codegen_ns = gc1 - gc0, cg1 - cg0
            self._open.pop()
            self.bind()
            self.spans.append(sp)

    def dump(self) -> List[dict]:
        return [sp.__dict__ | {"wall": sp.wall} for sp in self.spans]


# ---------------------------------------------------------------------------
# event-log attribution
# ---------------------------------------------------------------------------


@dataclass
class _Job:
    span: Optional[str]
    start: float
    end: Optional[float] = None
    stage_ids: Tuple[int, ...] = ()


@dataclass
class _Stage:
    span: Optional[str]
    tasks: int = 0
    cpu_ns: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    python_bytes: int = 0


@dataclass
class EventLog:
    jobs: Dict[int, _Job] = field(default_factory=dict)
    stages: Dict[int, _Stage] = field(default_factory=dict)


def read_event_log(lines: Iterable[str]) -> EventLog:
    """Jobs (interval, span, listed stages) and per-stage task totals from
    the JSON lines of an uncompressed, non-rolling Spark event log."""
    log = EventLog()
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            log.jobs[e["Job ID"]] = _Job(
                span=(e.get("Properties") or {}).get(SPAN_PROPERTY),
                start=e["Submission Time"] / 1000.0,
                stage_ids=tuple(e["Stage IDs"]),
            )
        elif kind == "SparkListenerJobEnd":
            log.jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            span = (e.get("Properties") or {}).get(SPAN_PROPERTY)
            log.stages.setdefault(sid, _Stage(span=span))
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(e["Stage ID"], _Stage(span=None))
            st.tasks += 1
            m = e.get("Task Metrics") or {}
            st.cpu_ns += m.get("Executor CPU Time", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill += m.get("Disk Bytes Spilled", 0)
            for acc in e["Task Info"].get("Accumulables") or ():
                if acc.get("Name") in _PYTHON_BYTES:
                    st.python_bytes += int(acc.get("Update") or 0)
    return log


def read_event_logs(directory: str) -> EventLog:
    """Merge every event log in ``directory`` (one per SparkContext).

    Job and stage ids restart with each SparkContext, so each log is read
    on its own and its ids are offset before merging."""
    merged = EventLog()
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        if not os.path.isfile(path) or name.startswith("."):
            continue
        with open(path, encoding="utf-8") as f:
            log = read_event_log(f)
        job_off = max(merged.jobs, default=-1) + 1
        stage_off = max(merged.stages, default=-1) + 1
        for jid, job in log.jobs.items():
            job.stage_ids = tuple(s + stage_off for s in job.stage_ids)
            merged.jobs[jid + job_off] = job
        for sid, st in log.stages.items():
            merged.stages[sid + stage_off] = st
    return merged


def span_metrics(spans: List[Span], log: EventLog) -> Dict[str, Dict[str, float]]:
    """Per span id: the LAYER_METRICS of the span's subtree.

    ``driver_only_s`` is the span's wall time minus the union of its jobs'
    intervals (clipped to the span); ``self_s`` is its wall time minus the
    union of its child spans; a stage counts as skipped, as Spark's UI
    counts it, when a job of the span lists it but no job of the span ran
    it because its shuffle output already existed. AQE runs each exchange
    as its own map-stage job and the next job lists that stage again under
    a new id, so every consumed AQE exchange counts one."""
    children: Dict[str, List[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)

    def subtree(sp: Span) -> set:
        ids = {sp.id}
        for c in children.get(sp.id, ()):
            ids |= subtree(c)
        return ids

    out = {}
    for sp in spans:
        ids = subtree(sp)
        jobs = [j for j in log.jobs.values() if j.span in ids]
        stages = {sid: st for sid, st in log.stages.items() if st.span in ids}
        listed = {sid for j in jobs for sid in j.stage_ids}
        job_union = union_length(
            (max(j.start, sp.start), min(j.end if j.end is not None else sp.end, sp.end))
            for j in jobs
            if j.start < sp.end
        )
        child_union = union_length((c.start, c.end) for c in children.get(sp.id, ()))
        out[sp.id] = {
            "call_s": sp.wall,
            "self_s": sp.wall - child_union,
            "driver_only_s": sp.wall - job_union,
            "jobs": len(jobs),
            "stages": len(stages),
            "stages_skipped": len(listed - set(stages)),
            "tasks": sum(st.tasks for st in stages.values()),
            "task_cpu_s": sum(st.cpu_ns for st in stages.values()) / 1e9,
            "jvm_gc_s": sp.gc_ms / 1000.0,
            "shuffle_read_bytes": sum(st.shuffle_read for st in stages.values()),
            "shuffle_write_bytes": sum(st.shuffle_write for st in stages.values()),
            "spill_bytes": sum(st.spill for st in stages.values()),
            "codegen_ms": sp.codegen_ns / 1e6,
            "python_bytes": sum(st.python_bytes for st in stages.values()),
        }
    return out


def per_layer_report(
    spans: List[Span], log: EventLog, timed_scopes: List[str], cold_scope: str
) -> Dict[str, float]:
    """Every PER_LAYER_UNITS metric.

    A layer's value is the median, over the timed passes, of the sum of its
    spans in each pass; ``session`` runs only in set-up and reads the
    set-up's span. A layer that does not run on the workload reads 0."""
    per_span = span_metrics(spans, log)

    def layer_sums(scopes: List[str], layer: str) -> List[Dict[str, float]]:
        sums = []
        for scope in scopes:
            mine = [per_span[s.id] for s in spans if s.scope == scope and s.layer == layer]
            if mine:
                sums.append({m: sum(x[m] for x in mine) for m in LAYER_METRICS})
        return sums

    report: Dict[str, float] = {}
    for layer in LAYERS:
        sums = layer_sums(["setup"] if layer == "session" else timed_scopes, layer)
        for m in LAYER_METRICS:
            report[f"{layer}.{m}"] = statistics.median(x[m] for x in sums) if sums else 0.0

    passes = layer_sums(timed_scopes, "pass")
    cold = layer_sums([cold_scope], "pass")[0]
    standard = layer_sums(["setup"], "sources.standards")
    report.update(
        {
            "pass.wall_s": statistics.median(p["call_s"] for p in passes),
            "pass.unattributed_s": statistics.median(p["self_s"] for p in passes),
            "pass.driver_only_s": statistics.median(p["driver_only_s"] for p in passes),
            "pass.jobs": statistics.median(p["jobs"] for p in passes),
            "first_pass.wall_s": cold["call_s"],
            "first_pass.codegen_ms": cold["codegen_ms"],
            "first_pass.jobs": cold["jobs"],
            "sources.standards.setup_s": standard[0]["call_s"] if standard else 0.0,
        }
    )
    return report
