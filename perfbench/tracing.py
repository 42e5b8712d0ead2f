"""Spans, executed-plan counters and streaming-progress helpers.

Spans are kept in memory and written out once, when the run ends. Plan
counters come from the SQL metrics of the executed plan after adaptive
execution has finished, including the plans inside each query stage, so
they need neither the Spark UI nor its REST API.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import statistics
import time
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone


def percentile(values, p: float) -> float:
    """The ``p``-th percentile (0-100) with linear interpolation between
    closest ranks; defined for a single value too."""
    v = sorted(values)
    k = (len(v) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


class Tracer:
    """In-memory span recorder. A span is a dict with ``name``,
    ``start`` and ``end`` (seconds on the ``time.time`` clock), ``id``,
    ``parent`` (a span id or None), the run's ``trace`` id and free-form
    ``attrs``."""

    def __init__(self, label: str):
        self.trace_id = f"{label}-{uuid.uuid4().hex[:12]}"
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def overhead(self):
        """Count the enclosed work (plan walks, span building) as
        tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def add(self, name: str, start: float, end: float, parent=None, **attrs):
        sid = next(self._ids)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({
            "trace": self.trace_id, "id": sid, "parent": parent,
            "name": name, "start": start, "end": end, "attrs": attrs,
        })
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {"trace": self.trace_id, "id": sid, "parent": parent,
               "name": name, "start": time.time(), "end": None,
               "attrs": attrs}
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: (s["start"], s["id"])):
                fh.write(json.dumps(s) + "\n")


class NullTracer(Tracer):
    """Tracing off: spans are not recorded."""

    def add(self, name, start, end, parent=None, **attrs):
        return None

    @contextmanager
    def span(self, name, **attrs):
        yield {"attrs": attrs}

    def write(self, path):
        pass


# -- executed-plan counters --------------------------------------------------

_PY_KEYS = {
    "pythonBootTime": "python_boot_ms",
    "pythonInitTime": "python_init_ms",
    "pythonTotalTime": "python_total_ms",
}


_METRIC = re.compile(
    r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)"
)


def _walk(spark, plan, visit) -> None:
    """Visit every operator of an executed plan: through the adaptive
    plan's final plan, each query stage's plan, and, once each, the
    plans that filled the in-memory caches this execution read. Each
    operator's metrics come from one ``toString`` of its metric map,
    which keeps the number of JVM round trips per operator small."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    identity = spark._jvm.System.identityHashCode
    seen: set[int] = set()
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        visit(name, {k: int(v) for k, v in
                     _METRIC.findall(node.metrics().toString())})
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
        else:
            if name == "InMemoryTableScan":
                cached = node.relation().cachedPlan()
                if identity(cached) not in seen:
                    seen.add(identity(cached))
                    todo.append(cached)
            todo.extend(conv.asJava(node.children()))


def run_with_counters(spark, df, collect: bool = False, tracer=None) -> dict:
    """Execute ``df`` and sum its executed plan's counters: ``wall_s``,
    ``rows`` (rows of the result), ``shuffle_bytes``, ``scan_bytes``,
    ``spill_bytes``, the Python worker times of every Arrow/pandas node
    in ms, and ``join_rows_max``, the largest row count any join
    emitted (the candidate pairs of a self-join). With ``collect`` the
    rows come back to the driver through ``toPandas``; otherwise they
    are produced and dropped on the executors, like the noop sink. The
    plan walk counts as ``tracer``'s overhead. Stages an earlier job
    materialised (``localCheckpoint``) are not in the plan."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    rows = len(df.toPandas()) if collect else qe.toRdd().count()
    wall = time.perf_counter() - t0
    out = {"wall_s": wall, "rows": rows, "shuffle_bytes": 0,
           "scan_bytes": 0, "spill_bytes": 0, "join_rows_max": 0,
           **{v: 0 for v in _PY_KEYS.values()}}

    def visit(cls, m):
        out["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        if "Scan" in cls:
            out["scan_bytes"] += m.get("filesSize", 0)
        out["spill_bytes"] += m.get("spillSize", 0)
        for k, v in _PY_KEYS.items():
            out[v] += m.get(k, 0)
        if "Join" in cls:
            out["join_rows_max"] = max(
                out["join_rows_max"], m.get("numOutputRows", 0)
            )

    t0 = time.perf_counter()
    _walk(spark, qe.executedPlan(), visit)
    if tracer is not None:
        tracer.overhead_s += time.perf_counter() - t0
    return out


# -- streaming progress ------------------------------------------------------

def progress_dicts(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def batch_stats(progress: list[dict]) -> dict:
    """The ``microbatch.*`` and ``assembly.*`` per-layer metrics of a
    query's progress events: data batches (input rows > 0) and idle
    batches, the median of each ``durationMs`` phase, and the state
    operator's size, writes and commit time."""
    data = [p for p in progress if p.get("numInputRows")]
    idle = [p for p in progress if not p.get("numInputRows")]

    def p50(rows, key):
        vals = [p.get("durationMs", {}).get(key, 0) for p in rows]
        return float(statistics.median(vals)) if vals else 0.0

    state = [(p.get("stateOperators") or [{}])[0] for p in progress]
    return {
        "microbatch.data_batches": len(data),
        "microbatch.idle_batches": len(idle),
        "microbatch.trigger_ms_p50": p50(data, "triggerExecution"),
        "microbatch.add_batch_ms_p50": p50(data, "addBatch"),
        "microbatch.planning_ms_p50": p50(data, "queryPlanning"),
        "microbatch.wal_commit_ms_p50": p50(data, "walCommit"),
        "microbatch.commit_offsets_ms_p50": p50(data, "commitOffsets"),
        "microbatch.idle_batch_ms_p50": p50(idle, "triggerExecution"),
        "assembly.state_bytes_max": max(
            (s.get("memoryUsedBytes", 0) for s in state), default=0
        ),
        "assembly.state_rows_updated": sum(
            s.get("numRowsUpdated", 0) for s in state
        ),
        "assembly.state_rows_final": (
            state[-1].get("numRowsTotal", 0) if state else 0
        ),
        "assembly.state_commit_ms": sum(
            s.get("commitTimeMs", 0) for s in state
        ),
    }


def _iso_to_epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()


def batch_start(progress: dict) -> float:
    """When a micro-batch started, in ``time.time`` seconds."""
    return _iso_to_epoch(progress["timestamp"])


def add_batch_spans(tracer: Tracer, progress: list[dict]) -> None:
    """One span per micro-batch, with a child span per ``durationMs``
    phase laid end to end in Spark's phase order."""
    order = ("latestOffset", "queryPlanning", "walCommit", "getBatch",
             "addBatch", "commitOffsets")
    for p in progress:
        start = batch_start(p)
        d = p.get("durationMs", {})
        end = start + d.get("triggerExecution", 0) / 1000
        sid = tracer.add(
            "microbatch", start, end,
            batch_id=p.get("batchId"), input_rows=p.get("numInputRows", 0),
        )
        t = start
        for phase in order:
            if phase in d:
                tracer.add(f"microbatch.{phase}", t, t + d[phase] / 1000,
                           parent=sid)
                t += d[phase] / 1000
