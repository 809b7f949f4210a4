"""Spans and Spark execution counters for the traced benchmark run.

Spans are recorded only from the benchmark's own files, around each call
into an engine layer. A span has a name, start, end, parent and the id of
the operation (one query, request or pipeline pass) it belongs to. Spans
stay in memory and are written out once, at exit.

For each traced operation the tracer also reads Spark's status store for
the jobs run under that operation's job group: job, stage and task counts,
shuffle write, spill, task GC time, failed tasks, skipped stages and the
share of wall time during which no stage had tasks running. It reads two
JVM-wide counters before and after the operation: Spark's generated-code
compiles and HotSpot's JIT compile time, which is spent on compiler
threads alongside the operation.

A disabled tracer, or an operation run untraced, costs one attribute test
per span.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

#: span-name prefix → engine layer, for self time per layer
_LAYER_OF = {
    "session": "session",
    "sources": "sources",
    "plans": "plans",
    "ml": "ml",
    "streaming": "streaming",
    "scans": "operators.scans",
    "joins": "operators.joins",
    "aggregates": "operators.aggregates",
    "windows": "operators.windows",
    "sets_sorts": "operators.sets_sorts",
    "sketches": "operators.sketches",
    "graphs": "operators.graphs",
    "dedup": "operators.dedup",
    "similarity": "operators.similarity",
    "datapipe": "operators.datapipe",
    "textops": "operators.textops",
}
LAYERS = tuple(dict.fromkeys(_LAYER_OF.values())) + ("bench",)


def layer_of(span_name: str) -> str:
    return _LAYER_OF.get(span_name.split(".", 1)[0], "bench")


_NULL = contextlib.nullcontext()


class Tracer:
    """Collects spans and per-operation Spark counters when enabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op_id: str | None = None
        self._active = enabled
        self._sc = None
        self._n_ops = 0

    def bind(self, spark) -> None:
        """Point the counters at the run's SparkContext."""
        self._sc = spark.sparkContext

    def span(self, name: str, **attrs):
        if not self._active:
            return _NULL
        return self._span(name, attrs)

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        rec = {
            "id": len(self.spans),
            "op": self._op_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **({"attrs": attrs} if attrs else {}),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, name: str, traced: bool = True, **attrs):
        """One timed operation. Inside a traced operation every span and
        Spark job is tagged with the operation's id; the counters are read
        after the root span closes, still inside this block, so their cost
        shows in the operation's latency as tracing overhead."""
        if not self.enabled:
            yield None
            return
        self._n_ops += 1
        op_id = f"{name}#{self._n_ops}"
        self._active = traced
        if not traced:
            try:
                yield None
            finally:
                self._active = True
            return
        self._op_id = op_id
        self._set_group(op_id)
        compiles0, jit0 = _compile_counters(self._sc._jvm)
        try:
            with self._span(name, attrs) as root:
                yield root
        finally:
            self._set_group(None)
            self._op_id = None
        compiles1, jit1 = _compile_counters(self._sc._jvm)
        self.ops.append(
            {
                "op": op_id,
                "name": name,
                **attrs,
                **self._exec_counters(op_id, root),
                "codegen_compiles": compiles1 - compiles0,
                "jit_s": jit1 - jit0,
            }
        )

    @contextlib.contextmanager
    def build(self):
        """The ``plans.build`` span: the call that returns a DataFrame.
        Jobs Spark runs inside it (before the caller's action) are counted
        as eager jobs."""
        if not self._active or self._op_id is None:
            yield
            return
        self._set_group(self._op_id + ".build")
        try:
            with self._span("plans.build", {}):
                yield
        finally:
            self._set_group(self._op_id)

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, group)

    def _exec_counters(self, op_id: str, root: dict) -> dict:
        sc = self._sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        build_jobs = tracker.getJobIdsForGroup(op_id + ".build")
        jobs = list(tracker.getJobIdsForGroup(op_id)) + list(build_jobs)
        stage_ids, skipped = set(), 0
        c = dict.fromkeys(
            ("tasks", "failed_tasks", "gc_s", "shuffle_write_mb", "spill_mb", "scan_rows", "scan_mb"),
            0.0,
        )
        busy = []
        for jid in jobs:
            job = store.job(jid)
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                skipped += 1
                continue
            c["tasks"] += st.numTasks()
            c["failed_tasks"] += st.numFailedTasks()
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
            c["scan_rows"] += st.inputRecords()
            c["scan_mb"] += st.inputBytes() / 1e6
            first, done = st.firstTaskLaunchedTime(), st.completionTime()
            if first.isDefined() and done.isDefined():
                busy.append((first.get().getTime() / 1e3, done.get().getTime() / 1e3))
        wall = root["end"] - root["start"]
        return {
            "wall_s": wall,
            "jobs": len(jobs),
            "eager_jobs": len(build_jobs),
            "stages": len(stage_ids),
            "skipped_stages": skipped,
            "idle_share": max(0.0, 1.0 - _covered(busy, root["start"], root["end"]) / wall)
            if wall > 0
            else 0.0,
            **c,
        }

    # ------------------------------------------------------------ reports

    def self_times(self) -> dict[str, float]:
        """Total self time per layer over the spans of traced operations:
        a span's duration minus the part its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        ops = {o["op"] for o in self.ops}
        out = dict.fromkeys(LAYERS, 0.0)
        for s in self.spans:
            if s["op"] in ops:
                out[layer_of(s["name"])] += s["end"] - s["start"] - child[s["id"]]
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
            for o in self.ops:
                f.write(json.dumps({"exec": o}) + "\n")


def _compile_counters(jvm) -> tuple[int, float]:
    """Spark's generated-code compiles so far, and HotSpot's JIT compile
    seconds so far, both for the whole JVM."""
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    jit_ms = jvm.java.lang.management.ManagementFactory.getCompilationMXBean().getTotalCompilationTime()
    return compiles, jit_ms / 1e3


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
