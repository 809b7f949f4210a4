"""Shared run harness: session set-up, latency statistics, the run
environment record, peak RSS and the result line."""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import statistics
import time
from collections import defaultdict

import numpy as np

from tracing import Tracer

#: a tail percentile needs at least this many samples beyond it
TAIL_BEYOND = 10

#: the result line's metrics. ``op_cpu_s`` is the CPU time of the whole
#: process tree per operation over the timed loop: it caps the throughput
#: of many concurrent clients at nproc / op_cpu_s. The readable report adds
#: the latencies and the one client's throughput; their run-to-run spread
#: on a shared 4-vCPU host follows the host's CPU steal and is wider than
#: the bound a gated metric may have (README.md)
END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
}


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and its live descendants: the Python driver, the Spark
    JVM it launched and the JVM's Python workers."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children[ppid].append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of peak RSS (VmHWM) over the process tree of ``root_pid``."""
    total_kb = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by the process tree of
    ``root_pid``, including children of it that have ended and been
    waited for."""
    ticks = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except OSError:
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def tail(values: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least TAIL_BEYOND samples above
    it, and that percentile. When that percentile would be below the
    median (fewer than 2 * TAIL_BEYOND samples), the maximum, reported as
    percentile 100."""
    n = len(values)
    if n < 2 * TAIL_BEYOND:
        return max(values), 100
    pct = math.floor(100.0 * (n - TAIL_BEYOND) / n)
    return float(np.percentile(values, pct)), pct


def canon_value(v) -> str:
    """One cell as text, exact for floats, UTC-naive for timestamps."""
    if v is None:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (float, np.floating)):
        return "NaN" if math.isnan(v) else repr(float(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (datetime.datetime, np.datetime64)) or type(v).__name__ == "Timestamp":
        import pandas as pd

        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _is_null(v) -> bool:
    """None, NaT and pandas NA (NaN floats stay values, as in the oracle)."""
    return v is None or type(v).__name__ in ("NaTType", "NAType")


def frame_digest(pdf) -> tuple[int, str]:
    """Row count and an order-insensitive hash of a pandas frame, columns
    taken in name order."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(canon_value(None if _is_null(v) else v) for v in row)
        for row in pdf[cols].itertuples(index=False)
    )
    h = hashlib.sha256("\x1e".join([",".join(cols)] + rows).encode())
    return len(rows), h.hexdigest()


class Bench:
    """State of one benchmark run: its inputs, session, timings, failures."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work_dir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work_dir = work_dir
        self.tracer = Tracer(trace)
        self.spark = None
        self.gen_s = 0.0
        self.setup_s = 0.0
        self.loop_start = 0.0
        self.loop_s = 0.0
        self.loop_cpu = 0.0
        self.latencies: list[float] = []
        self.traced_lat: list[float] = []
        self.untraced_lat: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.report: dict[str, tuple[float, str, str]] = {}  # name → (value, unit, note)
        self.layer: dict[str, float] = {}
        self.env: dict = {}

    # ------------------------------------------------------------- set-up

    def generate(self, make):
        """Run the benchmark's own input generation; its time is left out
        of ``setup_s``."""
        t0 = time.perf_counter()
        out = make()
        self.gen_s += time.perf_counter() - t0
        return out

    def setup(self, build_state):
        """Start the session and build the workload's state: ``get_spark``,
        the registry load, then ``build_state(spark)`` (input load,
        caching, index build, model fit, warm-up)."""
        from pyspark_for_ebook_classification_spark.plans import registry
        from pyspark_for_ebook_classification_spark.session import get_spark

        tr = self.tracer
        with tr.span("session.get_spark"):
            self.spark = get_spark()
        tr.bind(self.spark)
        with tr.span("plans.registry_load"):
            registry.all_queries()
        state = build_state(self.spark)
        self._record_env()
        return state

    def _record_env(self) -> None:
        import pyspark

        sc = self.spark.sparkContext
        conf = self.spark.conf
        self.env.update(
            workload=self.workload,
            seed=self.seed,
            nproc=len(os.sched_getaffinity(0)),
            master=sc.master,
            default_parallelism=sc.defaultParallelism,
            shuffle_partitions=conf.get("spark.sql.shuffle.partitions"),
            driver_memory=conf.get("spark.driver.memory", "default"),
            spark_version=pyspark.__version__,
            java_version=sc._jvm.System.getProperty("java.version"),
            run_seconds=self.seconds,
        )

    # ------------------------------------------------------------- timing

    def timed(self, seq, cycle: int = 1):
        """Yield (index, item) from ``seq`` in whole cycles of ``cycle``
        operations, so every run serves whole cycles of its mix, and stop
        at the cycle boundary nearest to the end of the run's seconds; the
        first yield marks the first timed operation."""
        t_end = None
        for i, item in enumerate(seq):
            now = time.perf_counter()
            if t_end is None:
                self.setup_s = process_age_s() - self.gen_s
                self.loop_cpu = tree_cpu_s(os.getpid())
                self.loop_start = now
                t_end = now + self.seconds
            elif i % cycle == 0:
                per_cycle = (now - self.loop_start) / (i // cycle)
                if now + per_cycle / 2 >= t_end:
                    break
            yield i, item
        self.loop_s = time.perf_counter() - self.loop_start
        self.loop_cpu = tree_cpu_s(os.getpid()) - self.loop_cpu

    def modes(self, i: int) -> tuple:
        """How to run operation ``i``: once, untraced (None), in an
        untraced run; twice in a traced run, traced (True) and untraced
        (False) back to back, the first alternating between operations,
        so the run also measures tracing overhead on the same work."""
        if not self.trace:
            return (None,)
        return (True, False) if i % 2 == 0 else (False, True)

    def record(self, latency: float, traced: bool | None = None) -> None:
        self.latencies.append(latency)
        self.attempted += 1
        if traced is True:
            self.traced_lat.append(latency)
        elif traced is False:
            self.untraced_lat.append(latency)

    def fail(self, message: str) -> None:
        """One operation failed or returned a wrong result."""
        self.failed += 1
        self.problems.append(message)

    def note(self, name: str, value: float, unit: str, note: str = "") -> None:
        self.report[name] = (value, unit, note)

    def note_latency(self, kind: str, values: list[float]) -> None:
        """``<kind>_p50_s`` and ``<kind>_tail_s`` with their sample count."""
        if not values:
            return
        tail_v, pct = tail(values)
        self.note(f"{kind}_p50_s", statistics.median(values), "s", f"n={len(values)}")
        self.note(f"{kind}_tail_s", tail_v, "s", f"p{pct}, n={len(values)}")

    # ------------------------------------------------------------- results

    def median_of(self, name: str) -> float:
        d = self.tracer.durations(name)
        return statistics.median(d) if d else 0.0

    def finish(self, kind: str, per: str, throughput: float) -> dict:
        """Compute the end-to-end metrics, print the readable report and
        return the result line's object. The report names the operation
        ``kind`` (``query_p50_s``, ...) and the throughput ``<per>_per_s``;
        the result line uses the workload-neutral names of END_TO_END."""
        rss = tree_peak_rss_mb(os.getpid())
        e2e = {
            "setup_s": self.setup_s,
            "op_cpu_s": self.loop_cpu / len(self.latencies),
        }
        self.note("setup_s", e2e["setup_s"], "s",
                  "process start to first timed op, less input generation")
        self.note("op_cpu_s", e2e["op_cpu_s"], "s",
                  f"process tree CPU over the timed loop, {len(self.latencies)} ops")
        self.note_latency(kind, self.latencies)
        self.note(f"{per}_per_s", throughput, "1/s", f"over {self.loop_s:.2f} s")
        self.note("fail_ratio", self.failed / max(self.attempted, 1), "ratio",
                  f"{self.failed} of {self.attempted} ops")
        self.note("peak_rss_mb", rss, "MB", "driver process tree, VmHWM")
        print("# env " + json.dumps(self.env, sort_keys=True))
        for name, (value, unit, note) in self.report.items():
            print(f"# {self.workload} {name} = {value:.6g} {unit}" + (f"  ({note})" if note else ""))
        for p in self.problems:
            print(f"# CHECK FAILED: {p}")
        if self.trace:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in self.layer_metrics().items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        return {
            "correct": not self.problems and not self.failed,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        from metrics import PER_LAYER, exec_metrics

        tr = self.tracer
        units = {name: unit for name, unit, _ in PER_LAYER}
        out = {name: 0.0 for name in units}
        out.update(self.layer)
        out.update(exec_metrics(tr.ops))
        for layer, secs in tr.self_times().items():
            out[f"self.{layer}_s"] = secs / max(len(tr.ops), 1)
        if self.traced_lat and self.untraced_lat:
            out["trace.overhead_s"] = statistics.median(self.traced_lat) - statistics.median(
                self.untraced_lat
            )
        unknown = set(out) - set(units)
        if unknown:
            raise KeyError(f"per-layer metrics missing from metrics.PER_LAYER: {sorted(unknown)}")
        return {name: (out[name], units[name]) for name in units}
