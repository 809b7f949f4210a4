#!/usr/bin/env python3
"""The repository benchmark: one seeded command per workload, or both.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 0

Workloads: olap_mix and online_requests (see README.md). The
command generates every input from ``--seed``, sets up the engine once,
serves whole cycles of the workload's mix for about ``--seconds``
seconds in a closed loop with one client, checks
every output, and prints a readable report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones from
a traced run. It exits non-zero when a correctness check fails.

``--workload all`` runs each workload in its own process, one after the
other, and ends with one JSON line whose metric names are prefixed with the
workload's (``olap_mix.op_cpu_s``, ...).

All scratch output (parquet inputs and sinks, Spark's local dirs, temp
files) goes under ``perfbench/.work/`` and is removed at exit, except the
traced run's spans, kept as ``perfbench/.work/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("olap_mix", "online_requests")


def _contain_scratch(tmp: str) -> None:
    """Send this process's, Spark's and the JVM's temp files into ``tmp``,
    make it the working directory and pin the process clock to UTC (the
    engine's session time zone)."""
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    os.environ["TZ"] = "UTC"
    time.tzset()
    tempfile.tempdir = tmp
    os.chdir(tmp)


def _stop_spark(b) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    if b is not None and b.spark is not None:
        b.spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def _run_all(args) -> int:
    """Each workload in a fresh process; one combined result line."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False).stdout
        lines = out.rstrip("\n").split("\n")
        print("\n".join(lines[:-1]), flush=True)
        try:
            res = json.loads(lines[-1])
        except json.JSONDecodeError:
            print(f"# {w}: no result line", flush=True)
            return 1
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        combined["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(combined), flush=True)
    return 0 if combined["correct"] else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return _run_all(args)

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    _contain_scratch(tmp)
    sys.path.insert(0, ROOT)

    from harness import Bench

    b = None
    try:
        b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
        result = importlib.import_module(args.workload).run(b)
        if b.trace:
            b.tracer.write(
                os.path.join(HERE, ".work", f"spans-{args.workload}-{args.seed}.jsonl")
            )
    finally:
        if "pyspark" in sys.modules:
            _stop_spark(b)
        os.chdir(HERE)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
