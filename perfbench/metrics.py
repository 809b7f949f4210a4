"""The per-layer metrics a traced run reports, with the end-to-end metric
and workload each one should move.

Every traced run prints every metric below; a layer the workload never
calls reports 0. Timings are medians over the spans of that name, counts
and ``exec.*`` counters are means per traced operation, ``self.*`` is the
mean self time per traced operation.

End-to-end metrics are named as in the result line (``setup_s``,
``op_cpu_s``) or in the readable report (``query_p50_s``,
``request_p50_s``, ``query_tail_s``, ``request_tail_s``, ``fit_s``, see
README.md); ``docs_per_s`` is the traced bulk ingest's throughput,
reported by traced online_requests runs only.
"""

from __future__ import annotations

import statistics

from tracing import LAYERS

_OLAP_P50 = "query_p50_s,op_cpu_s@olap_mix"
_ONLINE = "request_p50_s,request_tail_s,op_cpu_s@online_requests"
_INGEST = "docs_per_s@online_requests(traced ingest)"

#: (name, unit, better)
PER_LAYER: list[tuple[str, str, str]] = []
#: name → the end-to-end metric@workload it should move
MOVES: dict[str, str] = {}


def _add(name: str, unit: str, better: str, moves: str) -> None:
    PER_LAYER.append((name, unit, better))
    MOVES[name] = moves


for _n in ("session.get_spark_s", "session.warmup_s", "plans.registry_load_s"):
    _add(_n, "s", "lower", "setup_s@all")
_add("plans.build_s", "s", "lower", f"{_OLAP_P50};{_ONLINE}")
_add("plans.eager_jobs", "count", "lower", f"{_OLAP_P50};{_ONLINE}")
_add("plans.optimize_s", "s", "lower", f"{_OLAP_P50};{_ONLINE}")
_add("sources.load_s", "s", "lower", f"setup_s@all;{_OLAP_P50}")
_add("sources.scan_rows", "count", "lower", _OLAP_P50)
_add("sources.scan_mb", "MB", "lower", _OLAP_P50)
_add("sources.write_parquet_s", "s", "lower", _INGEST)
_add("sources.write_mb_per_input_mb", "ratio", "lower", _INGEST)
for _f in ("scans", "joins", "aggregates", "windows", "sets_sorts", "sketches", "streaming.twins"):
    _add(f"{_f}.query_s", "s", "lower", _OLAP_P50)
_add("graphs.query_s", "s", "lower", "query_tail_s@olap_mix")
_add("dedup.curate_s", "s", "lower", _INGEST)
_add("similarity.semdedup_s", "s", "lower", _INGEST)
_add("datapipe.tokenize_pack_s", "s", "lower", _INGEST)
# must-not-move guards: a speed-up may not come from dropping less
_add("dedup.keep_ratio", "ratio", "lower", "guard@online_requests(traced ingest)")
_add("dedup.planted_exact_recall", "ratio", "higher", "guard@online_requests(traced ingest)")
_add("similarity.semdedup_keep_ratio", "ratio", "lower", "guard@online_requests(traced ingest)")
_add("ml.fit_text_classifier_s", "s", "lower", "fit_s,setup_s@online_requests")
for _n in (
    "ml.transform_s",
    "ml.nb_classify_s",
    "similarity.ann_topk_s",
    "similarity.mmr_rerank_s",
    "textops.bm25_search_s",
    "dedup.gate_score_s",
):
    _add(_n, "s", "lower", _ONLINE)
_add("dedup.gate_index_s", "s", "lower", "setup_s@online_requests")
_add("ml.accuracy", "ratio", "higher", "guard@online_requests")
_add("exec.jobs_per_op", "count", "lower", f"{_OLAP_P50};{_ONLINE}")
_add("exec.stages_per_op", "count", "lower", f"{_OLAP_P50};{_ONLINE}")
_add("exec.tasks_per_op", "count", "lower", f"{_OLAP_P50};{_ONLINE}")
_add("exec.shuffle_write_mb", "MB", "lower", f"{_OLAP_P50};{_ONLINE}")
_add("exec.spill_mb", "MB", "lower", f"{_OLAP_P50};{_ONLINE}")
_add("exec.codegen_compiles_per_op", "count", "lower", f"{_OLAP_P50};{_ONLINE}")
_add("exec.jit_compile_s", "s", "lower", f"{_OLAP_P50};{_ONLINE}")
_add("exec.gc_s", "s", "lower", "query_tail_s@olap_mix;request_tail_s@online_requests")
_add("exec.failed_task_ratio", "ratio", "lower", "query_tail_s@olap_mix;request_tail_s@online_requests")
_add("exec.idle_share", "ratio", "lower", "request_p50_s@online_requests")
_add("exec.skipped_stage_ratio", "ratio", "higher", _ONLINE)
for _layer in LAYERS:
    _add(f"self.{_layer}_s", "s", "lower", f"{_OLAP_P50};{_ONLINE}")
_add("trace.overhead_s", "s", "lower", "none (traced minus untraced op latency)")


def exec_metrics(ops: list[dict]) -> dict[str, float]:
    """Per-operation means of the Spark counters the tracer read."""
    if not ops:
        return {}
    mean = lambda key: statistics.fmean(o[key] for o in ops)  # noqa: E731
    stages = sum(o["stages"] for o in ops)
    tasks = sum(o["tasks"] for o in ops)
    return {
        "plans.eager_jobs": mean("eager_jobs"),
        "sources.scan_rows": mean("scan_rows"),
        "sources.scan_mb": mean("scan_mb"),
        "exec.jobs_per_op": mean("jobs"),
        "exec.stages_per_op": mean("stages"),
        "exec.tasks_per_op": mean("tasks"),
        "exec.codegen_compiles_per_op": mean("codegen_compiles"),
        "exec.jit_compile_s": mean("jit_s"),
        "exec.shuffle_write_mb": mean("shuffle_write_mb"),
        "exec.spill_mb": mean("spill_mb"),
        "exec.gc_s": mean("gc_s"),
        "exec.failed_task_ratio": sum(o["failed_tasks"] for o in ops) / tasks if tasks else 0.0,
        "exec.idle_share": statistics.median(o["idle_share"] for o in ops),
        "exec.skipped_stage_ratio": sum(o["skipped_stages"] for o in ops) / stages if stages else 0.0,
    }
