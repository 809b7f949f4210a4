"""olap_mix: relational and analytic registry queries over the sf0.01
tables in ``perfbench/data/sf0.01``, each collected to the driver.

A fixed mix of one query per family (scans, joins, aggregates, windows,
sets_sorts, sketches, graphs, streaming twins). A timed cycle runs the mix
once in a seed-shuffled order, and a run serves whole cycles. Set-up runs
the mix WARMUP_PASSES times, untimed, as warm-up: a query's first run in a
session costs up to twice a later one, and varies more. Every timed
result is checked against the registry's own oracle SQL on DuckDB (row
count plus an order-insensitive value hash), outside the timed region.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from collections import defaultdict

from harness import Bench, frame_digest

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
MIX = {
    "scans": ("scan_parquet_checksum",),
    "joins": ("join_inner_revenue_by_customer",),
    "aggregates": ("agg_pricing_summary",),
    "windows": ("window_sessionize_gap",),
    "sets_sorts": ("topk_global_lineitems",),
    "sketches": ("sketch_kmv_distinct",),
    "graphs": ("graph_jaccard_link_prediction",),
    "streaming.twins": ("stream_tumbling_hourly_twin",),
}
FAMILY_OF = {q: fam for fam, qs in MIX.items() for q in qs}
#: set-up runs the mix this many times: a query's second run in a session
#: is still up to 1.5 times slower than its later runs
WARMUP_PASSES = 2


def _schedule(seed: int):
    rng = random.Random(seed)
    names = sorted(FAMILY_OF)
    while True:
        rng.shuffle(names)
        yield from names


def _oracle_digests(queries: dict, paths: dict) -> dict[str, tuple[int, str]]:
    import duckdb

    con = duckdb.connect()
    for name, path in paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    out = {name: frame_digest(con.execute(queries[name].oracle).df()) for name in FAMILY_OF}
    con.close()
    return out


def run(b: Bench) -> dict:
    from pyspark_for_ebook_classification_spark.plans import explain, registry
    from pyspark_for_ebook_classification_spark.sources import TABLES, load

    paths = {
        t: os.path.join(DATA_DIR, f"{t}.parquet")
        for t in TABLES
        if os.path.exists(os.path.join(DATA_DIR, f"{t}.parquet"))
    }
    b.env["tables"] = "sf0.01"
    b.env["input_mb"] = sum(os.path.getsize(p) for p in paths.values()) / 1e6
    tr = b.tracer
    queries: dict = {}

    def build_state(spark):
        queries.update(registry.all_queries())  # loaded by the set-up's span
        with tr.span("sources.load"):
            for t in paths:
                load(spark, DATA_DIR, t)
        with tr.span("session.warmup"):
            for _ in range(WARMUP_PASSES):
                for name in sorted(FAMILY_OF):
                    queries[name].fn(spark, DATA_DIR).toPandas()

    b.setup(build_state)
    spark = b.spark

    family_s = defaultdict(list)
    got: list[tuple[str, object]] = []  # (query, frame or error), checked after the loop
    for i, name in b.timed(_schedule(b.seed), cycle=len(FAMILY_OF)):
        fam = FAMILY_OF[name]
        for traced in b.modes(i):
            t0 = time.perf_counter()
            try:
                with tr.op("olap.query", traced=traced is not False, family=fam, query=name):
                    with tr.build():
                        df = queries[name].fn(spark, DATA_DIR)
                    with tr.span(f"{fam}.query"):
                        pdf = df.toPandas()
            except Exception as e:  # noqa: BLE001 — a failed query counts, the loop goes on
                pdf = f"{type(e).__name__}: {e}"
            lat = time.perf_counter() - t0
            b.record(lat, traced)
            family_s[fam].append(lat)
            got.append((name, pdf))

    want = _oracle_digests(queries, paths)
    for name, pdf in got:
        digest = pdf if isinstance(pdf, str) else frame_digest(pdf)
        if digest != want[name]:
            b.fail(f"olap_mix {name}: {digest} != oracle {want[name]}")
    if b.trace:
        # forcing the physical plan is measured on separate, untimed
        # builds, so traced and untraced operations do the same work
        for name in sorted(FAMILY_OF):
            df = queries[name].fn(spark, DATA_DIR)
            with tr.span("plans.optimize"):
                explain.formatted_plan(df)

    b.layer.update(
        {
            "session.get_spark_s": b.median_of("session.get_spark"),
            "session.warmup_s": b.median_of("session.warmup"),
            "plans.registry_load_s": b.median_of("plans.registry_load"),
            "plans.build_s": b.median_of("plans.build"),
            "plans.optimize_s": b.median_of("plans.optimize"),
            "sources.load_s": b.median_of("sources.load"),
            **{f"{fam}.query_s": statistics.median(v) for fam, v in family_s.items()},
        }
    )
    for fam, v in family_s.items():
        b.note(f"{fam}.query_p50_s", statistics.median(v), "s", f"n={len(v)}")
    return b.finish("query", "queries", len(b.latencies) / b.loop_s)
