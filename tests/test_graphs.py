"""Iterative graph operators (operators/graphs.py): the Spark loop is
cross-checked against a third, shared-nothing implementation — plain
Python dicts over the collected edge list running the same fixed-point
recurrence — so Spark, DuckDB (oracle), and Python must agree exactly.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pyspark_for_ebook_classification_spark.operators.graphs import (
    _PR_BASE,
    _PR_ITERS,
    _PR_TELEPORT,
)
from pyspark_for_ebook_classification_spark.plans.registry import all_queries
from pyspark_for_ebook_classification_spark.sources.io import load


def _edges_py(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_shipdate", "l_linenumber", "l_suppkey")
    rows = (
        li.select(
            F.col("l_suppkey").alias("src"), F.lead("l_suppkey").over(w).alias("dst")
        )
        .filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .distinct()
        .collect()
    )
    return [(r["src"], r["dst"]) for r in rows]


def test_pagerank_matches_pure_python(spark, sf_dir):
    edges = _edges_py(spark, sf_dir)
    nodes = {r["s_suppkey"] for r in load(spark, sf_dir, "supplier").collect()}
    deg: dict = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    ranks = {n: _PR_BASE for n in nodes}
    for _ in range(_PR_ITERS):
        incoming: dict = {}
        for s, d in edges:
            incoming[d] = incoming.get(d, 0) + ranks[s] // deg[s]
        ranks = {n: _PR_TELEPORT + (85 * incoming.get(n, 0)) // 100 for n in nodes}

    got = {
        r["node"]: r["rank_units"]
        for r in all_queries()["graph_pagerank_fixedpoint"].fn(spark, sf_dir).collect()
    }
    assert got == ranks


def test_pagerank_total_mass_bounded(spark, sf_dir):
    """Truncating division only ever LOSES mass: total rank must stay in
    (teleport-only floor, initial mass]."""
    rows = all_queries()["graph_pagerank_fixedpoint"].fn(spark, sf_dir).collect()
    total = sum(r["rank_units"] for r in rows)
    n = len(rows)
    assert n * _PR_TELEPORT <= total <= n * _PR_BASE


def test_triangle_count_matches_pure_python(spark, sf_dir):
    """kNN sparsification + degree-oriented wedge closing vs a python
    set-intersection counter applying the same top-8 strong-tie rule to
    the collected weighted pair list."""
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_shipdate", "l_linenumber", "l_suppkey"
    )
    pairs = (
        li.select(
            F.col("l_suppkey").alias("src"), F.lead("l_suppkey").over(w).alias("dst")
        )
        .filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .groupBy("a", "b")
        .count()
        .collect()
    )
    weights = {(r["a"], r["b"]): r["count"] for r in pairs}
    by_node: dict = {}
    for (a, b), wgt in weights.items():
        by_node.setdefault(a, []).append((-wgt, b))
        by_node.setdefault(b, []).append((-wgt, a))
    und = set()
    for node, lst in by_node.items():
        for _, other in sorted(lst)[:8]:
            und.add((min(node, other), max(node, other)))
    nbrs: dict = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    expected: dict = {}
    for a, b in und:
        for c in nbrs[a] & nbrs[b]:
            for node in (a, b, c):
                expected[node] = expected.get(node, 0) + 1
    # each triangle counted 3x per node (once per incident edge pair)
    expected = {n: c // 3 for n, c in expected.items() if c >= 3}

    got = {
        r["node"]: r["n_triangles"]
        for r in all_queries()["graph_triangle_count"].fn(spark, sf_dir).collect()
    }
    assert got == expected


def test_kcore_hindex_reaches_true_coreness(spark, sf_dir):
    """The operator runs a FIXED 8 h-index rounds (oracle-unrollable);
    this golden proves the fixpoint was actually reached: a pure-Python
    Matula–Beck peel (the sequential classic) on the same strong-tie
    graph must give identical coreness for every node. If a graph ever
    needs more rounds, this fails and the iteration count — or the
    CC-style convergence loop — is the fix, never the values."""
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_shipdate", "l_linenumber", "l_suppkey"
    )
    pairs = (
        li.select(
            F.col("l_suppkey").alias("src"), F.lead("l_suppkey").over(w).alias("dst")
        )
        .filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .groupBy("a", "b")
        .count()
        .collect()
    )
    weights = {(r["a"], r["b"]): r["count"] for r in pairs}
    by_node: dict = {}
    for (a, b), wgt in weights.items():
        by_node.setdefault(a, []).append((-wgt, b))
        by_node.setdefault(b, []).append((-wgt, a))
    und = set()
    for node, lst in by_node.items():
        for _, other in sorted(lst)[:8]:
            und.add((min(node, other), max(node, other)))
    nbrs: dict = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)

    # Matula–Beck peel: repeatedly remove a minimum-degree node; its
    # coreness is the running maximum of the degrees seen at removal.
    deg = {n: len(s) for n, s in nbrs.items()}
    live = dict(deg)
    adj = {n: set(s) for n, s in nbrs.items()}
    expected: dict = {}
    running = 0
    while live:
        n = min(live, key=lambda x: (live[x], x))
        running = max(running, live[n])
        expected[n] = running
        for m in adj[n]:
            if m in live:
                live[m] -= 1
            adj[m].discard(n)
        del live[n]

    got = {
        r["node"]: r["coreness"]
        for r in all_queries()["graph_kcore_hindex"].fn(spark, sf_dir).collect()
    }
    assert got == expected


def test_kcore_converged_on_deep_graph(spark):
    """The PRODUCTION entry point (graphs.kcore_converged, r6 verdict
    item 5) must reach true coreness on a graph where the declared
    query's fixed 8 h-index rounds provably do NOT: a 30-node path
    (coreness 1 everywhere, but the h-index '2' plateau erodes only from
    the ends, one node per side per round → ~14 rounds) welded to a K5
    clique (coreness 4 — guards against a solver that just floods the
    minimum). A pure-Python simulation of the same recurrence first
    certifies 8 rounds are insufficient HERE, so the assertion below is
    meaningful, then the Spark fixpoint loop must match the true peel."""
    path = [(i, i + 1) for i in range(100, 129)]  # 30-node path
    clique = [(200 + i, 200 + j) for i in range(5) for j in range(i + 1, 5)]
    bridge = [(129, 200)]  # weld path end to clique
    edges = path + clique + bridge

    nbrs: dict = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)

    def hindex(vals):
        vals = sorted(vals, reverse=True)
        return max((min(c, r) for r, c in enumerate(vals, 1)), default=0)

    c = {n: len(s) for n, s in nbrs.items()}
    for _ in range(8):
        c = {n: hindex([c[m] for m in nbrs[n]]) for n in nbrs}
    after8 = dict(c)

    # true coreness via Matula–Beck peel
    live = {n: len(s) for n, s in nbrs.items()}
    adj = {n: set(s) for n, s in nbrs.items()}
    expected: dict = {}
    running = 0
    while live:
        n = min(live, key=lambda x: (live[x], x))
        running = max(running, live[n])
        expected[n] = running
        for m in adj[n]:
            if m in live:
                live[m] -= 1
            adj[m].discard(n)
        del live[n]

    assert after8 != expected, "graph not deep enough — 8 rounds already converged"
    assert expected[110] == 1 and expected[200] == 4  # path is 1-core, clique 4-core

    from pyspark_for_ebook_classification_spark.operators.graphs import kcore_converged

    bidir = spark.createDataFrame(
        [(a, b) for a, b in edges] + [(b, a) for a, b in edges], "node int, other int"
    )
    got = {r["node"]: r["coreness"] for r in kcore_converged(bidir).collect()}
    assert got == expected

    # hub-safe variant (r7 ADVICE): the windowed h-index round must reach
    # the identical fixpoint — same values by definition, different
    # (spill-friendly) physical shape for unbounded-degree graphs.
    safe = {
        r["node"]: r["coreness"]
        for r in kcore_converged(bidir, hub_safe=True).collect()
    }
    assert safe == expected


def test_kcore_converged_keeps_int_node_type(spark):
    """_gather_ready pads its non-nullable key columns with a zero of each
    column's own type: an int-keyed edge list keeps an int node column
    (coreness is the bigint h-index state whatever the key type)."""
    from pyspark_for_ebook_classification_spark.operators.graphs import kcore_converged

    edges = [(1, 2), (2, 3), (3, 1), (3, 4)]  # a triangle plus a pendant
    bidir = spark.createDataFrame(edges + [(b, a) for a, b in edges], "node int, other int")
    out = kcore_converged(bidir)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("node", "int"),
        ("coreness", "bigint"),
    ]
    assert {r.node: r.coreness for r in out.collect()} == {1: 2, 2: 2, 3: 2, 4: 1}
