"""Round-12: the last five pytest-only library entries routed through
declared oracle-gated queries at non-default dials (r11 verdict task 4)
— default-parameter pins against the registered twins, the pure-Python
fixpoint-depth re-derivation for the kcore router, and non-vacuity."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_for_ebook_classification_spark.plans.registry import all_queries
from pyspark_for_ebook_classification_spark.sources.io import load

QUERIES = all_queries()


# ---------------------------------------------------------------- kcore


def _nation_graph_adj():
    """The router's graph, rebuilt in pure Python: nation-key path
    0..24 plus the K5 clique on keys >= 20."""
    edges = {(i, i + 1) for i in range(24)}
    edges |= {(a, b) for a in range(20, 25) for b in range(a + 1, 25)}
    adj: dict[int, set[int]] = {v: set() for v in range(25)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    return adj


def _hindex(vals):
    vals = sorted(vals, reverse=True)
    return max((min(v, i + 1) for i, v in enumerate(vals)), default=0)


def test_kcore_router_depth_is_19_and_8_rounds_is_wrong():
    """Pure-Python re-derivation of _KC_CONV_DEPTH: the h-index
    sequence on the nation path+clique graph takes exactly 19 changing
    rounds, and the value vector after 8 rounds (the registered
    query's unroll depth) is NOT the fixpoint — the reason the router
    exists."""
    from pyspark_for_ebook_classification_spark.operators.graphs import (
        _KC_CONV_DEPTH,
    )

    adj = _nation_graph_adj()
    c = {v: len(adj[v]) for v in adj}
    snapshots = []
    depth = 0
    while True:
        snapshots.append(dict(c))
        new = {v: _hindex([c[u] for u in adj[v]]) for v in adj}
        if new == c:
            break
        c = new
        depth += 1
    assert depth == _KC_CONV_DEPTH == 19
    assert snapshots[8] != c, "8 rounds would already be the fixpoint"
    # the fixpoint is the true coreness: 4 in the clique, 1 on the path
    assert {v: k for v, k in c.items() if v >= 20} == {v: 4 for v in range(20, 25)}
    assert all(c[v] == 1 for v in range(19))


def test_kcore_router_matches_python_fixpoint(spark, sf_dir):
    adj = _nation_graph_adj()
    c = {v: len(adj[v]) for v in adj}
    while True:
        new = {v: _hindex([c[u] for u in adj[v]]) for v in adj}
        if new == c:
            break
        c = new
    got = {
        r["node"]: r["coreness"]
        for r in QUERIES["graph_kcore_library_converged"].fn(spark, sf_dir).collect()
    }
    assert got == c


# ---------------------------------------------------------------- gopher


def test_gopher_library_defaults_match_registered_query(spark, sf_dir):
    """gopher_gate at the published defaults over the registered 1/5
    sample equals text_gopher_quality_rules row for row."""
    from pyspark_for_ebook_classification_spark.operators.textops import gopher_gate

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    lib = {tuple(r) for r in gopher_gate(d).collect()}
    reg = {
        tuple(r)
        for r in QUERIES["text_gopher_quality_rules"].fn(spark, sf_dir).collect()
    }
    assert lib == reg and len(lib) > 0


def test_gopher_router_is_non_vacuous(spark, sf_dir):
    """Every dial's band must cut real docs: both verdicts present."""
    out = QUERIES["text_gopher_library_gate"].fn(spark, sf_dir)
    kept = out.filter("keep").count()
    dropped = out.filter("NOT keep").count()
    assert kept > 0 and dropped > 0


# ----------------------------------------------------------------- tfidf


def test_tfidf_router_respects_both_dials(spark, sf_dir):
    out = QUERIES["ml_tfidf_library_features"].fn(spark, sf_dir).collect()
    assert len(out) > 0
    assert max(r.feat_rank for r in out) <= 2
    assert min(r.df for r in out) >= 4


# ------------------------------------------------------------------- rrf


def test_rrf_library_defaults_match_registered_fusion(spark, sf_dir):
    """rrf_fuse at (k=60, top=5) over the shared modality rank frames
    equals sim_rrf_hybrid_fusion on the common columns."""
    from pyspark_for_ebook_classification_spark.operators.similarity import (
        _lex_ranked,
        _vec_ranked,
        rrf_fuse,
    )

    lib = {
        tuple(r)
        for r in rrf_fuse(
            [_lex_ranked(spark, sf_dir), _vec_ranked(spark, sf_dir)], top=5
        )
        .select("query_id", "neighbor_id", "rrf_score", "rank")
        .collect()
    }
    reg = {
        tuple(r)
        for r in QUERIES["sim_rrf_hybrid_fusion"]
        .fn(spark, sf_dir)
        .select("query_id", "neighbor_id", "rrf_score", "rank")
        .collect()
    }
    assert lib == reg and len(lib) > 0


def test_rrf_router_k_changes_the_fusion(spark, sf_dir):
    """k=10 must genuinely reorder at least one query's fused list vs
    k=60 (the dial reaches the reciprocal) — and the router's output is
    truncated at 7."""
    out = QUERIES["sim_rrf_library_fuse"].fn(spark, sf_dir).collect()
    assert len(out) > 0 and max(r.rank for r in out) <= 7
    reg = {
        (r.query_id, r.rank): r.neighbor_id
        for r in QUERIES["sim_rrf_hybrid_fusion"].fn(spark, sf_dir).collect()
    }
    lib = {(r.query_id, r.rank): r.neighbor_id for r in out}
    shared = set(reg) & set(lib)
    assert shared, "no overlapping (query, rank) cells to compare"
    assert any(
        reg[key] != lib[key] for key in shared
    ), "k=10 produced the identical fused order — the dial is not reaching the plan"


# ------------------------------------------------------------------- bpe


def test_bpe_library_train_extends_registered_trajectory(spark, sf_dir):
    """Greedy BPE is deterministic, so the 9-round trainer's first six
    rows must equal the registered 6-round trajectory exactly, and
    rounds 7-9 must exist with non-increasing pair counts."""
    nine = QUERIES["text_bpe_library_train"].fn(spark, sf_dir).collect()
    six = QUERIES["text_bpe_merge_train"].fn(spark, sf_dir).collect()
    assert len(nine) == 9 and len(six) == 6
    as_tuples = lambda rows: [tuple(r) for r in rows]  # noqa: E731
    assert as_tuples(nine)[:6] == as_tuples(six)
    counts = [r.pair_count for r in nine]
    assert all(a >= b for a, b in zip(counts, counts[1:]))


# ----------------------- generalized gate helpers at non-default banding


def test_gate_sig_cols_matches_oracle_at_3_bands(spark, sf_dir, duck):
    """The r12 generalization of the projection-only MinHash must give
    the DuckDB signature chain's band strings at a banding the defaults
    never exercise (12 hashes / 3 bands of 4 rows)."""
    from pyspark.sql import functions as F

    from pyspark_for_ebook_classification_spark.operators.dedup import (
        _gate_sig_cols,
        _shingle_sets,
        _sql_sig_chain,
    )
    from pyspark_for_ebook_classification_spark.sources.io import load

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    proj = _gate_sig_cols(_shingle_sets(d), num_hashes=12, bands=3)
    got = {
        (r.doc_id, b): r[f"b{b}"]
        for r in proj.collect()
        for b in range(3)
    }
    bands = ", ".join(
        " || '|' || ".join(f"CAST(h{4 * b + r} AS VARCHAR)" for r in range(4)) + f" AS b{b}"
        for b in range(3)
    )
    rows = duck.sql(
        f"WITH {_sql_sig_chain(doc_filter='doc_id % 7 = 0')} SELECT doc_id, {bands} FROM sig"
    ).fetchall()
    want = {(r[0], b): r[1 + b] for r in rows for b in range(3)}
    assert got == want and len(want) > 0


def test_gate_score_pairs_exact_at_3_bands(spark):
    """gate_score's generalized n-band join union must be PAIR-EXACT
    (each colliding pair scored once) and candidate-complete vs a
    brute-force banding replica at bands=3 on a planted fixture."""
    from pyspark.sql import functions as F

    from pyspark_for_ebook_classification_spark.operators.dedup import (
        _gate_sig_cols,
        _raw_tokens_expr,
        _shingles_expr_k,
        gate_score,
        gate_static_index,
    )

    base = (
        "the quick brown fox jumps over a lazy dog while the farmer walks "
        "to the old market and buys fresh bread with butter and honey"
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, base + " today"), (3, "totally unrelated words about rivers boats and calm morning lakes")],
        "doc_id bigint, text string",
    )
    # " again" is a measured 3x4-band COLLISION with both corpus docs
    # (" tonight", the 2x6 fixture's measured miss, also misses here)
    batch = spark.createDataFrame(
        [(100, base + " again"), (104, "another unrelated thing entirely about mountains and snow peaks")],
        "doc_id bigint, text string",
    )
    index = gate_static_index(corpus, num_hashes=12, bands=3)
    bsig = _gate_sig_cols(
        batch.select("doc_id", _raw_tokens_expr().alias("tokens"))
        .filter(F.size("tokens") >= 1)
        .select("doc_id", _shingles_expr_k(3).alias("shingles")),
        num_hashes=12,
        bands=3,
    )
    out = {r.doc_id: r for r in gate_score(bsig, index, bands=3).collect()}
    # brute-force replica: pairs collide iff ANY of the 3 band hashes match
    idx = {r.doc_id: r for r in index.collect()}
    sig = {r.doc_id: r for r in bsig.collect()}
    expected_cands = {}
    for nid, n in sig.items():
        hits = [
            oid
            for oid, o in idx.items()
            if any(
                n[f"b{b}"] is not None and n[f"b{b}"] == o[f"b{b}"]
                for b in range(3)
            )
        ]
        if hits:
            expected_cands[nid] = len(hits)
    assert {k: v.n_cands for k, v in out.items()} == expected_cands
    # the near-copy collides with its corpus source; the unrelated doc
    # either has no row or a sub-threshold best
    assert 100 in out and out[100].best_match in (1, 2) and out[100].admit is False
    if 104 in out:
        assert out[104].admit is True
