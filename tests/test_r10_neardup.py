"""Round-10: production neardup_dedup library entry (r9 verdict task 2) —
pinned against the registered fixed-workload MinHash queries via a
pure-Python union-find, a planted near-dup fixture, parameter validation,
and the banding-theory S-curve sanity check.
"""

from __future__ import annotations

import pytest

from pyspark_for_ebook_classification_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    N_BANDS,
    N_HASHES,
    lsh_collision_probability,
    neardup_dedup,
    neardup_pairs,
)
from pyspark_for_ebook_classification_spark.plans.registry import all_queries
from pyspark_for_ebook_classification_spark.sources.io import load


def _union_find_clusters(ids, pairs):
    """Pure-Python third engine: min-id connected components."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    # path-compress fully, then canonicalize to the min member per root
    comp = {}
    for i in ids:
        comp.setdefault(find(i), []).append(i)
    return {i: min(members) for members in comp.values() for i in members}


def test_defaults_match_registered_queries(spark, sf_dir):
    """At the default parameters, neardup_dedup's clusters must equal a
    union-find over the registered dedup_minhash_lsh query's own verified
    pairs — the production path IS the declared pipeline."""
    docs = load(spark, sf_dir, "documents")
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    pairs = [
        (r.doc_a, r.doc_b)
        for r in all_queries()["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    ]
    expected = _union_find_clusters(ids, pairs)

    out = neardup_dedup(docs).collect()
    assert len(out) == len(ids)
    got = {r.doc_id: r.cluster_id for r in out}
    assert got == expected
    # keep-first policy: keep marks exactly the cluster's min member
    for r in out:
        assert r.keep == (r.doc_id == r.cluster_id)
    kept = {r.cluster_id for r in out}
    assert {r.doc_id for r in out if r.keep} == kept


def test_planted_near_dups_cluster_and_keep_first(spark):
    """Exact duplicates (Jaccard 1.0 — signatures identical, so banding
    ALWAYS collides) must cluster with keep on the min id; distinct docs
    stay singletons with keep=true."""
    base = " ".join(f"tok{i}" for i in range(40))
    other = " ".join(f"alt{i}" for i in range(40))
    rows = [
        (10, base),
        (11, base),
        (12, base),
        (20, other),
        (30, "completely different text about nothing shared at all xyz"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: (r.cluster_id, r.keep) for r in neardup_dedup(docs).collect()}
    assert out[10] == (10, True)
    assert out[11] == (10, False)
    assert out[12] == (10, False)
    assert out[20] == (20, True)
    assert out[30] == (30, True)


def test_string_ids_and_custom_columns(spark):
    """Arbitrary id/text column names and string ids: min-label is
    lexicographic, keep-first still marks exactly one doc per cluster."""
    base = " ".join(f"w{i}" for i in range(30))
    rows = [("doc-b", base), ("doc-a", base), ("doc-z", "nothing in common here")]
    docs = spark.createDataFrame(rows, "uri string, body string")
    out = {
        r.uri: (r.cluster_id, r.keep)
        for r in neardup_dedup(docs, id_col="uri", text_col="body").collect()
    }
    assert out["doc-a"] == ("doc-a", True)
    assert out["doc-b"] == ("doc-a", False)
    assert out["doc-z"] == ("doc-z", True)


def test_below_threshold_pair_not_clustered(spark):
    """Two docs sharing ~half their shingles sit far below the 0.7
    threshold: even if LSH banded them, exact-Jaccard verification must
    reject — precision is exact at any banding."""
    a = " ".join(f"tok{i}" for i in range(20))
    b = " ".join(f"tok{i}" for i in range(10)) + " " + " ".join(
        f"new{i}" for i in range(10)
    )
    docs = spark.createDataFrame([(1, a), (2, b)], "doc_id int, text string")
    out = {r.doc_id: r.cluster_id for r in neardup_dedup(docs).collect()}
    assert out == {1: 1, 2: 2}


def test_alternate_banding_runs(spark):
    """bands=3 over 12 hashes (4 rows/band — a laxer S-curve) still
    yields a full, keep-consistent partition on a planted workload."""
    base = " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, "unrelated words only here")],
        "doc_id int, text string",
    )
    out = neardup_dedup(docs, threshold=0.5, num_hashes=12, bands=3).collect()
    got = {r.doc_id: (r.cluster_id, r.keep) for r in out}
    assert got == {1: (1, True), 2: (1, False), 3: (3, True)}


@pytest.mark.parametrize(
    "kwargs",
    [
        {"threshold": 0.0},
        {"threshold": 1.0},
        {"threshold": -0.2},
        {"num_hashes": 0},
        {"bands": 0},
        {"num_hashes": 12, "bands": 5},  # 5 does not divide 12
        {"max_bucket": 1},
        {"shingle_k": 0},
    ],
)
def test_parameter_validation(spark, kwargs):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    for entry in (neardup_dedup, neardup_pairs):
        with pytest.raises(ValueError):
            entry(docs, **kwargs)


def test_pairs_are_ordered_and_verified(spark):
    """neardup_pairs returns each verified pair once with doc_a < doc_b
    (ids given in descending order here) and its unrounded exact Jaccard
    over the trigram shingle sets, never below the threshold."""
    base = [f"tok{i}" for i in range(40)]
    near = base[:38] + ["new0", "new1"]
    rows = [
        (9, " ".join(base)),
        (8, " ".join(base)),
        (7, " ".join(near)),
        (6, "completely different text about nothing shared at all xyz"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    def shingles(text):
        t = text.split(" ")
        n = len(t)
        return {" ".join(t[min(i + j, n - 1)] for j in range(3)) for i in range(max(n - 2, 1))}

    sh = {i: shingles(text) for i, text in rows}
    out = neardup_pairs(docs, threshold=0.5, bands=3).collect()
    assert {(r.doc_a, r.doc_b) for r in out} >= {(8, 9)}
    for r in out:
        assert r.doc_a < r.doc_b
        assert r.jaccard >= 0.5
        assert r.jaccard == len(sh[r.doc_a] & sh[r.doc_b]) / len(sh[r.doc_a] | sh[r.doc_b])


def test_fanout_partitions_falls_back_on_non_integer_conf(spark, monkeypatch):
    """Some platforms set ``spark.sql.shuffle.partitions`` to ``auto``.
    Open-source Spark's setter rejects that value, so the conf read is
    faked inside a scoped block: the minhash plan must build on the
    session's SQL leaf parallelism (one partition per core) instead of
    raising ValueError, not on the context's default parallelism, which
    get_spark sets to 1."""
    from pyspark.sql.conf import RuntimeConfig

    from pyspark_for_ebook_classification_spark.operators.dedup import _fanout_partitions

    real_get = RuntimeConfig.get

    def get(self, key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *args, **kwargs)

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps")],
        "doc_id int, text string",
    )
    with monkeypatch.context() as m:
        m.setattr(RuntimeConfig, "get", get)
        assert _fanout_partitions(docs) == int(spark.conf.get("spark.sql.leafNodeDefaultParallelism"))
        out = neardup_dedup(docs)
    assert {(r.doc_id, r.cluster_id, r.keep) for r in out.collect()} == {
        (1, 1, True),
        (2, 1, False),
    }


def test_s_curve_sanity():
    """Banding theory for the registered config (2 bands × 6 rows):
    collision probability is an S-curve — monotone in j, near-zero well
    below the curve midpoint (1/b)^(1/r) ≈ 0.89, high above it."""
    rows = N_HASHES // N_BANDS
    probs = [
        lsh_collision_probability(j / 100, N_BANDS, rows) for j in range(0, 101, 5)
    ]
    assert all(b >= a for a, b in zip(probs, probs[1:]))  # monotone
    assert lsh_collision_probability(0.4, N_BANDS, rows) < 0.01
    assert lsh_collision_probability(0.95, N_BANDS, rows) > 0.85
    assert lsh_collision_probability(0.0, N_BANDS, rows) == 0.0
    assert lsh_collision_probability(1.0, N_BANDS, rows) == 1.0
    # the midpoint identity: P at j = (1/b)^(1/r) is 1 - (1 - 1/b)^b
    mid = (1.0 / N_BANDS) ** (1.0 / rows)
    expect = 1.0 - (1.0 - 1.0 / N_BANDS) ** N_BANDS
    assert abs(lsh_collision_probability(mid, N_BANDS, rows) - expect) < 1e-9
    with pytest.raises(ValueError):
        lsh_collision_probability(1.5, 2, 6)
    with pytest.raises(ValueError):
        lsh_collision_probability(0.5, 0, 6)


def test_default_threshold_sits_on_recall_floor_documented():
    """The registered default (threshold 0.7, 2×6 banding) accepts that
    LSH recall at exactly-0.7 similarity is probabilistic (~21% per the
    S-curve) while everything verified is exact — the dedup_lsh_candidate
    _recall query measures realized recall on the corpus. Pin the theory
    number so a banding change that silently guts recall trips here."""
    p = lsh_collision_probability(
        JACCARD_THRESHOLD, N_BANDS, N_HASHES // N_BANDS
    )
    assert 0.15 < p < 0.30
