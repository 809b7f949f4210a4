"""Analytical scale ceilings for the queries whose measured sf0.01 -> sf0.1
wall-time ratio exceeded 2.5x under 10x data: multimodal_cdc_chunk_dedup
(3.22x), window_rolling_corr (3.20x), dedup_substring_removal (2.89x),
data_importance_resample (2.54x), and the later entrants each test
names. All are linear pipelines whose measured ratios were fixed-cost
amortization, not algorithmic growth: re-timed against a 32-file
repartitioned copy of the same sf0.1 data, the split scan parallelized
the single-task map stage and the ratio collapsed. So each gets the
containment_pair_budget treatment: a conservation/ceiling invariant that
recomputes BOTH sides from data (pure Python where feasible), pinned so
any future change that introduces real amplification trips a test.
"""

from __future__ import annotations

from collections import Counter

from pyspark_for_ebook_classification_spark.plans.registry import all_queries
from pyspark_for_ebook_classification_spark.sources.io import load

QUERIES = all_queries()


def test_cdc_chunk_dedup_byte_conservation(spark, sf_dir):
    """CDC chunking is a PARTITION of the corpus bytes: every byte lands
    in exactly one chunk, so the (source, chunk) shuffle carries the
    corpus exactly once — amplification is exactly 1×. Pin it from the
    query's own accounting columns against a pure-Python byte count:
    Σ total_bytes == Σ len(text), and chunk rows can never exceed bytes
    (chunks are ≥ 1 byte). If the chunker ever emits overlapping or
    duplicated chunks, conservation trips."""
    rows = QUERIES["multimodal_cdc_chunk_dedup"].fn(spark, sf_dir).collect()
    got_bytes = sum(r["total_bytes"] for r in rows)
    got_chunks = sum(r["n_chunks"] for r in rows)
    corpus_bytes = sum(
        len(r["text"])
        for r in load(spark, sf_dir, "documents").select("text").collect()
        if len(r["text"]) >= 1
    )
    assert got_bytes == corpus_bytes, "CDC chunks do not partition the corpus bytes"
    assert got_chunks <= corpus_bytes
    for r in rows:
        assert r["n_unique_chunks"] <= r["n_chunks"]
        assert r["unique_bytes"] <= r["total_bytes"]


def test_rolling_corr_row_conservation(spark, sf_dir):
    """The rolling window emits exactly one row per full-frame input row:
    out = Σ_suppliers max(0, n_s − (N−1)) over the 1/20 supplier sample.
    Per-row work is a constant 15-row frame (six moment sums), so the
    whole query is one shuffle of the sample + O(15)/row — recompute the
    conservation identity in pure Python so any change that turns the
    frame into a growing one (or the sample into the full table) trips."""
    from pyspark_for_ebook_classification_spark.operators.windows import _ROLLCORR_N

    got = QUERIES["window_rolling_corr"].fn(spark, sf_dir).count()
    per_supp = Counter(
        r["l_suppkey"]
        for r in load(spark, sf_dir, "lineitem")
        .filter("l_suppkey % 20 = 0")
        .select("l_suppkey")
        .collect()
    )
    expected = sum(max(0, n - (_ROLLCORR_N - 1)) for n in per_supp.values())
    assert got == expected


def test_substring_removal_expansion_budget(spark, sf_dir):
    """Pin the ExactSubstr removal pass's only expansion stage to its
    analytical ceiling: distinct covered positions ≤ K·dup_occ, and
    dup_occ ≤ total_grams ≤ total_tokens — every stage ≤ K× linear in
    corpus tokens, no pair expansion anywhere. A pure-Python recount of
    grams and duplicate occurrences (token tuples as keys — collision-
    free ground truth for the xxhash64 grams) guards the Spark
    arithmetic itself."""
    from pyspark_for_ebook_classification_spark.operators.dedup import (
        ANCHOR_K,
        substring_removal_budget,
    )

    row = substring_removal_budget(spark, sf_dir).collect()[0]
    assert row["cov_actual"] <= row["cov_ceiling"]
    assert row["cov_ceiling"] == row["dup_occ"] * ANCHOR_K
    assert row["removal_hits"] < row["dup_occ"] or row["dup_occ"] == 0
    assert row["dup_occ"] <= row["total_grams"] <= row["total_tokens"]

    docs = {
        r["doc_id"]: [t for t in r["text"].split(" ") if t]
        for r in load(spark, sf_dir, "documents").collect()
    }
    occ = Counter()
    total_tokens = total_grams = 0
    for toks in docs.values():
        total_tokens += len(toks)
        n = max(0, len(toks) - ANCHOR_K + 1)
        total_grams += n
        for i in range(n):
            occ[tuple(toks[i : i + ANCHOR_K])] += 1
    dup = [c for c in occ.values() if c >= 2]
    assert row["total_tokens"] == total_tokens
    assert row["total_grams"] == total_grams
    assert row["dup_occ"] == sum(dup)
    assert row["removal_hits"] == sum(c - 1 for c in dup)


def test_dsir_no_amplification(spark, sf_dir):
    """DSIR's scale guarantees: the bucket-score table is bounded by the
    CONSTANT _DSIR_BUCKETS (what makes its token-stream join broadcast-
    safe at any corpus size), and the output is exactly the top-K —
    min(_DSIR_KEEP, docs that have ≥1 token). If the bucket count ever
    becomes corpus-dependent or selection stops truncating, this trips."""
    from pyspark_for_ebook_classification_spark.operators.datapipe import (
        _DSIR_BUCKETS,
        _DSIR_KEEP,
    )

    out = QUERIES["data_importance_resample"].fn(spark, sf_dir)
    docs_with_tokens = (
        load(spark, sf_dir, "documents")
        .filter("length(trim(text)) > 0")
        .count()
    )
    assert out.count() == min(_DSIR_KEEP, docs_with_tokens)

    # the broadcast side, rebuilt with the module's own constants
    from pyspark.sql import functions as F

    d = load(spark, sf_dir, "documents")
    tokens = F.filter(F.split("text", " "), lambda t: t != "")
    bucket = (
        F.expr("CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)")
        % _DSIR_BUCKETS
    )
    n_buckets = (
        d.select(F.explode(tokens).alias("t"))
        .select(bucket.alias("b"))
        .distinct()
        .count()
    )
    assert n_buckets <= _DSIR_BUCKETS


def test_basket_affinity_pair_expansion_bound(spark, sf_dir):
    """r10 scale-ratio entrant (2.62× under 10× data): basket-pair
    expansion is Σ over orders of C(k,2) with k = distinct brands in the
    order — bounded per basket by basket SIZE, and the output is keyed
    by (brand_a, brand_b) whose domain is the fixed brand vocabulary.
    Recompute both sides from data: Σ n_ab over output pairs must equal
    the exact per-order combinatorial total, and output rows must not
    exceed C(|brands|, 2)."""
    from pyspark.sql import functions as F

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct()
        .groupBy("ok")
        .agg(F.count(F.lit(1)).alias("k"))
        .collect()
    )
    expected_pairs = sum(r.k * (r.k - 1) // 2 for r in baskets)
    n_brands = pt.select("p_brand").distinct().count()
    rows = QUERIES["agg_basket_affinity"].fn(spark, sf_dir).collect()
    assert sum(r.n_ab for r in rows) == expected_pairs
    assert len(rows) <= n_brands * (n_brands - 1) // 2


def test_substring_spans_coverage_bound(spark, sf_dir):
    """r10 scale-ratio entrant (2.60×): covered tokens per doc cannot
    exceed the doc's token count (span regions are subsets of the doc),
    and the corpus-wide covered total cannot exceed the corpus token
    count — the ExactSubstr linear-anchor ceiling in its simplest
    conservation form."""
    from pyspark.sql import functions as F

    d = load(spark, sf_dir, "documents")
    n_tok = {
        r.doc_id: r.n
        for r in d.select(
            "doc_id",
            F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("n"),
        ).collect()
    }
    rows = QUERIES["dedup_substring_spans"].fn(spark, sf_dir).collect()
    assert rows
    total_covered = 0
    for r in rows:
        assert r.dup_tokens <= n_tok[r.doc_id], r
        assert r.n_tokens == n_tok[r.doc_id], r
        total_covered += r.dup_tokens
    assert total_covered <= sum(n_tok.values())


def test_ngram_stage_pair_budget(spark, sf_dir):
    """ml_ngram_stage_twin (2.62x under 10x data):
    linear pipeline — total bigram occurrences (pre-df-cut) are EXACTLY
    sum over docs of max(len_filtered - 1, 0), recomputed in pure
    Python, and the declared (df >= 2) output's count mass can never
    exceed that budget. Any future change introducing real pair
    amplification trips this."""
    import re as _re

    from pyspark_for_ebook_classification_spark.ml.queries import _EN_STOPWORDS

    texts = [
        r.text for r in load(spark, sf_dir, "documents").select("text").collect()
    ]
    stop = set(_EN_STOPWORDS)
    budget = 0
    from collections import Counter as _C

    py_counts: _C = _C()
    for t in texts:
        f = [w for w in _re.split(r"\W+", t.lower()) if w and w not in stop]
        budget += max(len(f) - 1, 0)
        for i in range(len(f) - 1):
            py_counts[f[i] + " " + f[i + 1]] += 1
    assert sum(py_counts.values()) == budget  # identity of the recount

    out = QUERIES["ml_ngram_stage_twin"].fn(spark, sf_dir).collect()
    total_cut = sum(r.cnt for r in out)
    assert total_cut <= budget, (total_cut, budget)
    # and the df>=2 output is exactly the pure-Python table's cut
    py_df: _C = _C()
    for t in texts:
        f = [w for w in _re.split(r"\W+", t.lower()) if w and w not in stop]
        for b in set(f[i] + " " + f[i + 1] for i in range(len(f) - 1)):
            py_df[b] += 1
    expect = {b for b, d in py_df.items() if d >= 2}
    assert {r.bigram for r in out} == expect


def test_cv_grid_output_is_grid_bounded(spark, sf_dir):
    """r11 scale-ratio entrant ml_cv_grid_relational_twin (2.52x): the
    output is one row per grid point, each doc is tested exactly once
    per alpha (n_test identical across alphas and <= corpus size), and
    exactly one winner is flagged — the structural bounds that make the
    3x(k-1) token expansion a constant factor, not amplification."""
    out = QUERIES["ml_cv_grid_relational_twin"].fn(spark, sf_dir).collect()
    assert len(out) == 3  # |grid| = 3 alphas
    n_docs = load(spark, sf_dir, "documents").count()
    tests = {r.n_test for r in out}
    assert len(tests) == 1 and max(tests) <= n_docs
    assert sum(1 for r in out if r.is_best) == 1
    for r in out:
        assert 0 <= r.n_correct <= r.n_test
