"""Semantic third-engine checks for the round-7 retrieval additions.
Parity says Spark == DuckDB; these say both == the intended math, via a
pure-Python/numpy reimplementation of BM25 and reciprocal-rank fusion.
"""

from __future__ import annotations

import gc
import math
import weakref
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest

from pyspark_for_ebook_classification_spark import serving
from pyspark_for_ebook_classification_spark.operators.textops import (
    BM25_QUERY_MOD,
    BM25_TERMS,
    BM25_TOPK,
)
from pyspark_for_ebook_classification_spark.operators.similarity import (
    RRF_K,
    RRF_POOL,
    RRF_TOPK,
    _RRF_SCALE,
)
from pyspark_for_ebook_classification_spark.plans.registry import all_queries
from pyspark_for_ebook_classification_spark.sources.io import load


def _d6(x: float) -> Decimal:
    """The DECIMAL(28,6) accumulation step both engines apply per term.
    Decimal(x) is the EXACT binary expansion — engines quantize the true
    double value, not its shortest repr."""
    return Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)


def _py_bm25(spark, sf_dir):
    """Pure-Python BM25 over the same corpus: returns
    {query_id: [(neighbor_id, score_double), ...] sorted by (-score, id)}."""
    docs = {
        r["doc_id"]: [t for t in r["text"].split(" ") if t]
        for r in load(spark, sf_dir, "documents").collect()
    }
    n_docs = len(docs)
    total_tokens = sum(len(t) for t in docs.values())
    avgdl = float(total_tokens) / n_docs
    tf = {d: Counter(toks) for d, toks in docs.items()}
    df = Counter()
    for c in tf.values():
        for tok in c:
            df[tok] += 1

    scores: dict = {}
    for q in docs:
        if q % BM25_QUERY_MOD != 0:
            continue
        # Budget gate (r8): df-ascending terms admitted while running
        # Σdf ≤ n_docs; the rarest term is always admitted; cap at 8.
        ranked = sorted((t for t in tf[q] if df[t] >= 2), key=lambda t: (df[t], t))
        terms, cum = [], 0
        for i, t in enumerate(ranked[:BM25_TERMS]):
            cum += df[t]
            if i == 0 or cum <= n_docs:
                terms.append(t)
            else:
                break
        acc: dict = {}
        for t in terms:
            idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            for d, c in tf.items():
                if d == q or t not in c:
                    continue
                k = c[t]
                contrib = idf * ((k * 2.2) / (k + 1.2 * (0.25 + 0.75 * (len(docs[d]) / avgdl))))
                acc[d] = acc.get(d, Decimal(0)) + _d6(contrib)
        scores[q] = sorted(
            ((d, float(s)) for d, s in acc.items()), key=lambda x: (-x[1], x[0])
        )
    return scores


def test_bm25_matches_pure_python(spark, sf_dir):
    """Spark's top-5 must equal the pure-Python BM25 (scores through the
    same DECIMAL(28,6) per-term accumulation, rounded to 4)."""
    py = _py_bm25(spark, sf_dir)
    expected = {}
    for q, lst in py.items():
        for rank, (d, s) in enumerate(lst[:BM25_TOPK], 1):
            expected[(q, d)] = (round(s, 4), rank)
    got = {
        (r["query_id"], r["neighbor_id"]): (r["bm25"], r["rank"])
        for r in all_queries()["text_bm25_topk"].fn(spark, sf_dir).collect()
    }
    assert got == expected


def test_rrf_fusion_matches_pure_python(spark, sf_dir):
    """Fusion = integer ⌊SCALE/(K+r)⌋ over the two rank lists; pure
    Python re-derives both rankings (BM25 above, cosine via numpy) and
    the fused top-5 must match exactly, including the preserved
    per-modality ranks."""
    py_lex = _py_bm25(spark, sf_dir)
    lex_rank = {
        (q, d): r
        for q, lst in py_lex.items()
        for r, (d, _) in enumerate(lst[:RRF_POOL], 1)
    }

    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load(spark, sf_dir, "embeddings").collect()
    }
    vec_rank = {}
    for q in emb:
        if q % BM25_QUERY_MOD != 0:
            continue
        qe = emb[q]
        qn = math.sqrt(float(np.dot(qe, qe)))
        cand = []
        for v, e in emb.items():
            if v == q:
                continue
            cos = float(np.dot(qe, e)) / (qn * math.sqrt(float(np.dot(e, e))))
            cand.append((v, cos))
        cand.sort(key=lambda x: (-x[1], x[0]))
        for r, (v, _) in enumerate(cand[:RRF_POOL], 1):
            vec_rank[(q, v)] = r

    fused: dict = {}
    for key in set(lex_rank) | set(vec_rank):
        s = 0
        if key in lex_rank:
            s += _RRF_SCALE // (RRF_K + lex_rank[key])
        if key in vec_rank:
            s += _RRF_SCALE // (RRF_K + vec_rank[key])
        fused.setdefault(key[0], []).append((key[1], s))
    expected = {}
    for q, lst in fused.items():
        lst.sort(key=lambda x: (-x[1], x[0]))
        for rank, (d, s) in enumerate(lst[:RRF_TOPK], 1):
            expected[(q, d)] = (
                s,
                lex_rank.get((q, d)),
                vec_rank.get((q, d)),
                rank,
            )

    got = {
        (r["query_id"], r["neighbor_id"]): (
            r["rrf_score"],
            r["lex_rank"],
            r["vec_rank"],
            r["rank"],
        )
        for r in all_queries()["sim_rrf_hybrid_fusion"].fn(spark, sf_dir).collect()
    }
    assert got == expected


def test_bm25_search_matches_pure_python(spark, sf_dir):
    """The parameterized production entry point (textops.bm25_search) on
    ad-hoc query strings: pure-Python BM25 with the same decimal
    accumulation must agree exactly, OOV terms must contribute nothing,
    and an all-OOV query must return no rows."""
    from pyspark_for_ebook_classification_spark.operators.textops import bm25_search

    docs = {
        r["doc_id"]: [t for t in r["text"].split(" ") if t]
        for r in load(spark, sf_dir, "documents").collect()
    }
    n_docs = len(docs)
    avgdl = float(sum(len(t) for t in docs.values())) / n_docs
    tf = {d: Counter(toks) for d, toks in docs.items()}
    df = Counter()
    for c in tf.values():
        for tok in c:
            df[tok] += 1

    some_doc = docs[sorted(docs)[0]]
    q1 = " ".join(some_doc[:3])  # in-corpus phrase
    q2 = some_doc[0] + " zzz-never-a-token"  # one real + one OOV term
    q3 = "zzz-never-a-token"  # all OOV
    K = 4

    def py_search(q):
        acc = {}
        for t in dict.fromkeys(w for w in q.split(" ") if w):
            if t not in df:
                continue
            idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            for d, c in tf.items():
                if t not in c:
                    continue
                k = c[t]
                contrib = idf * ((k * 2.2) / (k + 1.2 * (0.25 + 0.75 * (len(docs[d]) / avgdl))))
                acc[d] = acc.get(d, Decimal(0)) + _d6(contrib)
        ranked = sorted(((d, float(s)) for d, s in acc.items()), key=lambda x: (-x[1], x[0]))
        return {(q, d): (round(s, 4), r) for r, (d, s) in enumerate(ranked[:K], 1)}

    expected = {}
    for q in (q1, q2, q3):
        expected.update(py_search(q))

    got = {
        (r["query"], r["doc_id"]): (r["bm25"], r["rank"])
        for r in bm25_search(
            load(spark, sf_dir, "documents"), [q1, q2, q3], k=K
        ).collect()
    }
    assert got == expected
    assert not any(q == q3 for q, _ in got)  # all-OOV query yields nothing


def test_rrf_fuse_generalizes_the_declared_fusion(spark, sf_dir):
    """The generic N-way rrf_fuse must (a) reproduce the declared
    two-modality query's fused order when fed the same two rank lists,
    and (b) handle a third ranking: fusing a modality with itself twice
    doubles its contribution, so an item ranked 1 by the duplicated
    modality must outscore an item ranked 1 by the single one."""
    from pyspark_for_ebook_classification_spark.operators.similarity import rrf_fuse

    declared = {
        (r["query_id"], r["neighbor_id"]): (r["rrf_score"], r["rank"])
        for r in all_queries()["sim_rrf_hybrid_fusion"].fn(spark, sf_dir).collect()
    }
    # Rebuild the two pools exactly as the declared query does:
    from pyspark.sql import functions as F, Window
    from pyspark_for_ebook_classification_spark.operators.similarity import (
        RRF_POOL,
        RRF_TOPK,
        _lex_ranked,
        _normed,
        spark_dot,
    )
    from pyspark_for_ebook_classification_spark.operators.textops import BM25_QUERY_MOD

    lex = _lex_ranked(spark, sf_dir)
    e = _normed(spark, sf_dir)
    vq = e.filter(F.col("vec_id") % BM25_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    w_vec = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    vec = (
        e.crossJoin(F.broadcast(vq))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (spark_dot("qe", "embedding") / (F.col("qn") * F.col("nrm"))).alias("cos"),
        )
        .withColumn("rank", F.row_number().over(w_vec))
        .filter(F.col("rank") <= RRF_POOL)
        .select("query_id", "neighbor_id", "rank")
    )

    fused = {
        (r["query_id"], r["neighbor_id"]): (r["rrf_score"], r["rank"])
        for r in rrf_fuse([lex, vec], top=RRF_TOPK).collect()
    }
    assert fused == declared

    # (b) third ranking: duplicate the vector modality
    tri = {
        (r["query_id"], r["neighbor_id"]): r["rrf_score"]
        for r in rrf_fuse([lex, vec, vec], top=RRF_TOPK).collect()
    }
    two = {
        (r["query_id"], r["neighbor_id"]): r["rrf_score"]
        for r in rrf_fuse([lex, vec], top=None).collect()
    }
    vec_rank = {
        (r["query_id"], r["neighbor_id"]): r["rank"] for r in vec.collect()
    }
    for key, score in tri.items():
        extra = 1_000_000_000_000 // (60 + vec_rank[key]) if key in vec_rank else 0
        assert score == two[key] + extra


def test_rrf_fuse_input_hygiene(spark):
    """r7 ADVICE: a (query, item) pair duplicated WITHIN one ranking
    frame must contribute its best (minimum) rank once — not sum two
    reciprocal contributions — and a rank < 1 must fail loudly (rank 0
    would divide by k, negatives by a near-zero/negative k+r)."""
    import pytest

    from pyspark_for_ebook_classification_spark.operators.similarity import rrf_fuse

    dup = spark.createDataFrame(
        [(1, 10, 2), (1, 10, 5), (1, 11, 1)],
        "query_id int, neighbor_id int, rank int",
    )
    got = {
        (r["query_id"], r["neighbor_id"]): r["rrf_score"]
        for r in rrf_fuse([dup]).collect()
    }
    assert got[(1, 10)] == _RRF_SCALE // (RRF_K + 2)  # min rank, counted once
    assert got[(1, 11)] == _RRF_SCALE // (RRF_K + 1)

    bad = spark.createDataFrame(
        [(1, 10, 0)], "query_id int, neighbor_id int, rank int"
    )
    with pytest.raises(Exception, match="rank_col must be >= 1"):
        rrf_fuse([bad]).collect()


_BM25_ROWS = [
    (1, "alpha beta alpha"),
    (2, "beta gamma"),
    (3, ""),  # zero-token: split("") -> [""] filtered -> []
    (4, "  "),  # whitespace-only: also zero tokens
    (5, "alpha delta delta gamma"),
]


def test_bm25_search_counts_zero_token_docs_in_stats(spark):
    """r15 (bm25_index): the corpus stats now FOLD over the
    checkpointed tf table instead of running their own corpus pass, with
    explode_outer keeping one NULL-token row per zero-token doc. Pin the
    semantics that made the r14 merge attempt a blocker: a corpus with
    empty and whitespace-only documents must still count them in n_docs
    (they dilute idf and avgdl) while never scoring them, exactly like a
    pure-Python reference over the full doc set."""
    from pyspark_for_ebook_classification_spark.operators.textops import bm25_search

    rows = _BM25_ROWS
    docs = {d: [t for t in txt.split(" ") if t] for d, txt in rows}
    n_docs = len(docs)  # 5, INCLUDING the two empty docs
    avgdl = float(sum(len(t) for t in docs.values())) / n_docs
    tf = {d: Counter(toks) for d, toks in docs.items()}
    df = Counter()
    for c in tf.values():
        for tok in c:
            df[tok] += 1

    K = 5
    q = "alpha gamma"

    acc = {}
    for t in dict.fromkeys(w for w in q.split(" ") if w):
        idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
        for d, c in tf.items():
            if t not in c:
                continue
            k = c[t]
            contrib = idf * (
                (k * 2.2) / (k + 1.2 * (0.25 + 0.75 * (len(docs[d]) / avgdl)))
            )
            acc[d] = acc.get(d, Decimal(0)) + _d6(contrib)
    ranked = sorted(
        ((d, float(s)) for d, s in acc.items()), key=lambda x: (-x[1], x[0])
    )
    expected = {(q, d): (round(s, 4), r) for r, (d, s) in enumerate(ranked[:K], 1)}

    sdf = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["query"], r["doc_id"]): (r["bm25"], r["rank"])
        for r in bm25_search(sdf, [q], k=K).collect()
    }
    assert got == expected
    assert all(d not in (3, 4) for _, d in got)  # empty docs never score


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _bm25_docs(spark, rows=_BM25_ROWS):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_bm25_search_is_index_then_query(spark):
    """The one-shot entry is exactly its two steps, at default and custom
    columns and scoring parameters."""
    from pyspark_for_ebook_classification_spark.operators.textops import (
        bm25_index,
        bm25_query,
        bm25_search,
    )

    docs = _bm25_docs(spark)
    qs = ["alpha gamma", "delta", "zzz"]
    assert _rows(bm25_search(docs, qs, k=3)) == _rows(bm25_query(bm25_index(docs), qs, k=3))
    renamed = docs.toDF("uri", "body")
    got = bm25_search(renamed, qs, k=2, k1=2.0, b=0.5, id_col="uri", text_col="body")
    index = bm25_index(renamed, id_col="uri", text_col="body")
    assert _rows(got) == _rows(bm25_query(index, qs, k=2, k1=2.0, b=0.5, id_col="uri"))


def test_bm25_query_frame_matches_string_path(spark):
    """A (query, token) frame holding each query string's distinct terms
    scores exactly as the strings do; with integer query keys, the rows
    differ only in the key."""
    from pyspark_for_ebook_classification_spark.operators.textops import (
        bm25_index,
        bm25_query,
    )

    index = bm25_index(_bm25_docs(spark))
    qs = ["alpha gamma", "delta alpha", "zzz"]
    terms = [(q, t) for q in qs for t in dict.fromkeys(q.split(" "))]
    frame = spark.createDataFrame(terms, "query string, token string")
    want = _rows(bm25_query(index, qs, k=3))
    assert want and _rows(bm25_query(index, frame, k=3)) == want
    keyed = spark.createDataFrame(
        [(qs.index(q), t) for q, t in terms], "query int, token string"
    )
    assert _rows(bm25_query(index, keyed, k=3)) == sorted(
        (qs.index(q), *rest) for q, *rest in want
    )


def test_bm25_query_strings_without_terms_match_nothing(spark):
    """A query of only spaces has no term: it returns no rows and leaves
    the other queries' rows as they are alone; no query at all returns
    no rows either."""
    from pyspark_for_ebook_classification_spark.operators.textops import (
        bm25_index,
        bm25_query,
    )

    index = bm25_index(_bm25_docs(spark))
    assert _rows(bm25_query(index, ["   "], k=3)) == []
    assert _rows(bm25_query(index, [], k=3)) == []
    alone = _rows(bm25_query(index, ["alpha gamma"], k=3))
    assert alone and _rows(bm25_query(index, ["   ", "alpha gamma"], k=3)) == alone


def _rdd_leaf_columns(df) -> list[set[str]]:
    """Column names of each RDD-backed leaf (``Scan ExistingRDD``) in the
    optimized plan of ``df``."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD":
            attrs = leaf.output()
            out.append({attrs.apply(j).name() for j in range(attrs.size())})
    return out


def test_bm25_query_terms_are_built_on_the_jvm(spark):
    """Query strings become (query, token) rows without an RDD made from a
    Python list, so scoring them runs no Python worker task: the plan's
    RDD-backed leaves are the index's own. A frame of the same terms made
    with createDataFrame is such a leaf, which the check sees."""
    from pyspark_for_ebook_classification_spark.operators.textops import (
        bm25_index,
        bm25_query,
    )

    index = bm25_index(_bm25_docs(spark))
    leaves = _rdd_leaf_columns(bm25_query(index, ["alpha gamma", "delta"], k=3))
    assert leaves and not any("query" in cols for cols in leaves)
    frame = spark.createDataFrame(
        [("alpha gamma", "alpha"), ("alpha gamma", "gamma"), ("delta", "delta")],
        "query string, token string",
    )
    assert {"query", "token"} in _rdd_leaf_columns(bm25_query(index, frame, k=3))


def test_bm25_query_frame_needs_query_and_token(spark):
    from pyspark_for_ebook_classification_spark.operators.textops import (
        bm25_index,
        bm25_query,
    )

    index = bm25_index(_bm25_docs(spark))
    bad = spark.createDataFrame([(1, "alpha")], "query_id int, token string")
    with pytest.raises(ValueError, match="queries lacks column"):
        bm25_query(index, bad)


def test_bm25_search_reuses_index_of_persisted_docs(spark, count_jobs):
    """A persisted corpus is indexed once: a second call with a new query
    string starts fewer Spark jobs than the first and returns the rows an
    unpersisted call on the same data returns. An unpersisted corpus
    leaves the memo empty."""
    from pyspark_for_ebook_classification_spark.operators.textops import bm25_search

    plain = _bm25_docs(spark)
    assert _rows(bm25_search(plain, ["alpha"], k=5))
    assert plain not in serving._MEMO

    docs = _bm25_docs(spark).cache()
    try:
        first, jobs_first = count_jobs(lambda: _rows(bm25_search(docs, ["alpha gamma"], k=5)))
        second, jobs_second = count_jobs(lambda: _rows(bm25_search(docs, ["beta delta"], k=5)))
        assert docs in serving._MEMO
        assert jobs_second < jobs_first
        assert first == _rows(bm25_search(plain, ["alpha gamma"], k=5))
        assert second == _rows(bm25_search(plain, ["beta delta"], k=5))
    finally:
        docs.unpersist()


def test_bm25_search_reindexes_when_cache_entry_changes(spark, tmp_path):
    """After the data under a persisted corpus is overwritten (Spark
    re-caches the path), after unpersist(), and after a re-cache followed
    by another overwrite, the result reflects the data the frame reads
    now."""
    from pyspark_for_ebook_classification_spark.operators.textops import bm25_search

    path = str(tmp_path / "docs")
    moved = [(d, "omega " + t) if d == 2 else (d, t) for d, t in _BM25_ROWS]
    _bm25_docs(spark).write.parquet(path)
    docs = spark.read.parquet(path).cache()

    def hits():
        return {r.doc_id for r in bm25_search(docs, ["omega"], k=5).collect()}

    try:
        assert hits() == set()
        _bm25_docs(spark, moved).write.mode("overwrite").parquet(path)
        assert hits() == {2}
        docs.unpersist()
        assert hits() == {2}
        assert docs not in serving._MEMO
        docs.cache()
        assert hits() == {2}
        assert docs in serving._MEMO
        _bm25_docs(spark).write.mode("overwrite").parquet(path)
        assert hits() == set()
    finally:
        docs.unpersist()


def test_bm25_memo_entry_dies_with_its_frame(spark):
    """Dropping the last reference to a persisted corpus drops its index."""
    from pyspark_for_ebook_classification_spark.operators.textops import bm25_search

    docs = _bm25_docs(spark).cache()
    jdf = docs._jdf
    bm25_search(docs, ["alpha"], k=5).collect()
    assert docs in serving._MEMO
    n_before = len(serving._MEMO)
    ref = weakref.ref(docs)
    del docs
    gc.collect()
    assert ref() is None
    assert len(serving._MEMO) < n_before
    jdf.unpersist(False)


def test_bm25_bad_input_fails_loudly_and_keeps_the_index(spark):
    """A bare string for ``queries``, a corpus without its text column and
    an index without its columns raise a ValueError; a failed build stores
    nothing; the next good request still scores from the memoized index."""
    from pyspark_for_ebook_classification_spark.operators.textops import (
        bm25_index,
        bm25_query,
        bm25_search,
    )

    docs = _bm25_docs(spark).cache()
    untexted = docs.toDF("doc_id", "body").cache()
    try:
        good = _rows(bm25_search(docs, ["alpha gamma"], k=5))
        with pytest.raises(ValueError, match="list of strings"):
            bm25_search(docs, "alpha gamma", k=5)
        with pytest.raises(ValueError, match="docs lacks column"):
            bm25_search(untexted, ["alpha"], k=5)
        assert untexted not in serving._MEMO
        index = bm25_index(docs)
        with pytest.raises(ValueError, match="index.df lacks column"):
            bm25_query(index._replace(df=index.df.drop("df")), ["alpha"])
        assert docs in serving._MEMO
        assert _rows(bm25_search(docs, ["alpha gamma"], k=5)) == good
    finally:
        docs.unpersist()
        untexted.unpersist()
