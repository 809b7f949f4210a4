"""Served calls against state that ``serving.built_for`` holds for a
persisted input: the rows equal an unpersisted one-shot call's on both
sides of the one-partition size cutoff and at 1 and 32 shuffle
partitions; a served request runs a bounded number of Spark jobs and, once
warm, compiles no new class; the rows do not depend on the request frame's
partition count; ``ann_topk``'s corpus state follows the same memo rules
as the NB model and the BM25 index."""

from __future__ import annotations

import gc
import weakref

import pytest

from pyspark_for_ebook_classification_spark import serving
from pyspark_for_ebook_classification_spark.ml.queries import nb_classify, nb_fit
from pyspark_for_ebook_classification_spark.operators import dedup
from pyspark_for_ebook_classification_spark.operators.similarity import ann_topk, mmr_rerank
from pyspark_for_ebook_classification_spark.operators.textops import (
    bm25_index,
    bm25_query,
    bm25_search,
)
from pyspark_for_ebook_classification_spark.sources.io import load

_ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
_SHUFFLE = "spark.sql.shuffle.partitions"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _train(spark, sf_dir):
    return load(spark, sf_dir, "documents").filter("doc_id % 5 != 0")


def _inputs(spark, sf_dir):
    """Fresh unpersisted frames, by the name of the input each case
    serves from."""
    return {
        "train": _train(spark, sf_dir),
        "docs": load(spark, sf_dir, "documents"),
        "emb": load(spark, sf_dir, "embeddings"),
    }


def _requests(spark, sf_dir):
    """Local frames, as a server builds them from a request: held-out
    docs to classify, query strings and query vectors."""
    held_out = load(spark, sf_dir, "documents").filter("doc_id % 5 = 0").orderBy("doc_id")
    docs = spark.createDataFrame(
        [(r.doc_id, r.text) for r in held_out.collect()], "doc_id long, text string"
    )
    texts = [r.text for r in held_out.limit(6).collect()]
    queries = [" ".join(t.split(" ")[:3]) for t in texts[:3]] + ["zzz " + texts[3].split(" ")[0]]
    vecs = load(spark, sf_dir, "embeddings").filter("vec_id < 4").collect()
    qvecs = spark.createDataFrame(
        [(r.vec_id, r.embedding) for r in vecs], "vec_id long, embedding array<float>"
    )
    return docs, queries, qvecs


def _cases(spark, sf_dir):
    """(name, entry(corpus) -> DataFrame, which corpus it serves from)."""
    docs, queries, qvecs = _requests(spark, sf_dir)
    cases = [
        (f"nb alpha={a}", lambda c, a=a: nb_classify(c, docs, alpha=a), "train")
        for a in (1.0, 0.5)
    ]
    cases += [
        (f"bm25 k1={k1} b={b}", lambda c, k1=k1, b=b: bm25_search(c, queries, k=5, k1=k1, b=b), "docs")
        for k1, b in ((1.2, 0.75), (2.0, 0.3))
    ]
    cases += [
        (f"ann {m} k={k}", lambda c, m=m, k=k: ann_topk(c, qvecs, k=k, method=m), "emb")
        for m in ("bruteforce", "lsh", "srp_multiprobe")
        for k in (3, 10)
    ]
    return cases


def _partitioning(df) -> str:
    return df._jdf.queryExecution().executedPlan().outputPartitioning().toString()


@pytest.mark.parametrize("shuffle", ["1", "32"])
@pytest.mark.parametrize("cutoff", ["tiny", "default"])
def test_served_rows_equal_one_shot_rows(spark, sf_dir, cutoff, shuffle):
    """Every served call returns the rows of an unpersisted one-shot call
    on the same data, whether the held state is one partition (default
    cutoff) or stays distributed (a 1-byte cutoff), at 1 and 32 shuffle
    partitions."""
    saved = {k: spark.conf.get(k) for k in (_ADVISORY, _SHUFFLE)}
    held = {}
    try:
        spark.conf.set(_SHUFFLE, shuffle)
        if cutoff == "tiny":
            spark.conf.set(_ADVISORY, "1b")
        cases = _cases(spark, sf_dir)
        plain = _inputs(spark, sf_dir)
        want = {name: _rows(fn(plain[src])) for name, fn, src in cases}
        held = {src: frame.cache() for src, frame in _inputs(spark, sf_dir).items()}
        for name, fn, src in cases:
            assert want[name], name
            assert _rows(fn(held[src])) == want[name], name
            assert held[src] in serving._MEMO
        # the default cutoff holds every table as one partition; a 1-byte
        # cutoff leaves each corpus-keyed table (NB's model table, BM25's
        # tf, ANN's norms) distributed. BM25 holds no stats, which
        # bm25_query does not read.
        for src, frame in held.items():
            for _, state in serving._MEMO[frame].values():
                if src == "docs":
                    assert state.stats is None
                tables = [state] if hasattr(state, "_jdf") else [t for t in state if t is not None]
                if cutoff == "default":
                    assert all(_partitioning(t) == "SinglePartition" for t in tables), src
                else:
                    assert _partitioning(tables[0]) != "SinglePartition", src
    finally:
        for frame in held.values():
            frame.unpersist()
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_served_requests_run_few_jobs(spark, sf_dir, count_jobs):
    """Against held state a second request runs at most 3 Spark jobs for
    nb_classify and bm25_search and 2 for ann_topk. Building an
    ann_topk frame over an unpersisted corpus starts none; building an
    nb_classify or bm25_search frame over an unpersisted input starts no
    more than building its model or index alone (nb_fit's and
    bm25_index's lazy cut points run their shuffle stages when they are
    made)."""
    docs, queries, qvecs = _requests(spark, sf_dir)
    plain = load(spark, sf_dir, "embeddings")
    _, jobs = count_jobs(lambda: ann_topk(plain, qvecs, k=5))
    assert jobs == 0
    _, fit_jobs = count_jobs(lambda: nb_fit(_train(spark, sf_dir)))
    _, jobs = count_jobs(lambda: nb_classify(_train(spark, sf_dir), docs))
    assert jobs <= fit_jobs
    _, index_jobs = count_jobs(lambda: bm25_index(load(spark, sf_dir, "documents")))
    _, jobs = count_jobs(lambda: bm25_search(load(spark, sf_dir, "documents"), queries, k=5))
    assert jobs <= index_jobs
    calls = {
        "nb_classify": (lambda c: nb_classify(c, docs), "train", 3),
        "bm25_search": (lambda c: bm25_search(c, queries, k=5), "docs", 3),
        "ann_topk": (lambda c: ann_topk(c, qvecs, k=5), "emb", 2),
    }
    held = {src: frame.cache() for src, frame in _inputs(spark, sf_dir).items()}
    try:
        for name, (fn, src, most) in calls.items():
            fn(held[src]).collect()
            _, jobs = count_jobs(lambda: fn(held[src]).collect())
            assert jobs <= most, (name, jobs)
    finally:
        for frame in held.values():
            frame.unpersist()


def test_warm_served_calls_compile_no_new_class(spark, sf_dir):
    """Served calls 2 to 5 of each entry, each with a new request, compile
    no generated class: the plan shape, the build side of every join
    included, does not change from call to call."""
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    docs = load(spark, sf_dir, "documents")
    texts = [r.text for r in docs.filter("doc_id % 5 = 0").orderBy("doc_id").limit(20).collect()]
    vecs = [r.embedding for r in load(spark, sf_dir, "embeddings").filter("vec_id < 20").collect()]
    held = {src: frame.cache() for src, frame in _inputs(spark, sf_dir).items()}

    def request(i: int) -> None:
        req = spark.createDataFrame(
            [(10_000 + i * 4 + j, texts[i * 4 + j]) for j in range(4)], "doc_id long, text string"
        )
        nb_classify(held["train"], req).collect()
        bm25_search(held["docs"], [" ".join(texts[i * 4].split(" ")[:2])], k=10).collect()
        q = spark.createDataFrame(
            [(j, vecs[i * 4 + j]) for j in range(4)], "vec_id long, embedding array<float>"
        )
        ann_topk(held["emb"], q, k=10, exclude_self=False).collect()

    try:
        request(0)
        before = compiles.getCount()
        for i in range(1, 5):
            request(i)
        assert compiles.getCount() - before == 0
    finally:
        for frame in held.values():
            frame.unpersist()


def test_nb_serves_without_broadcast(spark, sf_dir):
    """With broadcasts off, a held NB model table is not
    ``broadcastable``: the served call leaves its join to the planner
    and returns the rows of an unpersisted one-shot call."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    docs, _, _ = _requests(spark, sf_dir)
    train = _train(spark, sf_dir).cache()
    try:
        spark.conf.set(key, "-1")
        want = _rows(nb_classify(_train(spark, sf_dir), docs))
        assert want
        assert _rows(nb_classify(train, docs)) == want
        (_, model), = serving._MEMO[train].values()
        assert not serving.broadcastable(model.table)
        spark.conf.set(key, saved)
        assert serving.broadcastable(model.table)
    finally:
        train.unpersist()
        spark.conf.set(key, saved)


def test_rows_do_not_depend_on_request_partitions(spark, sf_dir):
    """A request frame made from a Python list is one partition; the same
    rows spread over 4 partitions give identical rows from nb_classify,
    bm25_query's frame path, ann_topk, mmr_rerank and gate_score, each
    scoring against held state as a server does."""
    docs, queries, qvecs = _requests(spark, sf_dir)
    terms = spark.createDataFrame(
        [(q, t) for q in queries for t in dict.fromkeys(w for w in q.split(" ") if w)],
        "query string, token string",
    )
    held = {src: frame.cache() for src, frame in _inputs(spark, sf_dir).items()}
    try:
        vec_of = {r.vec_id: r.embedding for r in held["emb"].collect()}
        hits = ann_topk(held["emb"], qvecs, k=10, exclude_self=False).collect()
        pool = spark.createDataFrame(
            [(r.query_id, r.neighbor_id, float(r.cosine), vec_of[r.neighbor_id]) for r in hits],
            "query_id long, cand_id long, rel double, embedding array<float>",
        )
        # copies of held-out corpus docs, and one doc matching nothing
        batch = spark.createDataFrame(
            [(1_000_000 + r.doc_id, r.text) for r in docs.limit(8).collect()]
            + [(2_000_000, "zzz yyy xxx www vvv")],
            "doc_id long, text string",
        )
        index = bm25_index(held["docs"])
        gate_index = dedup.gate_static_index(held["docs"]).localCheckpoint(eager=True)

        def gate(b):
            shingled = (
                b.select("doc_id", dedup._raw_tokens_expr().alias("tokens"))
                .filter("size(tokens) >= 1")
                .select("doc_id", dedup._shingles_expr().alias("shingles"))
            )
            return dedup.gate_score(dedup._gate_sig_cols(shingled), gate_index)

        cases = {
            "nb_classify": (lambda r: nb_classify(held["train"], r), docs),
            "bm25_query": (lambda r: bm25_query(index, r, k=5), terms),
            "ann_topk": (lambda r: ann_topk(held["emb"], r, k=10, exclude_self=False), qvecs),
            "mmr_rerank": (lambda r: mmr_rerank(r, k=4), pool),
            "gate_score": (gate, batch),
        }
        for name, (fn, request) in cases.items():
            spread = request.repartition(4)
            assert request.rdd.getNumPartitions() == 1, name
            assert spread.rdd.getNumPartitions() == 4, name
            want = _rows(fn(request))
            assert want, name
            assert _rows(fn(spread)) == want, name
    finally:
        for frame in held.values():
            frame.unpersist()


_EMB_ROWS = [
    (1, [1.0, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0]),
    (3, [0.6, 0.8, 0.0]),
    (4, [0.0, 0.6, 0.8]),
]
_EMB_SCHEMA = "vec_id long, embedding array<float>"


def _emb(spark, rows=_EMB_ROWS):
    return spark.createDataFrame(rows, _EMB_SCHEMA)


def _ann_query(spark):
    return spark.createDataFrame([(100, [1.0, 0.1, 0.0])], _EMB_SCHEMA)


def test_ann_topk_reuses_norms_of_persisted_corpus(spark, count_jobs):
    """A persisted corpus is normed once: a second call starts fewer Spark
    jobs than the first and returns the rows an unpersisted call on the
    same data returns. An unpersisted corpus leaves the memo empty."""
    plain = _emb(spark)
    want = _rows(ann_topk(plain, _ann_query(spark), k=3, exclude_self=False))
    assert want
    assert plain not in serving._MEMO

    corpus = _emb(spark).cache()
    try:
        first, jobs_first = count_jobs(
            lambda: _rows(ann_topk(corpus, _ann_query(spark), k=3, exclude_self=False))
        )
        second, jobs_second = count_jobs(
            lambda: _rows(ann_topk(corpus, _ann_query(spark), k=3, exclude_self=False))
        )
        assert corpus in serving._MEMO
        assert jobs_second < jobs_first
        assert first == second == want
    finally:
        corpus.unpersist()


def test_ann_topk_renorms_when_cache_entry_changes(spark, tmp_path):
    """After the data under a persisted corpus is overwritten (Spark
    re-caches the path), after unpersist(), and after a re-cache followed
    by another overwrite, the result reflects the data the frame reads
    now."""
    path = str(tmp_path / "emb")
    moved = [(v, [1.0, 0.1, 0.0]) if v == 4 else (v, e) for v, e in _EMB_ROWS]
    _emb(spark).write.parquet(path)
    corpus = spark.read.parquet(path).cache()

    def top1():
        rows = ann_topk(corpus, _ann_query(spark), k=1, exclude_self=False).collect()
        return rows[0].neighbor_id

    try:
        assert top1() == 1
        _emb(spark, moved).write.mode("overwrite").parquet(path)
        assert top1() == 4
        corpus.unpersist()
        assert top1() == 4
        assert corpus not in serving._MEMO
        corpus.cache()
        assert top1() == 4
        assert corpus in serving._MEMO
        _emb(spark).write.mode("overwrite").parquet(path)
        assert top1() == 1
    finally:
        corpus.unpersist()


def test_ann_memo_entry_dies_with_its_frame(spark):
    """Dropping the last reference to a persisted corpus drops its state."""
    corpus = _emb(spark).cache()
    jdf = corpus._jdf
    ann_topk(corpus, _ann_query(spark), k=2, exclude_self=False).collect()
    assert corpus in serving._MEMO
    n_before = len(serving._MEMO)
    ref = weakref.ref(corpus)
    del corpus
    gc.collect()
    assert ref() is None
    assert len(serving._MEMO) < n_before
    jdf.unpersist(False)
