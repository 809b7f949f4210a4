"""Round-10: exact_dedup and gopher_gate production entries — pinned
against their declared fixed-workload queries, planted fixtures, and
threshold validation.
"""

from __future__ import annotations

import gc
import weakref
from collections import Counter

import pytest

from pyspark_for_ebook_classification_spark import serving
from pyspark_for_ebook_classification_spark.operators.dedup import exact_dedup
from pyspark_for_ebook_classification_spark.operators.textops import gopher_gate
from pyspark_for_ebook_classification_spark.plans.registry import all_queries
from pyspark_for_ebook_classification_spark.sources.io import load


def test_exact_dedup_matches_registered_query(spark, sf_dir):
    """Grouping the library output by content hash must reproduce the
    declared dedup_exact_sha rows (keep-first id + copy count) exactly."""
    expected = {
        r.content_hash: (r.keep_doc_id, r.n_copies)
        for r in all_queries()["dedup_exact_sha"].fn(spark, sf_dir).collect()
    }
    out = exact_dedup(load(spark, sf_dir, "documents")).collect()
    keeps = {r.content_hash: r.doc_id for r in out if r.keep}
    counts = Counter(r.content_hash for r in out)
    assert {h: (keeps[h], counts[h]) for h in counts} == expected
    # exactly one keeper per hash, and it is the min id
    by_hash: dict[str, list[int]] = {}
    for r in out:
        by_hash.setdefault(r.content_hash, []).append(r.doc_id)
    for h, ids in by_hash.items():
        assert keeps[h] == min(ids)


def test_exact_dedup_planted(spark):
    docs = spark.createDataFrame(
        [(3, "same text"), (1, "same text"), (2, "different")],
        "doc_id int, text string",
    )
    out = {r.doc_id: r.keep for r in exact_dedup(docs).collect()}
    assert out == {1: True, 3: False, 2: True}


def test_gopher_gate_matches_registered_query(spark, sf_dir):
    """At the registry thresholds over the declared 1/5 sample, the
    library must reproduce text_gopher_quality_rules row-for-row."""
    expected = sorted(
        tuple(r) for r in all_queries()["text_gopher_quality_rules"].fn(
            spark, sf_dir
        ).collect()
    )
    d = load(spark, sf_dir, "documents").filter("doc_id % 5 = 0")
    got = sorted(tuple(r) for r in gopher_gate(d).collect())
    assert got == expected


def test_gopher_gate_thresholds_move_the_gate(spark, sf_dir):
    """Re-gating at stricter thresholds keeps a subset; features are
    threshold-independent."""
    d = load(spark, sf_dir, "documents").filter("doc_id % 5 = 0")
    base = gopher_gate(d)
    strict = gopher_gate(d, min_words=30)
    kept_base = {r.doc_id for r in base.collect() if r.keep}
    kept_strict = {r.doc_id for r in strict.collect() if r.keep}
    assert kept_strict <= kept_base
    f_base = {r.doc_id: r.word_count for r in base.collect()}
    f_strict = {r.doc_id: r.word_count for r in strict.collect()}
    assert f_base == f_strict


def test_gopher_gate_planted(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on a mat and it is warm today for sure"),  # keep
            (2, "x y"),  # too few words
            (3, "000 111 222 333 444 555 666 777 888 999"),  # symbols, no alpha
            (4, ""),  # zero tokens -> dropped entirely
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r.keep for r in gopher_gate(docs).collect()}
    assert rows == {1: True, 2: False, 3: False}


@pytest.mark.parametrize(
    "kwargs",
    [
        {"min_words": 10, "max_words": 5},
        {"min_mean_word_len": 5.0, "max_mean_word_len": 2.0},
        {"min_alpha_word_ratio": 1.5},
        {"max_symbol_per_word": -0.1},
        {"min_distinct_stopwords": 99},
    ],
)
def test_gopher_gate_validation(spark, kwargs):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    with pytest.raises(ValueError):
        gopher_gate(docs, **kwargs)


def test_semdedup_planted_and_unlabeled(spark):
    """Identical vectors share every SRP bit (same cell at any depth):
    the higher id is dropped at tau below 1.0; an orthogonal vector is
    kept even when co-celled. label_col=None cells purely by prefix."""
    from pyspark_for_ebook_classification_spark.operators.similarity import semdedup

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 0.0]),   # exact duplicate of 1
            (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal
        ],
        "vec_id int, embedding array<double>",
    )
    out = {
        r.vec_id: r.keep
        for r in semdedup(vecs, tau=0.9, label_col=None, dim=4).collect()
    }
    assert out[1] is True
    assert out[2] is False  # cos 1.0 >= 0.9 to lower-id 1
    assert out[3] is True   # max cos to any lower-id vector is 0.0


def test_semdedup_tau_moves_the_gate(spark, sf_dir):
    """Lower tau drops MORE (tau is a cosine floor): keep-set at tau=0.2
    must be a subset of the keep-set at tau=0.3."""
    from pyspark_for_ebook_classification_spark.operators.similarity import semdedup

    e = load(spark, sf_dir, "embeddings")
    keep_03 = {r.vec_id for r in semdedup(e, tau=0.3).collect() if r.keep}
    keep_02 = {r.vec_id for r in semdedup(e, tau=0.2).collect() if r.keep}
    assert keep_02 <= keep_03
    assert len(keep_02) < len(keep_03)


@pytest.mark.parametrize(
    "kwargs",
    [{"tau": 0.0}, {"tau": 1.5}, {"target_cell": 0}, {"max_refine": -1}, {"max_refine": 31}],
)
def test_semdedup_validation(spark, kwargs):
    from pyspark_for_ebook_classification_spark.operators.similarity import semdedup

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id int, embedding array<double>"
    )
    with pytest.raises(ValueError):
        semdedup(vecs, label_col=None, **kwargs)


_NB_TRAIN = [
    (1, "spam", "buy cheap pills now buy now"),
    (2, "spam", "cheap pills cheap offer"),
    (3, "ham", "meeting notes agenda project"),
    (4, "ham", "project meeting tomorrow agenda"),
]
_NB_TRAIN_SCHEMA = "doc_id int, lang string, text string"
_NB_TEST = [
    (10, "buy pills cheap"),
    (11, "project agenda meeting"),
    (12, "zzz qqq www"),  # fully out-of-vocab
]


def _nb_test(spark, rows=_NB_TEST):
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_nb_classify_planted(spark):
    """Obvious two-class separation: test docs built from one class's
    vocabulary classify to that class; an all-OOV doc emits no row."""
    from pyspark_for_ebook_classification_spark.ml.queries import nb_classify

    train = spark.createDataFrame(_NB_TRAIN, _NB_TRAIN_SCHEMA)
    test = _nb_test(spark)
    out = {r.doc_id: r.pred_lang for r in nb_classify(train, test).collect()}
    assert out == {10: "spam", 11: "ham"}


def test_nb_classify_custom_columns_and_alpha(spark):
    from pyspark_for_ebook_classification_spark.ml.queries import nb_classify

    train = spark.createDataFrame(
        [("a", "pos", "good great fine"), ("b", "neg", "bad awful poor")],
        "uri string, sentiment string, body string",
    )
    test = spark.createDataFrame(
        [("x", "good fine"), ("y", "awful bad")], "uri string, body string"
    )
    out = {
        r.uri: r.pred_sentiment
        for r in nb_classify(
            train,
            test,
            alpha=0.5,
            id_col="uri",
            label_col="sentiment",
            text_col="body",
        ).collect()
    }
    assert out == {"x": "pos", "y": "neg"}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        nb_classify(train, test, alpha=0.0)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_nb_classify_is_fit_then_score(spark):
    """The one-shot entry is exactly its two steps, at default and custom
    columns and smoothing."""
    from pyspark_for_ebook_classification_spark.ml.queries import nb_classify, nb_fit, nb_score

    train = spark.createDataFrame(_NB_TRAIN, _NB_TRAIN_SCHEMA)
    test = _nb_test(spark)
    assert _rows(nb_classify(train, test)) == _rows(nb_score(nb_fit(train), test))
    assert _rows(nb_classify(train, test, alpha=0.5)) == _rows(
        nb_score(nb_fit(train), test, alpha=0.5)
    )
    renamed = train.toDF("uri", "sentiment", "body")
    req = test.toDF("uri", "body")
    cols = dict(id_col="uri", label_col="sentiment", text_col="body")
    model = nb_fit(renamed, label_col="sentiment", text_col="body")
    assert _rows(nb_classify(renamed, req, **cols)) == _rows(nb_score(model, req, **cols))


def test_nb_grouped_fit_and_score_equal_per_group_calls(spark):
    """nb_fit/nb_score keyed by a group column return, row for row, the
    union over groups of the ungrouped calls on each group's rows: at a
    float alpha, and at a Column alpha that is itself a group key (the
    CV twin's alpha grid). Groups share doc ids, so a leak across
    groups would show. A numeric alpha <= 0 still raises."""
    from pyspark.sql import functions as F

    from pyspark_for_ebook_classification_spark.ml.queries import NBModel, nb_fit, nb_score

    per_group = {
        "g1": _NB_TRAIN,
        "g2": [
            (1, "spam", "cheap cheap pills"),
            (2, "ham", "pills meeting agenda"),
            (3, "ham", "project notes"),
            (5, "eggs", "buy now buy"),
        ],
    }
    train = spark.createDataFrame(
        [(g, *r) for g, rows in per_group.items() for r in rows],
        "g string, doc_id int, lang string, text string",
    )
    test = spark.createDataFrame(
        [(g, *r) for g in per_group for r in _NB_TEST + [(13, "buy cheap agenda now")]],
        "g string, doc_id int, text string",
    )
    model = nb_fit(train, group_cols=("g",))

    def ungrouped(g, alpha):
        rows = nb_score(
            nb_fit(train.filter(F.col("g") == g)), test.filter(F.col("g") == g), alpha=alpha
        ).collect()
        return [(g, *r) for r in rows]

    want = sorted(r for g in per_group for r in ungrouped(g, 0.5))
    got = _rows(nb_score(model, test, alpha=0.5, group_cols=("g",)))
    assert got == want and {r[0] for r in got} == set(per_group)

    alphas = spark.createDataFrame([(0.5,), (2.0,)], "alpha double")
    got = _rows(
        nb_score(
            NBModel(model.table.crossJoin(alphas)),
            test.crossJoin(alphas),
            alpha=F.col("alpha"),
            group_cols=("g", "alpha"),
        )
    )
    want = sorted(
        (g, a, *r[1:]) for g in per_group for a in (0.5, 2.0) for r in ungrouped(g, a)
    )
    assert got == want

    for bad in (0.0, -1.0):
        with pytest.raises(ValueError, match="alpha > 0"):
            nb_score(model, test, alpha=bad, group_cols=("g",))


def test_nb_classify_reuses_model_of_persisted_train(spark, count_jobs):
    """A persisted train is fitted once: a second request with new test
    rows starts fewer Spark jobs than the first and returns the rows an
    unpersisted call on the same data returns. An unpersisted train
    leaves the memo empty."""
    from pyspark_for_ebook_classification_spark.ml.queries import nb_classify

    plain = spark.createDataFrame(_NB_TRAIN, _NB_TRAIN_SCHEMA)
    assert _rows(nb_classify(plain, _nb_test(spark)))
    assert plain not in serving._MEMO

    train = spark.createDataFrame(_NB_TRAIN, _NB_TRAIN_SCHEMA).cache()
    try:
        first, jobs_first = count_jobs(lambda: _rows(nb_classify(train, _nb_test(spark))))
        req = _nb_test(spark, [(20, "cheap offer now"), (21, "agenda tomorrow")])
        second, jobs_second = count_jobs(lambda: _rows(nb_classify(train, req)))
        assert train in serving._MEMO
        assert jobs_second < jobs_first
        assert first == _rows(nb_classify(plain, _nb_test(spark)))
        assert second == _rows(nb_classify(plain, req))
    finally:
        train.unpersist()


def test_nb_classify_refits_when_cache_entry_changes(spark, tmp_path):
    """The memo follows the cache entry, not the frame: after the data
    under a persisted train is overwritten (Spark re-caches the path),
    after unpersist(), and after a re-cache followed by another
    overwrite, the result reflects the data the frame reads now."""
    from pyspark_for_ebook_classification_spark.ml.queries import nb_classify

    path = str(tmp_path / "train")
    flipped = [(d, "ham" if lang == "spam" else "spam", text) for d, lang, text in _NB_TRAIN]
    spark.createDataFrame(_NB_TRAIN, _NB_TRAIN_SCHEMA).write.parquet(path)
    train = spark.read.parquet(path).cache()
    test = _nb_test(spark)

    def preds():
        return {r.doc_id: r.pred_lang for r in nb_classify(train, test).collect()}

    try:
        assert preds() == {10: "spam", 11: "ham"}
        spark.createDataFrame(flipped, _NB_TRAIN_SCHEMA).write.mode("overwrite").parquet(path)
        assert preds() == {10: "ham", 11: "spam"}
        train.unpersist()
        assert preds() == {10: "ham", 11: "spam"}
        assert train not in serving._MEMO
        train.cache()
        assert preds() == {10: "ham", 11: "spam"}
        assert train in serving._MEMO
        spark.createDataFrame(_NB_TRAIN, _NB_TRAIN_SCHEMA).write.mode("overwrite").parquet(path)
        assert preds() == {10: "spam", 11: "ham"}
    finally:
        train.unpersist()


def test_nb_memo_entry_dies_with_its_frame(spark):
    """The memo holds its input frames weakly: dropping the last
    reference to a persisted train drops its model."""
    from pyspark_for_ebook_classification_spark.ml.queries import nb_classify

    train = spark.createDataFrame(_NB_TRAIN, _NB_TRAIN_SCHEMA).cache()
    jdf = train._jdf
    nb_classify(train, _nb_test(spark)).collect()
    assert train in serving._MEMO
    n_before = len(serving._MEMO)
    ref = weakref.ref(train)
    del train
    gc.collect()
    assert ref() is None
    assert len(serving._MEMO) < n_before
    jdf.unpersist(False)


def test_nb_bad_input_fails_loudly_and_keeps_the_model(spark):
    """Missing columns in the request or the model raise a ValueError
    naming them; a failed build stores nothing; the next good request
    still scores from the memoized model."""
    from pyspark_for_ebook_classification_spark.ml.queries import nb_classify, nb_fit, nb_score

    train = spark.createDataFrame(_NB_TRAIN, _NB_TRAIN_SCHEMA).cache()
    unlabeled = spark.createDataFrame([(1, "buy now")], "doc_id int, text string").cache()
    try:
        good = _rows(nb_classify(train, _nb_test(spark)))
        with pytest.raises(ValueError, match="test lacks column"):
            nb_classify(train, _nb_test(spark).withColumnRenamed("text", "body"))
        model = nb_fit(train)
        with pytest.raises(ValueError, match="model.table lacks column"):
            nb_score(model._replace(table=model.table.drop("v")), _nb_test(spark))
        with pytest.raises(ValueError, match="train lacks column"):
            nb_classify(unlabeled, _nb_test(spark))
        assert unlabeled not in serving._MEMO
        assert train in serving._MEMO
        assert _rows(nb_classify(train, _nb_test(spark))) == good
    finally:
        train.unpersist()
        unlabeled.unpersist()


def test_nb_library_classify_repeats_in_one_session(spark, sf_dir):
    """Two runs of the registered NB library query in one session return
    the same rows and leave no memo entry behind."""
    q = all_queries()["ml_nb_library_classify"]
    n_memo = len(serving._MEMO)
    first = _rows(q.fn(spark, sf_dir))
    assert first and _rows(q.fn(spark, sf_dir)) == first
    assert len(serving._MEMO) == n_memo


def test_bpe_apply_of_trained_merges_matches_encode_query(spark, sf_dir):
    """bpe_train -> collect merge table -> bpe_apply rebuilds exactly the
    trainer's final stream, which the encode and decode queries aggregate
    (``_bpe_encoded``), and decodes losslessly: every word type's symbols
    re-concatenate to the original word plus the end-of-word marker."""
    from pyspark_for_ebook_classification_spark.operators.textops import (
        BPE_ROUNDS,
        _bpe_encoded,
        _bpe_symbols,
        bpe_apply,
        bpe_train,
    )

    d = load(spark, sf_dir, "documents")
    merges = [
        (r.left_sym, r.right_sym)
        for r in bpe_train(d, rounds=BPE_ROUNDS).orderBy("round").collect()
    ]
    applied = bpe_apply(d, merges).collect()
    assert applied
    assert sorted(map(tuple, applied)) == sorted(
        map(tuple, _bpe_symbols(_bpe_encoded(spark, sf_dir)).collect())
    )
    for r in applied:
        assert "".join(r.symbols) == r.word + "</w>"
        assert r.n_symbols == len(r.symbols)


def test_bpe_apply_planted_fixed_merges(spark):
    """Replaying a hand-written merge table (not trained on this corpus)
    must match the sequential scanner with the same fixed merges —
    greedy left-to-right non-overlapping per pair, in table order."""
    from pyspark_for_ebook_classification_spark.operators.textops import bpe_apply

    docs = spark.createDataFrame(
        [(1, "abab abba aaaa")], "doc_id int, text string"
    )
    merges = [("a", "b"), ("ab", "ab")]

    def scan(word, table):
        syms = list(word) + ["</w>"]
        for l, r in table:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    got = {r.word: list(r.symbols) for r in bpe_apply(docs, merges).collect()}
    assert got == {w: scan(w, merges) for w in ("abab", "abba", "aaaa")}


def test_bpe_apply_long_table_crosses_lineage_cut(spark):
    """r15 (r14 ADVICE): replaying a merge table longer than the 16-merge
    lineage-cut interval must give the same answer as the sequential
    scanner — the periodic localCheckpoint bounds plan depth for
    production-scale tables and must be invisible to the result. The
    table interleaves real merges across both sides of the cut boundary
    (merge 40 consumes the output of merge 1) with inert padding pairs."""
    from pyspark_for_ebook_classification_spark.operators.textops import bpe_apply

    docs = spark.createDataFrame(
        [(1, "abab abba aaaa"), (2, "baba cabc")], "doc_id int, text string"
    )
    # 1 real + 38 inert + 1 real-cascading + 5 inert = 45 merges (two cuts)
    merges = (
        [("a", "b")]
        + [(f"x{i}", f"y{i}") for i in range(38)]
        + [("ab", "ab")]
        + [(f"p{i}", f"q{i}") for i in range(5)]
    )

    def scan(word, table):
        syms = list(word) + ["</w>"]
        for l, r in table:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    got = {r.word: list(r.symbols) for r in bpe_apply(docs, merges).collect()}
    words = ("abab", "abba", "aaaa", "baba", "cabc")
    assert got == {w: scan(w, merges) for w in words}


def test_bpe_apply_validation(spark):
    from pyspark_for_ebook_classification_spark.operators.textops import bpe_apply

    docs = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bpe_apply(docs, [("a", "")])
    with _pytest.raises(ValueError):
        bpe_apply(docs, [("a",)])
    # empty merge table is the identity tokenizer (chars + eow)
    out = {r.word: list(r.symbols) for r in bpe_apply(docs, []).collect()}
    assert out == {"a": ["a", "</w>"], "b": ["b", "</w>"]}


def test_curate_matches_declared_pipeline(spark, sf_dir):
    """curate() at the defaults must equal data_curation_pipeline
    row-for-row — the convenience wrapper IS the declared query."""
    from pyspark_for_ebook_classification_spark.operators.dedup import curate

    expected = sorted(
        tuple(r)
        for r in all_queries()["data_curation_pipeline"].fn(spark, sf_dir).collect()
    )
    got = sorted(
        tuple(r) for r in curate(load(spark, sf_dir, "documents")).collect()
    )
    assert got == expected


def test_curate_thresholds_move_stages(spark, sf_dir):
    """Stricter quality thresholds shrink the whole funnel; verdicts stay
    monotone at any parameters."""
    from pyspark_for_ebook_classification_spark.operators.dedup import curate

    d = load(spark, sf_dir, "documents")
    base = curate(d).collect()
    strict = curate(d, gopher_params={"min_words": 30}).collect()
    kept = {r.doc_id for r in base if r.final_keep}
    kept_strict = {r.doc_id for r in strict if r.final_keep}
    assert kept_strict <= kept
    for r in strict:
        assert not (r.final_keep and not r.exact_keep)
        assert not (r.exact_keep and not r.quality_keep)
