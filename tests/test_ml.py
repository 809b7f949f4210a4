"""Golden tests for the MLlib parity surface (SURVEY.md §5.3): model
training isn't oracle-checkable, so semantics are pinned with a frozen,
clearly-separable tiny corpus plus determinism assertions on the driver
tables.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark_for_ebook_classification_spark.ml.pipeline import (
    TextClassifierConfig,
    evaluate,
    fit_text_classifier,
    split_train_test,
)

# Frozen corpus: two "languages" with disjoint vocabularies.
ALPHA = ["red green blue color paint %d" % i for i in range(8)]
BETA = ["loud quiet sound music note %d" % i for i in range(8)]


@pytest.fixture(scope="module")
def tiny_corpus(spark):
    rows = [(i, t, "alpha") for i, t in enumerate(ALPHA)] + [
        (100 + i, t, "beta") for i, t in enumerate(BETA)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_nb_separates_disjoint_vocab(tiny_corpus):
    model = fit_text_classifier(tiny_corpus, TextClassifierConfig(classifier="nb"))
    preds = model.transform(tiny_corpus).select("lang", "label", "prediction").toPandas()
    # alphabetAsc indexing: alpha → 0, beta → 1
    assert (preds["prediction"] == preds["label"]).all()


def test_lr_separates_disjoint_vocab(tiny_corpus):
    model = fit_text_classifier(tiny_corpus, TextClassifierConfig(classifier="lr"))
    preds = model.transform(tiny_corpus).toPandas()
    assert (preds["prediction"] == preds["label"]).all()


def test_evaluate_perfect_model(tiny_corpus):
    model = fit_text_classifier(tiny_corpus)
    metrics = evaluate(model.transform(tiny_corpus))
    assert metrics["accuracy"] == 1.0
    assert metrics["f1"] == 1.0


def test_split_deterministic(spark, sf_dir):
    from pyspark_for_ebook_classification_spark.sources.io import load

    docs = load(spark, sf_dir, "documents")
    t1a, t2a = split_train_test(docs)
    t1b, t2b = split_train_test(docs)
    assert t1a.count() == t1b.count()
    assert t2a.count() == t2b.count()
    ids_a = {r.doc_id for r in t2a.select("doc_id").collect()}
    ids_b = {r.doc_id for r in t2b.select("doc_id").collect()}
    assert ids_a == ids_b
    # hash split is partition-layout invariant (randomSplit is NOT): the
    # same rows land in the same split under any repartitioning
    _, t2c = split_train_test(docs.repartition(7))
    ids_c = {r.doc_id for r in t2c.select("doc_id").collect()}
    assert ids_c == ids_a
    # and the two splits partition the input (disjoint, exhaustive)
    t1_ids = {r.doc_id for r in t1a.select("doc_id").collect()}
    assert not (t1_ids & ids_a)
    assert len(t1_ids) + len(ids_a) == docs.count()


def test_split_n_way_partitions_exactly(spark, sf_dir):
    """randomSplit-style n-way weights: the three bands must be pairwise
    disjoint and jointly exhaustive, and the 2-way default must be the
    first band of an equivalent 3-way split collapsed — i.e. band edges
    are cumulative, not re-hashed per band."""
    from pyspark_for_ebook_classification_spark.sources.io import load

    docs = load(spark, sf_dir, "documents")
    tr, va, te = split_train_test(docs, weights=(0.7, 0.2, 0.1))
    ids = [
        {r.doc_id for r in part.select("doc_id").collect()} for part in (tr, va, te)
    ]
    assert not (ids[0] & ids[1]) and not (ids[0] & ids[2]) and not (ids[1] & ids[2])
    assert len(ids[0] | ids[1] | ids[2]) == docs.count()
    tr2, _ = split_train_test(docs, weights=(0.7, 0.3))
    assert {r.doc_id for r in tr2.select("doc_id").collect()} == ids[0]


def test_predictions_deterministic(spark, sf_dir):
    from pyspark_for_ebook_classification_spark.ml.queries import ml_nb_text_predictions

    a = ml_nb_text_predictions(spark, sf_dir).toPandas().sort_values("doc_id")
    b = ml_nb_text_predictions(spark, sf_dir).toPandas().sort_values("doc_id")
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))


def test_bigram_pipeline_runs(tiny_corpus):
    cfg = TextClassifierConfig(use_bigrams=True)
    model = fit_text_classifier(tiny_corpus, cfg)
    out = model.transform(tiny_corpus)
    assert out.count() == 16
    assert "prediction" in out.columns


def test_mllib_idf_matches_relational_tfidf(spark, sf_dir):
    """§2.12 M4/M5 ↔ L6 bridge: MLlib's CountVectorizer+IDF statistics
    must agree exactly with the oracle-checked relational TF-IDF path
    (text_tfidf_vocab): same per-term document frequency, and
    MLlib idf == ln((N+1)/(df+1)) == relational idf − 1 (the relational
    column adds sklearn's +1 smoothing term)."""
    import math

    from pyspark.ml.feature import IDF, CountVectorizer
    from pyspark.sql import functions as F

    from pyspark_for_ebook_classification_spark.operators.textops import _tokens
    from pyspark_for_ebook_classification_spark.plans.registry import all_queries
    from pyspark_for_ebook_classification_spark.sources.io import load

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", _tokens().alias("tokens")
    )
    n_docs = docs.count()
    cv_model = CountVectorizer(
        inputCol="tokens", outputCol="tf", minDF=2.0, vocabSize=1 << 18
    ).fit(docs)
    tf = cv_model.transform(docs)
    idf_model = IDF(inputCol="tf", outputCol="tfidf").fit(tf)
    mllib_idf = dict(zip(cv_model.vocabulary, idf_model.idf.toArray()))

    native = {
        r["token"]: r
        for r in all_queries()["text_tfidf_vocab"].fn(spark, sf_dir).collect()
    }
    # identical vocabularies under the same df >= 2 cut
    assert set(mllib_idf) == set(native)
    for term, got in mllib_idf.items():
        df = native[term]["df"]
        expect = math.log((n_docs + 1.0) / (df + 1.0))
        assert abs(got - expect) < 1e-9, term
        assert abs((native[term]["idf"] - 1.0) - got) < 1e-6, term


def test_nb_relational_twin_matches_pure_python(spark, sf_dir):
    """Third engine for ml_nb_relational_twin: pure-Python multinomial
    NB over the same md5 split, whitespace tokens, add-one smoothing and
    decimal-rounded log terms must reproduce every prediction AND score
    exactly; sanity: accuracy beats the 1/n_langs prior and tracks the
    MLlib classifier's ballpark on the same corpus."""
    import hashlib
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark_for_ebook_classification_spark.ml.queries import _NB_CUT, _NB_SEED
    from pyspark_for_ebook_classification_spark.plans.registry import all_queries
    from pyspark_for_ebook_classification_spark.sources.io import load

    def d6(x):
        return Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)

    def r6(x):
        return float(d6(x))

    docs = {
        r["doc_id"]: (r["lang"], [t for t in r["text"].split(" ") if t])
        for r in load(spark, sf_dir, "documents").collect()
    }
    def bucket(doc_id):
        h = hashlib.md5(f"{doc_id}#{_NB_SEED}".encode()).hexdigest()
        return int(h[:15], 16) % 10000

    train = {d: v for d, v in docs.items() if bucket(d) < _NB_CUT}
    test = {d: v for d, v in docs.items() if bucket(d) >= _NB_CUT}

    cnt, tot, ndocs = {}, Counter(), Counter()
    vocab = set()
    for lang, toks in train.values():
        ndocs[lang] += 1
        for t in toks:
            cnt[(lang, t)] = cnt.get((lang, t), 0) + 1
            tot[lang] += 1
            vocab.add(t)
    v = len(vocab)
    n_train = len(train)
    langs = sorted(ndocs)

    expected = {}
    for d, (true_lang, toks) in test.items():
        tf = Counter(t for t in toks if t in vocab)
        if not tf:
            continue
        best = None
        for lang in langs:
            s = d6(r6(math.log(ndocs[lang] / float(n_train))))
            s += sum(
                d6(k * r6(math.log((cnt.get((lang, t), 0) + 1.0) / (tot[lang] + v))))
                for t, k in tf.items()
            )
            if best is None or s > best[1]:
                best = (lang, s)
        expected[d] = (true_lang, best[0], float(best[1]))

    got = {
        r["doc_id"]: (r["true_lang"], r["pred_lang"], r["nb_log_score"])
        for r in all_queries()["ml_nb_relational_twin"].fn(spark, sf_dir).collect()
    }
    assert got == expected
    acc = sum(1 for t, p, _ in got.values() if t == p) / len(got)
    assert acc > 1.0 / len(langs)  # beats the uniform prior


def test_lr_twin_matches_pure_python(spark, sf_dir):
    """Third engine for the LR scoring twin (parity says Spark == DuckDB;
    this says both == the intended math): pure-Python feature extraction
    + fixed-weight argmax must reproduce every prediction, and the
    confusion twin's counts must be consistent with them (tp+fn = class
    size, Σ(tp+fp) = n scored docs, F1 = 2tp/(pred+true))."""
    import math

    from pyspark_for_ebook_classification_spark.ml.queries import _LR_WEIGHTS
    from pyspark_for_ebook_classification_spark.plans.registry import all_queries
    from pyspark_for_ebook_classification_spark.sources.io import load

    def r6(x: float) -> float:
        # the twins' portable rounding (ml/queries._p6): floor(x·10⁶+0.5)
        # with the same IEEE ops — engine round() disagrees on the z
        # lattice (see _p6's docstring)
        return math.floor(x * 1000000.0 + 0.5) / 1000000.0

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    ).collect()
    expected = {}
    for r in docs:
        toks = [t for t in r["text"].split(" ") if t]
        if not toks:
            continue
        x_len = float(r["n_chars"]) / 1000
        x_dr = len(set(toks)) / len(toks)
        x_tl = len(r["text"].replace(" ", "")) / len(toks)
        best = None
        # _LR_WEIGHTS is lang-ascending, so first strict max == the
        # twin's (z DESC, cand_lang ASC) tie rule
        for lang, w0, wl, wd, wt in _LR_WEIGHTS:
            z = w0 + wl * x_len + wd * x_dr + wt * x_tl
            if best is None or z > best[1]:
                best = (lang, z)
        expected[r["doc_id"]] = (r["lang"], best[0], r6(best[1]))

    got = {
        r["doc_id"]: (r["true_lang"], r["pred_lang"], r["lr_score"])
        for r in all_queries()["ml_lr_scoring_twin"].fn(spark, sf_dir).collect()
    }
    assert got == expected

    conf = {
        r["lang"]: r
        for r in all_queries()["ml_lr_confusion_twin"].fn(spark, sf_dir).collect()
    }
    n = len(got)
    assert sum(r["tp"] + r["fp"] for r in conf.values()) == n
    for lang, r in conf.items():
        true_pos = sum(1 for t, _, _ in got.values() if t == lang)
        pred_pos = sum(1 for _, p, _ in got.values() if p == lang)
        assert r["tp"] + r["fn"] == true_pos
        assert r["tp"] + r["fp"] == pred_pos
        if pred_pos + true_pos:
            assert r["f1"] == r6(2.0 * r["tp"] / (pred_pos + true_pos))


def test_eval_twin_matches_pure_python(spark, sf_dir):
    """The eval twin's accuracy/macro-F1/weighted-F1 must equal a pure-
    Python recount over the (already oracle-checked) NB twin
    predictions, through the same _p6 floor rounding."""
    import math

    from pyspark_for_ebook_classification_spark.plans.registry import all_queries

    def r6(x):
        return math.floor(x * 1000000.0 + 0.5) / 1000000.0

    preds = [
        (r["true_lang"], r["pred_lang"])
        for r in all_queries()["ml_nb_relational_twin"].fn(spark, sf_dir).collect()
    ]
    langs = sorted({t for t, _ in preds})
    f1 = {}
    for l in langs:
        tp = sum(1 for t, p in preds if t == l and p == l)
        pp = sum(1 for _, p in preds if p == l)
        tpos = sum(1 for t, _ in preds if t == l)
        f1[l] = 2.0 * tp / (pp + tpos) if pp + tpos else 0.0
    n = len(preds)
    correct = sum(1 for t, p in preds if t == p)
    expected = {
        "n_test": n,
        "n_correct": correct,
        "accuracy": r6(correct / n),
        "macro_f1": r6(sum(f1.values()) / len(langs)),
        "weighted_f1": r6(
            sum(f1[l] * sum(1 for t, _ in preds if t == l) for l in langs) / n
        ),
    }
    row = all_queries()["ml_eval_relational_twin"].fn(spark, sf_dir).collect()[0]
    got = {k: row[k] for k in expected}
    assert got == expected
    assert 0.0 <= row["accuracy"] <= 1.0 and 0.0 <= row["weighted_f1"] <= 1.0


def test_stopword_constant_matches_mllib(spark):
    """The frozen _EN_STOPWORDS tuple the twin's oracle SQL embeds must be
    VERBATIM MLlib's default English list — if a Spark upgrade changes the
    resource, this fails before the oracle silently diverges."""
    from pyspark.ml.feature import StopWordsRemover

    from pyspark_for_ebook_classification_spark.ml.queries import _EN_STOPWORDS

    assert list(_EN_STOPWORDS) == StopWordsRemover.loadDefaultStopWords("english")


def test_tfidf_pipeline_twin_matches_mllib(spark, sf_dir):
    """Third engine for ml_tfidf_pipeline_twin: the ACTUAL MLlib stages
    (RegexTokenizer → StopWordsRemover → CountVectorizer(minDF=2) → IDF)
    must reproduce the declared query's df, idf (to the 6dp rounding), and
    per-doc top-3 TF-IDF features exactly — promoting the r7 bridge pin
    from text_tfidf_vocab to the pipeline's own outputs (r8 verdict
    task 4)."""
    import math

    from pyspark.ml.feature import IDF, CountVectorizer, RegexTokenizer, StopWordsRemover

    from pyspark_for_ebook_classification_spark.plans.registry import all_queries
    from pyspark_for_ebook_classification_spark.sources.io import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    tok = RegexTokenizer(
        inputCol="text", outputCol="tokens", pattern=r"\W+", minTokenLength=1
    ).transform(docs)
    filtered = StopWordsRemover(inputCol="tokens", outputCol="filtered").transform(tok)
    cv_model = CountVectorizer(
        inputCol="filtered", outputCol="tf", minDF=2.0, vocabSize=1 << 18
    ).fit(filtered)
    tf = cv_model.transform(filtered)
    idf_model = IDF(inputCol="tf", outputCol="tfidf").fit(tf)
    vocab = cv_model.vocabulary
    mllib_idf = dict(zip(vocab, idf_model.idf.toArray()))

    twin = all_queries()["ml_tfidf_pipeline_twin"].fn(spark, sf_dir).collect()
    assert twin, "twin returned no rows"

    # (a) idf vector: every twin term is in the MLlib vocabulary with the
    # same unrounded idf (the twin's column is that value rounded to 6dp)
    for r in twin:
        assert r["term"] in mllib_idf, r["term"]
        assert abs(r["idf"] - round(mllib_idf[r["term"]], 6)) < 1e-9, r["term"]
        assert abs(mllib_idf[r["term"]] - math.log((n_docs + 1) / (r["df"] + 1))) < 1e-12

    # (b) per-doc top-3 features: re-rank MLlib's own tf vectors by
    # tf * round(idf, 6) (the twin's rounding) and compare (term, tf) sets
    idx_term = {i: t for i, t in enumerate(vocab)}
    got = {}
    for r in twin:
        got.setdefault(r["doc_id"], []).append((r["feat_rank"], r["term"], r["tf"]))
    rows = tf.select("doc_id", "tf").collect()
    assert len(got) == len(rows)
    for row in rows:
        v = row["tf"]
        feats = [
            (idx_term[int(i)], int(c)) for i, c in zip(v.indices, v.values)
        ]
        ranked = sorted(
            feats, key=lambda tc: (-tc[1] * round(mllib_idf[tc[0]], 6), tc[0])
        )[:3]
        expect = [(k + 1, t, c) for k, (t, c) in enumerate(ranked)]
        assert sorted(got[row["doc_id"]]) == expect, row["doc_id"]


def test_label_index_twin_matches_mllib(spark, sf_dir):
    """Third engine for ml_label_index_twin: the fitted
    StringIndexer(stringOrderType='alphabetAsc') must produce the twin's
    exact label -> index mapping — M6's one artifact under the hash
    gate."""
    from pyspark.ml.feature import StringIndexer

    from pyspark_for_ebook_classification_spark.plans.registry import all_queries
    from pyspark_for_ebook_classification_spark.sources.io import load

    docs = load(spark, sf_dir, "documents")
    model = StringIndexer(
        inputCol="lang", outputCol="label", stringOrderType="alphabetAsc"
    ).fit(docs)
    mllib = {lab: i for i, lab in enumerate(model.labels)}
    twin = all_queries()["ml_label_index_twin"].fn(spark, sf_dir).collect()
    assert {r["lang"]: r["label_idx"] for r in twin} == mllib
    # counts agree with a direct group-by
    direct = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
    assert {r["lang"]: r["n_docs"] for r in twin} == direct


def test_ngram_twin_matches_mllib(spark, sf_dir):
    """Third engine for ml_ngram_stage_twin: aggregate the ACTUAL MLlib
    RegexTokenizer -> StopWordsRemover -> NGram(n=2) stage output and
    compare bigram-for-bigram (count, df, the df>=2 cut)."""
    from collections import Counter

    from pyspark.ml.feature import NGram, RegexTokenizer, StopWordsRemover

    from pyspark_for_ebook_classification_spark.plans.registry import all_queries
    from pyspark_for_ebook_classification_spark.sources.io import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok = RegexTokenizer(
        inputCol="text", outputCol="tokens", pattern=r"\W+", minTokenLength=1
    ).transform(docs)
    filt = StopWordsRemover(inputCol="tokens", outputCol="filtered").transform(tok)
    ng = NGram(n=2, inputCol="filtered", outputCol="bigrams").transform(filt)
    cnt: Counter = Counter()
    dfc: Counter = Counter()
    for row in ng.select("doc_id", "bigrams").collect():
        bs = row["bigrams"]
        cnt.update(bs)
        dfc.update(set(bs))
    expect = {b: (cnt[b], dfc[b]) for b in cnt if dfc[b] >= 2}
    twin = all_queries()["ml_ngram_stage_twin"].fn(spark, sf_dir).collect()
    got = {r["bigram"]: (r["cnt"], r["df"]) for r in twin}
    assert got == expect
    assert got, "bigram table empty — stage twin vacuous"


def test_cv_grid_twin_matches_pure_python(spark, sf_dir):
    """Third engine for ml_cv_grid_relational_twin: pure-Python 3-fold
    Lidstone-NB cross-validation over the same md5 folds and alpha grid
    must reproduce n_test, n_correct, the floor-rounded pooled accuracy,
    and the winning alpha exactly."""
    import hashlib
    import math
    from collections import Counter

    from pyspark_for_ebook_classification_spark.ml.queries import (
        _CV_ALPHAS,
        _CV_FOLDS,
        _NB_SEED,
    )
    from pyspark_for_ebook_classification_spark.plans.registry import all_queries
    from pyspark_for_ebook_classification_spark.sources.io import load

    def r6(x):
        from decimal import ROUND_HALF_UP, Decimal

        return float(
            Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    docs = {
        r["doc_id"]: (r["lang"], [t for t in r["text"].split(" ") if t])
        for r in load(spark, sf_dir, "documents").collect()
    }

    def fold_of(doc_id):
        h = hashlib.md5(f"{doc_id}#{_NB_SEED}".encode()).hexdigest()
        return int(h[:15], 16) % _CV_FOLDS

    stats = {a: [0, 0] for a in _CV_ALPHAS}  # alpha -> [n_test, n_correct]
    for f in range(_CV_FOLDS):
        train = {d: v for d, v in docs.items() if fold_of(d) != f}
        test = {d: v for d, v in docs.items() if fold_of(d) == f}
        cnt: dict = {}
        tot: Counter = Counter()
        ndocs: Counter = Counter()
        vocab: set = set()
        for _d, (lang, toks) in train.items():
            ndocs[lang] += 1
            for t in toks:
                cnt.setdefault(lang, Counter())[t] += 1
                tot[lang] += 1
                vocab.add(t)
        n_train = sum(ndocs.values())
        v = len(vocab)
        for _d, (true_lang, toks) in test.items():
            tf = Counter(t for t in toks if t in vocab)
            if not tf:
                continue
            for a in _CV_ALPHAS:
                best = None
                for lang in sorted(ndocs):
                    s = r6(math.log(ndocs[lang] / n_train))
                    for t, c in tf.items():
                        s += c * r6(
                            math.log(
                                (cnt[lang].get(t, 0) + a) / (tot[lang] + a * v)
                            )
                        )
                    s = round(s, 6)  # decimal(28,6) sum is exact at 6dp
                    if best is None or s > best[1] or (s == best[1] and lang < best[0]):
                        best = (lang, s)
                stats[a][0] += 1
                if best[0] == true_lang:
                    stats[a][1] += 1

    expect = {}
    order = sorted(_CV_ALPHAS, key=lambda a: (-stats[a][1], a))
    for a in _CV_ALPHAS:
        n, c = stats[a]
        expect[a] = (n, c, math.floor(c / n * 1e6 + 0.5) / 1e6, a == order[0])

    got = {
        r["alpha"]: (r["n_test"], r["n_correct"], r["accuracy"], r["is_best"])
        for r in all_queries()["ml_cv_grid_relational_twin"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    assert sum(1 for v in got.values() if v[3]) == 1, "exactly one winner"


def test_tfidf_production_form(spark, sf_dir):
    """The parameterized tfidf_pipeline_features must (a) honor caller
    min_df/top_k/stopwords against its default run (the declared twin),
    and (b) validate its entries."""
    from pyspark_for_ebook_classification_spark.ml.queries import (
        tfidf_pipeline_features,
    )
    from pyspark_for_ebook_classification_spark.sources.io import load

    docs = load(spark, sf_dir, "documents")
    twin = {
        (r["doc_id"], r["feat_rank"]): (r["term"], r["tf"], r["df"], r["idf"])
        for r in tfidf_pipeline_features(docs).collect()
    }
    assert twin
    # top_k=1 is the rank-1 slice of the default run
    top1 = tfidf_pipeline_features(docs, top_k=1).collect()
    assert {(r["doc_id"], 1) for r in top1} == {
        k for k in twin if k[1] == 1
    }
    # a harsher min_df shrinks (or keeps) the vocabulary, never grows it
    harsh = tfidf_pipeline_features(docs, min_df=10)
    vocab_harsh = {r["term"] for r in harsh.select("term").distinct().collect()}
    vocab_default = {t for (t, _, _, _) in twin.values()}
    assert vocab_harsh <= vocab_default or vocab_harsh == set()
    # no stopword filtering keeps stopwords rankable
    raw = tfidf_pipeline_features(docs, stopwords=())
    raw_terms = {r["term"] for r in raw.select("term").distinct().collect()}
    assert "the" in raw_terms or "a" in raw_terms
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_df"):
        tfidf_pipeline_features(docs, min_df=0)
    with _pytest.raises(ValueError, match="min_df"):
        tfidf_pipeline_features(docs, top_k=0)
