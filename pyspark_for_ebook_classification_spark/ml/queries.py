"""Declared queries for the ML surface (SURVEY.md §2.12).

Model training is not SQL-expressible, so these are rows-only checks for
the driver (oracle=None); their *semantics* are pinned by golden pytest
tests (tests/test_ml.py) on frozen tiny corpora, and the relational half
of the feature engineering is fully oracle-checked in operators/textops.py
(text_tfidf_vocab et al.).
"""

from __future__ import annotations

from typing import NamedTuple, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_for_ebook_classification_spark.ml.pipeline import (
    TextClassifierConfig,
    _key_hash,
    evaluate,
    fit_text_classifier,
    split_train_test,
)
from pyspark_for_ebook_classification_spark.plans.registry import query
from pyspark_for_ebook_classification_spark.serving import (
    broadcastable,
    built_for,
    require_columns,
)
from pyspark_for_ebook_classification_spark.sources.io import load


def _text_predictions(spark: SparkSession, sf_dir: str, classifier: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    train, test = split_train_test(docs)
    model = fit_text_classifier(train, TextClassifierConfig(classifier=classifier))
    return model.transform(test).select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.col("label").cast("int").alias("true_label"),
        F.col("prediction").cast("int").alias("pred_label"),
    )


@query(
    "ml_nb_text_predictions",
    survey_ref="M1-M9",
    oracle=None,
    doc="Tokenize→stopwords→HashingTF→IDF→NaiveBayes predictions on held-out docs.",
)
def ml_nb_text_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _text_predictions(spark, sf_dir, "nb")


@query(
    "ml_lr_confusion_matrix",
    survey_ref="M7,M10,A9",
    oracle=None,
    doc="LogisticRegression text classifier, confusion matrix via pivot (A9).",
)
def ml_lr_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    preds = _text_predictions(spark, sf_dir, "lr")
    # labels are alphabetAsc-indexed langs: 0..4 (de,en,es,fr,zh)
    return (
        preds.groupBy("true_label")
        .pivot("pred_label", list(range(5)))
        .count()
        .na.fill(0)
    )


@query(
    "ml_cv_grid_best",
    survey_ref="M11",
    oracle=None,
    doc="CrossValidator grid search over NaiveBayes smoothing (2-fold, seeded).",
)
def ml_cv_grid_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11: seeded 2-fold cross-validation over a small smoothing grid.
    Each fold×param fit is an independent Spark job — on a cluster,
    CrossValidator(parallelism=N) runs them concurrently."""
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    from pyspark_for_ebook_classification_spark.ml.pipeline import build_text_pipeline

    docs = load(spark, sf_dir, "documents").select("text", "lang")
    pipeline = build_text_pipeline()
    nb = pipeline.getStages()[-1]
    grid = ParamGridBuilder().addGrid(nb.smoothing, [0.5, 1.0]).build()
    cv = CrossValidator(
        estimator=pipeline,
        estimatorParamMaps=grid,
        evaluator=MulticlassClassificationEvaluator(
            labelCol="label", predictionCol="prediction", metricName="f1"
        ),
        numFolds=2,
        seed=42,
        parallelism=2,
    )
    model = cv.fit(docs)
    best_smoothing = model.bestModel.stages[-1].getSmoothing()
    rows = [
        (float(best_smoothing), float(model.avgMetrics[i]), float(g[nb.smoothing]))
        for i, g in enumerate(grid)
    ]
    return spark.createDataFrame(
        rows, "best_smoothing double, avg_f1 double, grid_smoothing double"
    )


@query(
    "ml_eval_metrics",
    survey_ref="M10,M11",
    oracle=None,
    doc="Accuracy + weighted F1 of the NB text classifier (single-row frame).",
)
def ml_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("text", "lang")
    train, test = split_train_test(docs)
    model = fit_text_classifier(train)
    metrics = evaluate(model.transform(test))
    return spark.createDataFrame(
        [(float(metrics["accuracy"]), float(metrics["f1"]))], "accuracy double, f1 double"
    )


# ------------------------------------------- relational NB twin (oracle)

_NB_CUT = 8000  # md5 bucket < 8000 -> train (the split_train_test 0.8 band)
_NB_SEED = 42


def _with_n_train(n_docs: DataFrame, group_cols: Sequence[str] = ()) -> DataFrame:
    """Append ``n_train`` = sum(n_docs) per group to the per-label doc
    counts (*group_cols, lang, n_docs). A window over an empty partition
    spec would move every row to one partition and log a WindowExec
    warning per call; a crossJoin with a separate one-row sum re-reads the
    training data, because the scoring join's inferred ``lang IS NOT
    NULL`` reaches only the per-label branch, so the two no longer share
    an exchange. One aggregate per group that carries the label rows and
    their sum, then unnests them, reads the training data once; with no
    group columns it is one global aggregate. NULL-label docs count
    toward n_train, as in the oracle's COUNT(*) over the train split."""
    return (
        n_docs.groupBy(*group_cols)
        .agg(
            F.collect_list(F.struct("lang", "n_docs")).alias("labels"),
            F.sum("n_docs").alias("n_train"),
        )
        .select(*group_cols, F.inline("labels"), "n_train")
    )


#: the NB train+score CTE chain up to the per-doc argmax; shared by
#: ml_nb_relational_twin and the ml_eval_relational_twin built on it.
def _nb_ctes(alpha: float = 1.0) -> str:
    """The NB train+score CTE chain at caller-chosen Lidstone alpha —
    the twin's add-one chain below is this at alpha=1.0; the r11
    ml_nb_library_classify oracle renders it at the library call's
    alpha=0.5 so the smoothing dial itself sits under the hash gate."""
    a = repr(float(alpha))
    return f"""
    docs AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), t -> t <> '') AS tokens,
               CAST(('0x' || substring(
                   md5(CAST(doc_id AS VARCHAR) || '#{_NB_SEED}'), 1, 15)
               ) AS BIGINT) % 10000 AS bucket
        FROM documents
    ),
    train AS (SELECT * FROM docs WHERE bucket < {_NB_CUT}),
    test  AS (SELECT * FROM docs WHERE bucket >= {_NB_CUT}),
    tr_tok AS (SELECT lang, unnest(tokens) AS token FROM train),
    cnt_lt AS (SELECT lang, token, COUNT(*) AS c FROM tr_tok GROUP BY lang, token),
    tot_l AS (SELECT lang, COUNT(*) AS tot FROM tr_tok GROUP BY lang),
    vocab AS (SELECT DISTINCT token FROM tr_tok),
    vsize AS (SELECT COUNT(*) AS v FROM vocab),
    prior AS (
        SELECT lang, COUNT(*) AS n_docs,
               (SELECT COUNT(*) FROM train) AS n_train
        FROM train GROUP BY lang
    ),
    te_tok AS (
        SELECT t.doc_id, t.lang AS true_lang, x.token, COUNT(*) AS tf
        FROM (SELECT doc_id, lang, unnest(tokens) AS token FROM test) x
        JOIN test t ON t.doc_id = x.doc_id
        JOIN vocab ON vocab.token = x.token
        GROUP BY t.doc_id, t.lang, x.token
    ),
    scored AS (
        SELECT e.doc_id, e.true_lang, p.lang AS cand_lang,
               CAST(round(ln(p.n_docs / CAST(p.n_train AS DOUBLE)), 6)
                    AS DECIMAL(28,6))
               + SUM(CAST(
                     e.tf * round(ln((COALESCE(c.c, 0) + {a})
                                     / (t.tot + {a} * s.v)), 6)
                 AS DECIMAL(28,6))) AS score
        FROM te_tok e
        CROSS JOIN prior p
        JOIN tot_l t ON t.lang = p.lang
        CROSS JOIN vsize s
        LEFT JOIN cnt_lt c ON c.lang = p.lang AND c.token = e.token
        GROUP BY e.doc_id, e.true_lang, p.lang, p.n_docs, p.n_train
    ),
    nb_preds AS (
        SELECT doc_id, true_lang, cand_lang AS pred_lang,
               CAST(score AS DOUBLE) AS nb_log_score
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, cand_lang ASC
            ) AS rn
            FROM scored
        )
        WHERE rn = 1
    )
"""


#: the add-one chain the registered twin and eval twin share.
_NB_CTES = _nb_ctes(1.0)

_NB_SQL = f"""
    WITH {_NB_CTES}
    SELECT doc_id, true_lang, pred_lang, nb_log_score FROM nb_preds
"""


@query(
    "ml_nb_relational_twin",
    survey_ref="M7,M9,M10,L6",
    doc="Oracle-checked relational multinomial Naive Bayes: add-one "
    "smoothing over whitespace tokens, md5 hash split, argmax per "
    "held-out doc.",
    oracle=_NB_SQL,
)
def ml_nb_relational_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENGINE-NATIVE half of M7/M10 that a DuckDB oracle CAN check:
    textbook multinomial Naive Bayes, trained and scored relationally.
    The MLlib queries above stay the production classifier surface
    (HashingTF features aren't SQL-expressible), but were rows-only for
    the driver; this twin pins the NB math itself — priors, add-one
    likelihoods, log-sum scoring, argmax — under the exact-value hash
    gate, and a pure-Python third engine re-derives it in
    tests/test_ml.py.

    Semantics: split = the SAME md5(doc_id#42) mod 10000 < 8000 band as
    ml/pipeline.split_train_test; features = whitespace token counts
    (the corpus's native tokens — no hashing, no IDF: NB takes raw
    counts); likelihood log((c+1)/(tot_lang+V)) over the train vocab,
    test tokens outside the train vocab dropped (standard NB scoring);
    prediction = argmax over the train languages, ties to the
    alphabetically first lang. Each log factor rounds to decimal(28,6)
    pre-sum (libm-independence) and the per-(doc,lang) sum accumulates
    in DECIMAL — the text_bigram_lm_score discipline.

    Body: the md5-band split, then the library's own
    ``nb_score(nb_fit(train), test, alpha=1.0)`` (one NB implementation;
    see nb_fit for the plan shape). Each held-out doc's true lang rides
    through scoring inside a struct id, so no join brings it back."""
    train, test = split_train_test(load(spark, sf_dir, "documents"))
    keyed = test.select(F.struct("doc_id", F.col("lang").alias("true_lang")).alias("key"), "text")
    return nb_score(nb_fit(train), keyed, alpha=1.0, id_col="key").select(
        "key.doc_id", "key.true_lang", "pred_lang", "nb_log_score"
    )


# ------------------------------- relational LR scoring twin (oracle)

#: fixed multiclass logistic weights (lang, bias, len/1000, distinct
#: ratio, mean token length): the DEPLOYMENT artifact of a trained LR is
#: a coefficient table, and applying it at corpus scale is a broadcast
#: join + projection — training stays in MLlib (ml_lr_confusion_matrix,
#: rows-only by design); this pins the SCORING math under the hash gate
#: (r7 verdict item 6 — the NB-twin pattern generalized, the
#: data_quality_model_score sigmoid discipline reused).
_LR_WEIGHTS = (
    ("de", -0.2, 0.30, 0.80, 0.35),
    ("en", 0.1, 0.25, 1.00, 0.20),
    ("es", 0.0, 0.20, 0.90, 0.25),
    ("fr", -0.1, 0.22, 0.95, 0.22),
    ("zh", 0.3, 0.15, 0.60, -0.10),
)

_LR_W_SQL = ", ".join(
    f"('{l}', {w0}, {wl}, {wd}, {wt})" for l, w0, wl, wd, wt in _LR_WEIGHTS
)

#: shared CTE chain: per-doc features -> all-candidate linear scores ->
#: argmax row. Reused verbatim by the confusion twin's oracle.
_LR_CTES = f"""
    feats AS (
        SELECT doc_id, lang AS true_lang,
               CAST(n_chars AS DOUBLE) / 1000 AS x_len,
               CAST(length(list_distinct(list_filter(
                    string_split(text, ' '), t -> t <> ''))) AS DOUBLE)
               / length(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS x_dr,
               CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / length(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS x_tl
        FROM documents
        WHERE length(list_filter(string_split(text, ' '), t -> t <> '')) > 0
    ),
    w(cand_lang, w0, w_len, w_dr, w_tl) AS (VALUES {_LR_W_SQL}),
    lr_scored AS (
        SELECT f.doc_id, f.true_lang, w.cand_lang,
               w.w0 + w.w_len * f.x_len + w.w_dr * f.x_dr
                    + w.w_tl * f.x_tl AS z
        FROM feats f CROSS JOIN w
    ),
    lr_best AS (
        SELECT doc_id, true_lang, cand_lang, z,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY z DESC, cand_lang ASC
               ) AS rn
        FROM lr_scored
    ),
    lr_preds AS (
        SELECT doc_id, true_lang, cand_lang AS pred_lang, z
        FROM lr_best WHERE rn = 1
    )
"""


def _p6(col):
    """Portable 6-decimal rounding: floor(x·10⁶ + 0.5)/10⁶ with the SAME
    double ops in both engines — bit-identical by construction. The usual
    round(x, 6) discipline is UNSAFE here: the 2-decimal weights ×
    3-decimal features put z exactly on 1e-7 lattice boundaries, where
    the engines' round() implementations disagree (Spark HALF_UPs the
    shortest-repr decimal via BigDecimal.valueOf; DuckDB's float-scaled
    floor picks whichever way the x·10⁶ multiply erred — measured
    disagreeing in BOTH directions on the sf0.01 corpus: z=2.0761125 →
    Spark 2.076113/DuckDB 2.076112, z=1.8274124999999999 → Spark
    1.827412/DuckDB 1.827413). floor-form half-up is toward +∞ for
    negative values — fine, determinism is the contract, not ties-away.
    Spark's floor returns LONG (DuckDB's DOUBLE): cast before the
    divide; both sides are integral < 2⁵³ so the division is the same
    IEEE op."""
    return F.floor(col * 1000000.0 + F.lit(0.5)).cast("double") / 1000000.0


def _lr_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, true_lang, pred_lang, z) — argmax of the fixed-weight
    linear scores. The weight table is 5 rows → broadcast; scoring is a
    map-side projection over one corpus scan; argmax is a per-doc
    window over exactly |langs| candidate rows."""
    d = load(spark, sf_dir, "documents")
    toks = F.expr("filter(split(text, ' '), t -> t <> '')")
    feats = d.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        (F.col("n_chars").cast("double") / 1000).alias("x_len"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("x_dr"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size(toks)
        ).alias("x_tl"),
    ).filter(F.size(toks) > 0)
    w = spark.createDataFrame(
        list(_LR_WEIGHTS),
        "cand_lang string, w0 double, w_len double, w_dr double, w_tl double",
    )
    z = (
        F.col("w0")
        + F.col("w_len") * F.col("x_len")
        + F.col("w_dr") * F.col("x_dr")
        + F.col("w_tl") * F.col("x_tl")
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("z"), F.asc("cand_lang"))
    return (
        feats.crossJoin(F.broadcast(w))
        .select("doc_id", "true_lang", "cand_lang", z.alias("z"))
        .withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("doc_id", "true_lang", F.col("cand_lang").alias("pred_lang"), "z")
    )


@query(
    "ml_lr_scoring_twin",
    survey_ref="M7,M6,P1",
    doc="Oracle-checked LR deployment shape: fixed coefficient table, "
    "broadcast-join linear scoring, per-doc argmax + sigmoid confidence.",
    oracle=f"""
        WITH {_LR_CTES}
        SELECT doc_id, true_lang, pred_lang,
               floor(z * 1000000.0 + 0.5) / 1000000.0 AS lr_score,
               floor((1.0 / (1.0 + exp(-z))) * 1000000.0 + 0.5)
                   / 1000000.0 AS lr_prob
        FROM lr_preds
    """,
)
def ml_lr_scoring_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7's LOGISTIC-REGRESSION scoring half under the exact-value hash
    gate (the ml_nb_relational_twin pattern): a trained LR ships as a
    coefficient table, and corpus-scale inference is a broadcast join +
    whole-stage-codegen projection — no model server, no UDF. The MLlib
    LR (ml_lr_confusion_matrix) remains the production training surface
    and is rows-only by design; the fixed weights here stand in for its
    exported coefficients (the data_quality_model_score deployment
    story, multiclass). z is plain double mul/add with identical
    parenthesization in both engines (bit-exact — no decimal bridge
    needed); the sigmoid confidence uses libm exp() and is therefore
    rounded to 6, with argmax taken on the UNrounded z, ties to the
    alphabetically first language.

    Scale shape: the weight table is |langs| rows → broadcast; features
    are one projection over the corpus scan; the per-doc argmax window
    runs over exactly |langs| candidate rows per doc — scoring never
    shuffles the corpus by anything but doc_id."""
    return _lr_scored(spark, sf_dir).select(
        "doc_id",
        "true_lang",
        "pred_lang",
        _p6(F.col("z")).alias("lr_score"),
        _p6(1.0 / (1.0 + F.exp(-F.col("z")))).alias("lr_prob"),
    )


@query(
    "ml_lr_confusion_twin",
    survey_ref="M10,M7,A5",
    doc="Oracle-checked per-class confusion metrics (tp/fp/fn, precision/"
    "recall/F1) over the LR scoring twin's predictions.",
    oracle=f"""
        WITH {_LR_CTES}
        SELECT w.cand_lang AS lang,
               CAST(COUNT(*) FILTER (WHERE p.true_lang = w.cand_lang
                    AND p.pred_lang = w.cand_lang) AS BIGINT) AS tp,
               CAST(COUNT(*) FILTER (WHERE p.true_lang <> w.cand_lang
                    AND p.pred_lang = w.cand_lang) AS BIGINT) AS fp,
               CAST(COUNT(*) FILTER (WHERE p.true_lang = w.cand_lang
                    AND p.pred_lang <> w.cand_lang) AS BIGINT) AS fn,
               floor(CAST(COUNT(*) FILTER (WHERE p.true_lang = w.cand_lang
                         AND p.pred_lang = w.cand_lang) AS DOUBLE)
                     / nullif(COUNT(*) FILTER (WHERE p.pred_lang = w.cand_lang), 0)
                     * 1000000.0 + 0.5) / 1000000.0 AS precision_,
               floor(CAST(COUNT(*) FILTER (WHERE p.true_lang = w.cand_lang
                         AND p.pred_lang = w.cand_lang) AS DOUBLE)
                     / nullif(COUNT(*) FILTER (WHERE p.true_lang = w.cand_lang), 0)
                     * 1000000.0 + 0.5) / 1000000.0 AS recall_,
               floor(2.0 * COUNT(*) FILTER (WHERE p.true_lang = w.cand_lang
                         AND p.pred_lang = w.cand_lang)
                     / nullif(COUNT(*) FILTER (WHERE p.pred_lang = w.cand_lang)
                         + COUNT(*) FILTER (WHERE p.true_lang = w.cand_lang), 0)
                     * 1000000.0 + 0.5) / 1000000.0 AS f1
        FROM w CROSS JOIN lr_preds p
        GROUP BY w.cand_lang
    """,
)
def ml_lr_confusion_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10 under the hash gate: per-class confusion counts and derived
    precision/recall/F1 on a real classifier's predictions (the LR
    scoring twin's argmax). F1 is computed as 2·tp/(pred_pos + true_pos)
    — the algebraic form that avoids chaining two rounded divisions —
    and each metric null-guards its empty denominator (a never-predicted
    class reports NULL precision, not a division error). The MLlib
    confusion pivot (ml_lr_confusion_matrix) stays rows-only; this twin
    pins the evaluation MATH the way the NB twin pins training math.

    Scale shape: predictions aggregate per class over a broadcast
    |langs|-row spine — one conditional-count pass (A5), output bounded
    by |langs|."""
    preds = _lr_scored(spark, sf_dir)
    w = spark.createDataFrame(
        [(l,) for l, *_ in _LR_WEIGHTS], "lang string"
    )
    tp = F.count_if(
        (F.col("true_lang") == F.col("lang")) & (F.col("pred_lang") == F.col("lang"))
    )
    fp = F.count_if(
        (F.col("true_lang") != F.col("lang")) & (F.col("pred_lang") == F.col("lang"))
    )
    fn = F.count_if(
        (F.col("true_lang") == F.col("lang")) & (F.col("pred_lang") != F.col("lang"))
    )
    pred_pos = F.count_if(F.col("pred_lang") == F.col("lang"))
    true_pos = F.count_if(F.col("true_lang") == F.col("lang"))
    return (
        F.broadcast(w)
        .crossJoin(preds)
        .groupBy("lang")
        .agg(
            tp.cast("bigint").alias("tp"),
            fp.cast("bigint").alias("fp"),
            fn.cast("bigint").alias("fn"),
            _p6(tp.cast("double") / F.nullif(pred_pos, F.lit(0))).alias(
                "precision_"
            ),
            _p6(tp.cast("double") / F.nullif(true_pos, F.lit(0))).alias("recall_"),
            _p6(2.0 * tp / F.nullif(pred_pos + true_pos, F.lit(0))).alias("f1"),
        )
    )


@query(
    "ml_eval_relational_twin",
    survey_ref="M10,M11,A1,A5",
    doc="Oracle-checked evaluation aggregates over the NB twin's "
    "predictions: accuracy, macro-F1, support-weighted F1 (one row).",
    oracle=f"""
        WITH {_NB_CTES},
        spine AS (SELECT DISTINCT true_lang AS lang FROM nb_preds),
        cls AS (
            SELECT s.lang,
                   COUNT(*) FILTER (WHERE p.true_lang = s.lang
                        AND p.pred_lang = s.lang) AS tp,
                   COUNT(*) FILTER (WHERE p.pred_lang = s.lang) AS pp,
                   COUNT(*) FILTER (WHERE p.true_lang = s.lang) AS tpos
            FROM spine s CROSS JOIN nb_preds p
            GROUP BY s.lang
        ),
        f AS (
            SELECT lang, tpos,
                   CASE WHEN pp + tpos > 0
                        THEN 2.0 * tp / (pp + tpos) ELSE 0.0 END AS f1
            FROM cls
        )
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM nb_preds) AS n_test,
            (SELECT CAST(COUNT(*) FILTER (WHERE true_lang = pred_lang)
                 AS BIGINT) FROM nb_preds) AS n_correct,
            floor((SELECT CAST(COUNT(*) FILTER (WHERE true_lang = pred_lang)
                       AS DOUBLE) / COUNT(*) FROM nb_preds)
                  * 1000000.0 + 0.5) / 1000000.0 AS accuracy,
            floor((SELECT SUM(f1) / COUNT(*) FROM f)
                  * 1000000.0 + 0.5) / 1000000.0 AS macro_f1,
            floor((SELECT SUM(f1 * tpos) / SUM(tpos) FROM f)
                  * 1000000.0 + 0.5) / 1000000.0 AS weighted_f1
    """,
)
def ml_eval_relational_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10/M11's metric AGGREGATION math under the hash gate, on a real
    classifier's held-out predictions (the oracle-checked NB twin):
    accuracy, macro-F1 (unweighted class mean) and support-weighted F1
    — the three numbers a model-selection loop compares. Per-class F1
    uses the 2·tp/(pred_pos + true_pos) algebraic form (one division);
    a class never predicted scores F1 0 with its true support still
    weighing the average down (scikit-learn's zero_division=0
    convention). Divisions of small-integer counts can land on 1e-7
    rounding boundaries, so all three metrics round via the
    engine-portable _p6 floor form.

    Scale shape: the class spine is |langs| rows; per-class counts are
    one conditional-count pass over the predictions (themselves the NB
    twin's broadcast-scored output); the three metrics reduce the
    |langs|-row table to one row. The MLlib evaluator
    (ml_eval_metrics) stays rows-only — this pins the same math
    relationally."""
    # Materialize the held-out predictions once (eager=False: persisted
    # on first computation) — r14: the class spine, the per-class count
    # pass and the totals aggregate are three independent consumers, and
    # without a cut point each re-planned the WHOLE NB scoring pipeline
    # (34 shuffles in the r13 plan; 3 scoring passes at scale).
    # Production evaluates metrics over written-out predictions anyway.
    preds = ml_nb_relational_twin(spark, sf_dir).localCheckpoint(eager=False)
    spine = preds.select(F.col("true_lang").alias("lang")).distinct()
    tp = F.count_if(
        (F.col("true_lang") == F.col("lang")) & (F.col("pred_lang") == F.col("lang"))
    )
    pp = F.count_if(F.col("pred_lang") == F.col("lang"))
    tpos = F.count_if(F.col("true_lang") == F.col("lang"))
    cls = (
        F.broadcast(spine)
        .crossJoin(preds)
        .groupBy("lang")
        .agg(tp.alias("tp"), pp.alias("pp"), tpos.alias("tpos"))
    )
    f1 = F.when(
        F.col("pp") + F.col("tpos") > 0,
        2.0 * F.col("tp") / (F.col("pp") + F.col("tpos")),
    ).otherwise(F.lit(0.0))
    per_class = cls.select("tpos", f1.alias("f1"))
    totals = preds.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.count_if(F.col("true_lang") == F.col("pred_lang"))
        .cast("bigint")
        .alias("n_correct"),
    )
    fagg = per_class.agg(
        (F.sum("f1") / F.count(F.lit(1))).alias("macro_raw"),
        (F.sum(F.col("f1") * F.col("tpos")) / F.sum("tpos")).alias("weighted_raw"),
    )
    return (
        totals.crossJoin(F.broadcast(fagg))
        .select(
            "n_test",
            "n_correct",
            _p6(F.col("n_correct").cast("double") / F.col("n_test")).alias(
                "accuracy"
            ),
            _p6(F.col("macro_raw")).alias("macro_f1"),
            _p6(F.col("weighted_raw")).alias("weighted_f1"),
        )
    )


# ------------------------- relational TF-IDF pipeline fit-stats twin

#: MLlib's default English stop-word list (StopWordsRemover resource
#: ``org/apache/spark/ml/feature/stopwords/english.txt``), frozen here so
#: the oracle SQL can apply the IDENTICAL M2 filter; pinned verbatim
#: against StopWordsRemover.loadDefaultStopWords("english") by
#: tests/test_ml.py::test_stopword_constant_matches_mllib.
_EN_STOPWORDS = (
    'i', 'me', 'my', 'myself', 'we', 'our', 'ours', 'ourselves', 'you',
    'your', 'yours', 'yourself', 'yourselves', 'he', 'him', 'his',
    'himself', 'she', 'her', 'hers', 'herself', 'it', 'its', 'itself',
    'they', 'them', 'their', 'theirs', 'themselves', 'what', 'which',
    'who', 'whom', 'this', 'that', 'these', 'those', 'am', 'is', 'are',
    'was', 'were', 'be', 'been', 'being', 'have', 'has', 'had', 'having',
    'do', 'does', 'did', 'doing', 'a', 'an', 'the', 'and', 'but', 'if',
    'or', 'because', 'as', 'until', 'while', 'of', 'at', 'by', 'for',
    'with', 'about', 'against', 'between', 'into', 'through', 'during',
    'before', 'after', 'above', 'below', 'to', 'from', 'up', 'down', 'in',
    'out', 'on', 'off', 'over', 'under', 'again', 'further', 'then',
    'once', 'here', 'there', 'when', 'where', 'why', 'how', 'all', 'any',
    'both', 'each', 'few', 'more', 'most', 'other', 'some', 'such', 'no',
    'nor', 'not', 'only', 'own', 'same', 'so', 'than', 'too', 'very', 's',
    't', 'can', 'will', 'just', 'don', 'should', 'now', "i'll", "you'll",
    "he'll", "she'll", "we'll", "they'll", "i'd", "you'd", "he'd",
    "she'd", "we'd", "they'd", "i'm", "you're", "he's", "she's", "it's",
    "we're", "they're", "i've", "we've", "you've", "they've", "isn't",
    "aren't", "wasn't", "weren't", "haven't", "hasn't", "hadn't", "don't",
    "doesn't", "didn't", "won't", "wouldn't", "shan't", "shouldn't",
    "mustn't", "can't", "couldn't", 'cannot', 'could', "here's", "how's",
    "let's", 'ought', "that's", "there's", "what's", "when's", "where's",
    "who's", "why's", 'would',
)

_SW_IN = ", ".join("'" + w.replace("'", "''") + "'" for w in _EN_STOPWORDS)

def _tfidf_twin_sql(min_df: int = 2, top_k: int = 3) -> str:
    """Parameterized oracle for the M1->M5 featurizer — the registered
    twin fixes (min_df=2, top_k=3); the r12 library router moves both
    dials, sharing this builder so the two SQL forms cannot drift."""
    return f"""
    WITH tok AS (
        SELECT doc_id, term FROM (
            SELECT doc_id,
                   unnest(list_filter(
                       regexp_split_to_array(lower(text), '\\W+'),
                       x -> x <> ''
                   )) AS term
            FROM documents
        )
        WHERE term NOT IN ({_SW_IN})
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    idf AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df,
               round(ln((n.n_docs + 1.0) / (COUNT(DISTINCT doc_id) + 1.0)), 6)
                   AS idf
        FROM tok, n
        GROUP BY term, n.n_docs
        HAVING COUNT(DISTINCT doc_id) >= {min_df}
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    )
    SELECT doc_id, feat_rank, term, tf, df, idf, tf * idf AS tfidf
    FROM (
        SELECT tf.doc_id, tf.term, tf.tf, i.df, i.idf,
               row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf * i.idf DESC, tf.term ASC
               ) AS feat_rank
        FROM tf JOIN idf i ON i.term = tf.term
    )
    WHERE feat_rank <= {top_k}
"""


_TFIDF_TWIN_SQL = _tfidf_twin_sql()


@query(
    "ml_tfidf_pipeline_twin",
    survey_ref="M1,M2,M4,M5,M8,L6",
    doc="Oracle-checked M1->M5 fit-statistics twin: regex tokenize, "
    "stop-word removal, per-term df/idf, per-doc top-3 TF-IDF features.",
    oracle=_TFIDF_TWIN_SQL,
)
def ml_tfidf_pipeline_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature half of the M1->M8 pipeline under the exact-value hash
    gate: ``tfidf_pipeline_features`` over the documents table at its
    defaults (MLlib's English stop words, min_df=2, top-3 features per
    doc). tests/test_ml.py::test_tfidf_pipeline_twin_matches_mllib
    re-derives every value from the actual MLlib stages, so this query,
    the DuckDB oracle and pyspark.ml agree on the pipeline's outputs."""
    return tfidf_pipeline_features(load(spark, sf_dir, "documents"))


# --------------------- label-indexing + n-gram stage twins (M6, M3)

_LABEL_IDX_SQL = """
    SELECT lang,
           CAST(dense_rank() OVER (ORDER BY lang ASC) - 1 AS BIGINT)
               AS label_idx,
           n_docs
    FROM (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang
    )
"""


@query(
    "ml_label_index_twin",
    survey_ref="M6,A1,W1",
    doc="Oracle-checked StringIndexer twin: alphabetAsc label -> index "
    "mapping with per-label doc counts.",
    oracle=_LABEL_IDX_SQL,
)
def ml_label_index_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 under the exact-value hash gate: the pipeline's
    StringIndexer(stringOrderType='alphabetAsc') is, relationally, a
    dense_rank over the distinct label domain — this twin emits the
    EXACT (label, index) mapping the fitted indexer produces, plus the
    per-label doc counts the fit pass aggregates. Bridge test
    tests/test_ml.py::test_label_index_twin_matches_mllib pins the
    mapping verbatim against StringIndexerModel.labels, so the declared
    query, the DuckDB oracle, and pyspark.ml agree on M6's one artifact.

    Scale shape: one label-keyed partial agg (domain-bounded output) and
    a window over that domain-bounded table — no corpus-sized shuffle;
    at 100 TB the mapping is a broadcast-sized dimension, which is
    exactly how the scoring twins consume label indices."""
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    w = Window.orderBy(F.asc("lang"))
    return counts.select(
        "lang",
        (F.dense_rank().over(w) - 1).cast("bigint").alias("label_idx"),
        "n_docs",
    )


_NGRAM_TWIN_SQL = f"""
    WITH filt AS (
        SELECT doc_id, list_filter(
                   list_filter(
                       regexp_split_to_array(lower(text), '\\W+'),
                       x -> x <> ''
                   ),
                   x -> x NOT IN ({_SW_IN})
               ) AS f
        FROM documents
    ),
    big AS (
        SELECT doc_id, unnest(
                   list_transform(range(1, length(f)), i -> f[i] || ' ' || f[i + 1])
               ) AS bigram
        FROM filt
        WHERE length(f) >= 2
    )
    SELECT bigram,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM big
    GROUP BY bigram
    HAVING COUNT(DISTINCT doc_id) >= 2
"""


@query(
    "ml_ngram_stage_twin",
    survey_ref="M3,M1,M2,F4,A1",
    doc="Oracle-checked NGram stage twin: corpus bigram counts and "
    "document frequencies over the tokenize->stopword-filter stream.",
    oracle=_NGRAM_TWIN_SQL,
)
def ml_ngram_stage_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 under the exact-value hash gate: the pipeline's
    NGram(n=2, inputCol='filtered') joins CONSECUTIVE post-stopword
    tokens with a single space — this twin re-derives the stage
    relationally (the same RegexTokenizer lowercase/\\\\W+ + frozen
    English stop-word semantics as ml_tfidf_pipeline_twin) and
    aggregates the corpus bigram table: total count and document
    frequency under a df >= 2 cut. Bridge test
    tests/test_ml.py::test_ngram_twin_matches_mllib recomputes the same
    aggregate from the ACTUAL MLlib NGram stage output, so the declared
    query, the DuckDB oracle, and pyspark.ml agree bigram-for-bigram.

    Engine subtlety the oracle encodes: consecutive-pair generation is
    0-based in Spark (f[i-1] || ' ' || f[i], i in 1..size-1) and 1-based
    in DuckDB (f[i] || ' ' || f[i+1], i in range(1, length)) — same
    pairs, different index algebra.

    Scale shape: one explode (×(len−1), same order as tokenization) into
    a bigram-keyed partial agg; the df >= 2 cut bounds the output by the
    repeated-bigram domain. No joins, no window — the cheapest possible
    twin of a stage that is itself map-side."""
    d = load(spark, sf_dir, "documents")
    filt = F.filter(
        F.filter(F.split(F.lower(F.col("text")), r"\W+"), lambda t: t != ""),
        lambda t: ~t.isin(*_EN_STOPWORDS),
    )
    bigrams = F.expr(
        "transform(sequence(1, size(f) - 1), i -> concat(f[i-1], ' ', f[i]))"
    )
    return (
        d.select("doc_id", filt.alias("f"))
        .filter(F.size("f") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.countDistinct("doc_id").cast("bigint").alias("df"),
        )
        .filter(F.col("df") >= 2)
    )


# --------------------- relational k-fold CV / grid-search twin (M11)

_CV_FOLDS = 3
_CV_ALPHAS = (0.5, 1.0, 2.0)  # Lidstone smoothing grid; all exactly representable

_CV_TWIN_SQL = f"""
    WITH cvdocs AS MATERIALIZED (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), t -> t <> '') AS tokens,
               CAST(('0x' || substring(
                   md5(CAST(doc_id AS VARCHAR) || '#{_NB_SEED}'), 1, 15)
               ) AS BIGINT) % {_CV_FOLDS} AS fold
        FROM documents
    ),
    folds AS (SELECT unnest([{", ".join(str(f) for f in range(_CV_FOLDS))}]) AS f),
    alphas AS (SELECT unnest([{", ".join(str(a) for a in _CV_ALPHAS)}]) AS alpha),
    tr_tok AS MATERIALIZED (
        SELECT f.f, d.lang, unnest(d.tokens) AS token
        FROM cvdocs d, folds f WHERE d.fold <> f.f
    ),
    cnt_lt AS MATERIALIZED (
        SELECT f, lang, token, COUNT(*) AS c FROM tr_tok GROUP BY f, lang, token
    ),
    tot_l AS MATERIALIZED (
        SELECT f, lang, COUNT(*) AS tot FROM tr_tok GROUP BY f, lang
    ),
    cvvocab AS MATERIALIZED (SELECT DISTINCT f, token FROM tr_tok),
    vsize AS MATERIALIZED (SELECT f, COUNT(*) AS v FROM cvvocab GROUP BY f),
    prior AS MATERIALIZED (
        SELECT f.f, d.lang, COUNT(*) AS n_docs,
               SUM(COUNT(*)) OVER (PARTITION BY f.f) AS n_train
        FROM cvdocs d, folds f WHERE d.fold <> f.f
        GROUP BY f.f, d.lang
    ),
    te_tok AS MATERIALIZED (
        SELECT d.fold AS f, d.doc_id, d.lang AS true_lang, x.token,
               COUNT(*) AS tf
        FROM cvdocs d, LATERAL unnest(d.tokens) AS x(token)
        JOIN cvvocab v ON v.f = d.fold AND v.token = x.token
        GROUP BY d.fold, d.doc_id, d.lang, x.token
    ),
    scored AS (
        SELECT e.f, a.alpha, e.doc_id, e.true_lang, p.lang AS cand_lang,
               CAST(round(ln(p.n_docs / CAST(p.n_train AS DOUBLE)), 6)
                    AS DECIMAL(28,6))
               + SUM(CAST(
                     e.tf * round(ln((COALESCE(c.c, 0) + a.alpha)
                                     / (t.tot + a.alpha * s.v)), 6)
                 AS DECIMAL(28,6))) AS score
        FROM te_tok e
        CROSS JOIN alphas a
        JOIN prior p ON p.f = e.f
        JOIN tot_l t ON t.f = e.f AND t.lang = p.lang
        JOIN vsize s ON s.f = e.f
        LEFT JOIN cnt_lt c ON c.f = e.f AND c.lang = p.lang AND c.token = e.token
        GROUP BY e.f, a.alpha, e.doc_id, e.true_lang, p.lang, p.n_docs, p.n_train
    ),
    pred AS (
        SELECT f, alpha, doc_id, true_lang, cand_lang AS pred_lang
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY f, alpha, doc_id ORDER BY score DESC, cand_lang ASC
            ) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    acc AS (
        SELECT alpha,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(SUM(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_correct
        FROM pred GROUP BY alpha
    )
    SELECT alpha, n_test, n_correct,
           floor(n_correct / CAST(n_test AS DOUBLE) * 1000000.0 + 0.5)
               / 1000000.0 AS accuracy,
           (row_number() OVER (ORDER BY n_correct DESC, alpha ASC) = 1)
               AS is_best
    FROM acc
"""


@query(
    "ml_cv_grid_relational_twin",
    survey_ref="M11,M9,M7,M10",
    doc="Oracle-checked k-fold CV grid search: 3-fold md5 split x 3 "
    "Lidstone-smoothing alphas over the relational NB, pooled accuracy "
    "per alpha, winner flagged.",
    oracle=_CV_TWIN_SQL,
)
def ml_cv_grid_relational_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11 under the exact-value hash gate: 3-fold cross-validation over
    a Lidstone smoothing grid alpha in {0.5, 1.0, 2.0}, with folds and
    alphas as data. The md5(doc_id#42) hash of split_train_test assigns
    each doc a fold; one ``nb_fit`` keyed by fold trains the three
    fold-models, and one ``nb_score`` keyed by (fold, alpha) scores every
    doc in its own fold at every alpha. Pooled accuracy per alpha is
    INTEGER n_test/n_correct plus the portable floor-rounded ratio; the
    winning alpha is flagged by (n_correct DESC, alpha ASC). The MLlib
    CrossValidator query (ml_cv_grid_best) stays rows-only; a pure-Python
    recount is the third engine
    (tests/test_ml.py::test_cv_grid_twin_matches_pure_python)."""
    fold = _key_hash("doc_id", _NB_SEED) % _CV_FOLDS
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text", fold.alias("fold"))
    folds = spark.createDataFrame([(f,) for f in range(_CV_FOLDS)], "f bigint")
    alphas = F.broadcast(spark.createDataFrame([(a,) for a in _CV_ALPHAS], "alpha double"))
    train = docs.crossJoin(F.broadcast(folds)).filter(F.col("fold") != F.col("f"))
    model = nb_fit(train, group_cols=("f",))
    test = docs.select(
        F.col("fold").alias("f"),
        F.struct("doc_id", F.col("lang").alias("true_lang")).alias("key"),
        "text",
    ).crossJoin(alphas)
    pred = nb_score(
        NBModel(model.table.crossJoin(alphas)),
        test,
        alpha=F.col("alpha"),
        id_col="key",
        group_cols=("f", "alpha"),
    )
    acc = pred.groupBy("alpha").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(
            F.when(F.col("pred_lang") == F.col("key.true_lang"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_correct"),
    )
    w_best = Window.orderBy(F.desc("n_correct"), F.asc("alpha"))
    return acc.select(
        "alpha",
        "n_test",
        "n_correct",
        (
            F.floor(
                F.col("n_correct") / F.col("n_test").cast("double") * 1000000.0
                + F.lit(0.5)
            ).cast("double")
            / 1000000.0
        ).alias("accuracy"),
        (F.row_number().over(w_best) == 1).alias("is_best"),
    )


def tfidf_pipeline_features(
    docs: DataFrame,
    min_df: int = 2,
    top_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: tuple[str, ...] = _EN_STOPWORDS,
) -> DataFrame:
    """PRODUCTION M1->M5 featurizer (``ml_tfidf_pipeline_twin`` is this
    call on the documents table at the defaults): RegexTokenizer
    (lowercase, \\W+) -> StopWordsRemover (``stopwords``, defaulting to
    MLlib's frozen English list) -> CountVectorizer-style vocabulary
    under the ``min_df`` cut -> MLlib's IDF ln((N+1)/(df+1)) -> each
    document's ``top_k`` features by tf*idf (ties to the alphabetically
    first term). Returns (id_col, feat_rank, term, tf, df, idf, tfidf).
    idf is rounded to 6dp before the product (libm independence), so
    tfidf = bigint tf × the same rounded double in Spark and DuckDB, and
    products and rank order are bit-identical.

    Scale shape: one explode -> token-keyed partial aggs build the
    vocabulary (the min_df cut keeps it domain-bounded); the idf table
    BROADCASTS to the (doc, term) tf stream, so the corpus-sized side
    never reshuffles; top_k is a doc-keyed WindowGroupLimit. No collect,
    no driver-side vocabulary. Validated entries (min_df >= 1,
    top_k >= 1) — a silent 0 would emit an empty vocabulary or no
    features instead of failing."""
    if min_df < 1 or top_k < 1:
        raise ValueError(
            f"tfidf_pipeline_features: need min_df >= 1 and top_k >= 1, "
            f"got min_df={min_df} top_k={top_k}"
        )
    terms = F.filter(F.split(F.lower(F.col(text_col)), r"\W+"), lambda t: t != "")
    base = docs.select(F.col(id_col).alias("doc_id"), terms.alias("terms"))
    tok = base.select("doc_id", F.explode("terms").alias("term"))
    if stopwords:
        tok = tok.filter(~F.col("term").isin(*stopwords))
    n_docs = base.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = (
        tok.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_df)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "df",
            F.round(
                F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("idf"),
        )
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    feat = tf.join(F.broadcast(idf), "term").withColumn(
        "tfidf", F.col("tf") * F.col("idf")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        feat.withColumn("feat_rank", F.row_number().over(w))
        .filter(F.col("feat_rank") <= top_k)
        .select(
            F.col("doc_id").alias(id_col),
            "feat_rank",
            "term",
            "tf",
            "df",
            "idf",
            "tfidf",
        )
    )


class NBModel(NamedTuple):
    """``nb_fit``'s model: one (label x vocabulary)-bounded table."""

    #: (*group_cols, cand_lang, token, c, tot, v, n_docs, n_train): one row
    #: per (group, label, training-vocabulary token); c is the token's
    #: training count under that label (0 when the pair never occurs), tot
    #: the label's token total, v the vocabulary size, n_docs the label's
    #: doc count and n_train the training doc count, each within its group
    table: DataFrame


_NB_MODEL_COLS = ("cand_lang", "token", "c", "tot", "v", "n_docs", "n_train")


def _nb_tokens(text_col: str):
    return F.filter(F.split(F.col(text_col), " "), lambda t: t != "")


def nb_fit(
    train: DataFrame,
    *,
    label_col: str = "lang",
    text_col: str = "text",
    group_cols: Sequence[str] = (),
) -> NBModel:
    """Build step of relational multinomial Naive Bayes: train on
    (label_col, text_col) and return the small ``NBModel`` that
    ``nb_score`` scores against. Tokens are the non-empty pieces of a
    split on single spaces.

    The model is one table with a row per (label, vocabulary token),
    every per-label statistic repeated on its rows, so a request joins
    one table once. Labels are the non-NULL training labels; the
    vocabulary is every training token, NULL-label docs included, and
    NULL-label docs count toward n_train, as in the oracle.

    ``group_cols`` fits one independent model per value of those train
    columns in the same pass (the CV twin's folds): every count,
    vocabulary, label and n_train statistic is computed per group and the
    table carries the group columns. With none, one model is fitted.

    Plan shape (r15's single training pass): one checkpointed (label x
    vocab)-bounded count table feeds the vocabulary and every per-label
    statistic, and n_train folds over the per-label doc counts
    (_with_n_train). The counts, the vocabulary and the label rows are
    cut with ``localCheckpoint(eager=False)``: no cut stores rows until
    the first action that reads the model, after which every further
    score reads the stored tables. Under AQE a cut does run its plan's
    shuffle stages when it is made, so building even a one-shot
    fit+score frame starts those jobs. The (label x vocabulary) table
    itself is a lazy join of the three.

    Reuse: ``nb_classify`` keeps the model of a PERSISTED ``train``
    (``serving.built_for``, which materializes the table, as one
    partition when small) for as long as the same Spark cache entry
    backs it; after ``unpersist()``, ``spark.catalog.clearCache()`` or a
    re-cache it builds a fresh one, and an unpersisted ``train`` is never
    memoized. Call nb_fit directly to hold a model yourself."""
    g = list(group_cols)
    require_columns("nb_fit", "train", train, (*g, label_col, text_col))
    tr = train.select(*g, F.col(label_col).alias("lang"), _nb_tokens(text_col).alias("tokens"))
    counts = (
        tr.select(*g, "lang", F.explode("tokens").alias("token"))
        .groupBy(*g, "lang", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    vocab = counts.select(*g, "token").distinct().localCheckpoint(eager=False)
    # a "cross" join on the group columns is an equi-join, and with none
    # it plans exactly as crossJoin (PySpark rejects an empty key list)
    on_groups = g or None
    per_label = counts.groupBy(*g, "lang").agg(F.sum("c").alias("tot")).join(
        vocab.groupBy(*g).agg(F.count(F.lit(1)).alias("v")), on_groups, "cross"
    )
    labels = (
        _with_n_train(tr.groupBy(*g, "lang").agg(F.count(F.lit(1)).alias("n_docs")), g)
        .join(per_label, [*g, "lang"])
        .localCheckpoint(eager=False)
    )
    table = (
        labels.join(vocab, on_groups, "cross")
        .join(counts, [*g, "lang", "token"], "left")
        .select(
            *g,
            F.col("lang").alias("cand_lang"),
            "token",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            "tot",
            "v",
            "n_docs",
            "n_train",
        )
    )
    return NBModel(table)


def nb_score(
    model: NBModel,
    test: DataFrame,
    *,
    alpha: float | Column = 1.0,
    id_col: str = "doc_id",
    label_col: str = "lang",
    text_col: str = "text",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Score step of relational multinomial Naive Bayes: one row per
    scoreable doc of ``test`` (id_col, text_col) as (id_col,
    pred_<label_col>, nb_log_score). Reads only the request's rows and
    ``model`` (``nb_fit``'s), so one model serves any number of requests
    without retraining: ``nb_classify`` passes the model it keeps for a
    persisted train until that train's cache entry changes (see nb_fit).
    Raises ValueError when a numeric ``alpha`` is <= 0 or when the model
    or ``test`` lacks its expected columns.

    ``group_cols`` scores each test row against the model rows of its own
    group: the model table and ``test`` both carry those columns, the
    join is on (*group_cols, token), the argmax is per (*group_cols, doc)
    and the output leads with the group columns. ``alpha`` may be a
    Column over the group columns, so a smoothing grid is data (the CV
    twin crosses its model and test docs with an alpha table and groups
    by it).

    Math: prior log(n_c/n_train), likelihood log((c + alpha)/(tot_c +
    alpha·V)) over the train vocab, each log factor rounded to 6
    decimals pre-sum and the per-(doc, label) sum accumulated in
    DECIMAL(28,6) so partial-aggregation order cannot move the result;
    argmax ties to the alphabetically first label. Test tokens outside
    the train vocab are dropped; a doc with none left emits no row.

    Plan: against a ``serving.broadcastable`` model table (one held for
    a persisted train, small enough for Spark to broadcast) the request
    is hash-partitioned by doc id once and the table is broadcast into
    it, so the per-(doc, token) tf aggregate, the per-(doc, label) score
    aggregate and the per-doc argmax window all run behind that one
    exchange. Any other model table's join is the planner's pick."""
    if not isinstance(alpha, Column) and alpha <= 0:
        raise ValueError(f"nb_score: need alpha > 0, got {alpha}")
    g = list(group_cols)
    require_columns("nb_score", "model.table", model.table, (*g, *_NB_MODEL_COLS))
    require_columns("nb_score", "test", test, (*g, id_col, text_col))
    table = model.table
    te = test.select(*g, F.col(id_col).alias("doc_id"), _nb_tokens(text_col).alias("tokens"))
    if broadcastable(table):
        table = F.broadcast(table)
        te = te.repartition(*g, "doc_id")
    te_tok = (
        te.select(*g, "doc_id", F.explode("tokens").alias("token"))
        .groupBy(*g, "doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    a = alpha if isinstance(alpha, Column) else F.lit(float(alpha))
    log_lik = F.round(F.log((F.col("c") + a) / (F.col("tot") + a * F.col("v"))), 6)
    log_prior = F.round(F.log(F.col("n_docs") / F.col("n_train").cast("double")), 6)
    scored = (
        te_tok.join(table, [*g, "token"])
        .groupBy(*g, "doc_id", "cand_lang")
        .agg(
            (
                F.first(log_prior).cast("decimal(28,6)")
                + F.sum((F.col("tf") * log_lik).cast("decimal(28,6)"))
            ).alias("score")
        )
    )
    w = Window.partitionBy(*g, "doc_id").orderBy(F.desc("score"), F.asc("cand_lang"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            *g,
            F.col("doc_id").alias(id_col),
            F.col("cand_lang").alias(f"pred_{label_col}"),
            F.col("score").cast("double").alias("nb_log_score"),
        )
    )


def nb_classify(
    train: DataFrame,
    test: DataFrame,
    *,
    alpha: float = 1.0,
    id_col: str = "doc_id",
    label_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """PRODUCTION relational multinomial Naive Bayes — the reference
    repo's core use case (train a text classifier, score a corpus) as a
    parameterized library entry over ANY labeled/unlabeled frame pair:
    ``nb_score(nb_fit(train), test)``. Train on (id, label, text), score
    (id, text), return one row per scoreable test doc as (id_col, pred
    label, nb_log_score). Lidstone smoothing is caller-chosen
    (``alpha``; 1.0 = add-one = the declared ``ml_nb_relational_twin``,
    which is this call on its md5-band split).

    Build once, serve many: when ``train`` is persisted, its model is
    built once and reused by every later call for as long as the same
    Spark cache entry backs ``train`` (see nb_fit and serving.built_for);
    an unpersisted ``train`` is fitted in the same plan as the scoring.

    Scale shape: the model is one (label x vocabulary)-sized table;
    scoring joins it to the test token stream, then runs a (doc,
    label)-keyed aggregate and the per-doc argmax; a served model small
    enough to broadcast is joined map-side behind one exchange of the
    test docs by id (see nb_score); training is one token-keyed
    combine. No corpus self-join anywhere. MLlib's
    NaiveBayes (ml/pipeline.py) stays the production surface when
    HashingTF features are wanted; this is the engine-native form whose
    every number a DuckDB oracle can replay."""
    model = built_for(
        train,
        ("nb_fit", label_col, text_col),
        lambda: nb_fit(train, label_col=label_col, text_col=text_col),
    )
    return nb_score(model, test, alpha=alpha, id_col=id_col, label_col=label_col, text_col=text_col)


#: ml_nb_library_classify smoothing — deliberately NOT the twin's
#: add-one: alpha=0.5 (Jeffreys-ish Lidstone, exactly representable so
#: F.lit and the SQL literal are the same double) moves every likelihood
#: and, wherever the evidence was close, the argmax itself.
_LIB_NB_ALPHA = 0.5


@query(
    "ml_nb_library_classify",
    survey_ref="M7,M9,M10,L6",
    doc="The production nb_classify entry under the hash gate at the "
    "non-default alpha=0.5: md5-band split, Lidstone-smoothed "
    "multinomial NB, per-doc argmax.",
    oracle=f"""
        WITH {_nb_ctes(_LIB_NB_ALPHA)}
        SELECT doc_id, pred_lang, nb_log_score FROM nb_preds
    """,
)
def ml_nb_library_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION ``nb_classify`` path itself under the driver's
    hash gate (r10 verdict task 2 — the library entry was pinned only by
    pytest equality at alpha=1.0): the twin's own md5(doc_id#42) band
    split feeds ONE ``nb_classify`` call at alpha=0.5, so the Lidstone
    dial — the parameter a real deployment tunes against held-out
    perplexity — is what the oracle actually checks. The oracle renders
    the SAME CTE chain the add-one twin uses, at 0.5 (``_nb_ctes`` is
    shared, so twin and library oracle cannot drift).

    Scale shape — nb_classify's: the model is one (label x
    vocabulary)-sized table; scoring is one join over the test token
    stream + a (doc, label)-keyed partial agg; training is one
    token-keyed combine. No corpus self-join."""
    train, test = split_train_test(load(spark, sf_dir, "documents"))
    return nb_classify(train, test, alpha=_LIB_NB_ALPHA)


@query(
    "ml_tfidf_library_features",
    survey_ref="M1,M2,M4,M5,M8,L6",
    doc="The production tfidf_pipeline_features library entry routed "
    "through the hash gate at min_df=4 / top_k=2 (the registered twin "
    "fixes 2/3) — the oracle checks both dials reach the plan.",
    oracle=_tfidf_twin_sql(min_df=4, top_k=2),
)
def ml_tfidf_library_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE ``tfidf_pipeline_features`` call at never-registered dials
    (r11 verdict task 4): the registered ``ml_tfidf_pipeline_twin``
    fixes the MLlib-bridged min_df=2 / top-3 workload; THIS query moves
    BOTH parameters (a stricter df>=4 vocabulary cut and a top-2
    feature budget), sharing ``_tfidf_twin_sql`` with the twin so the
    SQL forms cannot drift. Same plan shape: token-keyed partial aggs
    build the idf table, which BROADCASTS to the tf stream; top-k is a
    doc-keyed WindowGroupLimit."""
    d = load(spark, sf_dir, "documents")
    return tfidf_pipeline_features(d, min_df=4, top_k=2)
