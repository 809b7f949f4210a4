"""MLlib pipeline parity surface (SURVEY.md §2.12: M1–M11).

The reference (per BASELINE.json's characterization: "MLlib pipeline +
DataFrame text processing" — its checkout was empty, SURVEY.md §0) is an
ebook-text classifier: tokenize → remove stopwords → TF → IDF → label
index → Naive Bayes / Logistic Regression → evaluate. This module rebuilds
that surface idiomatically on pyspark.ml with fixed seeds.

Scale notes: HashingTF (not CountVectorizer) is the default featurizer —
it's stateless (no vocabulary collected to the driver), so the featurize
stage scales to any corpus. CountVectorizer is available behind a flag for
vocabulary-bounded use. NB training is a single aggregation pass; LR is
one L-BFGS job per iteration.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression, NaiveBayes
from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.ml.feature import (
    IDF,
    HashingTF,
    NGram,
    RegexTokenizer,
    StopWordsRemover,
    StringIndexer,
)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEED = 42


@dataclass(frozen=True)
class TextClassifierConfig:
    label_col: str = "lang"
    text_col: str = "text"
    num_features: int = 1 << 12
    use_bigrams: bool = False
    classifier: str = "nb"  # "nb" | "lr"
    min_doc_freq: int = 1


def build_text_pipeline(cfg: TextClassifierConfig = TextClassifierConfig()) -> Pipeline:
    """M1–M8: the full feature + classifier pipeline, deterministic seeds."""
    stages = [
        RegexTokenizer(
            inputCol=cfg.text_col, outputCol="tokens", pattern=r"\W+", minTokenLength=1
        ),
        StopWordsRemover(inputCol="tokens", outputCol="filtered"),
    ]
    feature_input = "filtered"
    if cfg.use_bigrams:
        stages.append(NGram(n=2, inputCol="filtered", outputCol="bigrams"))
        feature_input = "bigrams"
    stages += [
        HashingTF(inputCol=feature_input, outputCol="tf", numFeatures=cfg.num_features),
        IDF(inputCol="tf", outputCol="features", minDocFreq=cfg.min_doc_freq),
        StringIndexer(
            inputCol=cfg.label_col, outputCol="label", stringOrderType="alphabetAsc"
        ),
    ]
    if cfg.classifier == "nb":
        stages.append(NaiveBayes(featuresCol="features", labelCol="label"))
    elif cfg.classifier == "lr":
        stages.append(
            LogisticRegression(featuresCol="features", labelCol="label", maxIter=20)
        )
    else:
        raise ValueError(f"unknown classifier {cfg.classifier!r}")
    return Pipeline(stages=stages)


def _key_hash(key_col: str, seed: int = SEED):
    """md5(key # seed) of a key column as a non-negative BIGINT (its
    first 15 hex digits): the split hash of split_train_test and of the
    CV twin's folds, the same on any layout and in DuckDB."""
    md5 = F.md5(F.concat_ws("#", F.col(key_col).cast("string"), F.lit(str(seed))))
    return F.conv(F.substring(md5, 1, 15), 16, 10).cast("bigint")


def split_train_test(
    df: DataFrame, weights=(0.8, 0.2), seed: int = SEED, key_col: str = "doc_id"
) -> tuple[DataFrame, ...]:
    """M9: deterministic hash split — md5(key # seed) mod 10000 falls into
    the cumulative weight band of each split (n-way, like ``randomSplit``:
    2 weights → (train, test), 3 → (train, valid, test), …).

    Membership is a pure function of the row key, NOT of partitioning:
    unlike ``randomSplit`` (whose sample changes with file layout and task
    retries at scale), the same row lands in the same split on any cluster,
    any partition count, any engine — the same primitive as the declared
    ``data_train_valid_split`` query (operators/datapipe.py).
    """
    if len(weights) < 2 or any(w <= 0 for w in weights):
        raise ValueError(f"need >= 2 positive weights, got {weights!r}")
    total = float(sum(weights))
    cuts = []
    acc = 0.0
    for w in weights:
        acc += w
        cuts.append(int(round(acc / total * 10000)))
    cuts[-1] = 10000  # close the last band against rounding drift
    bucket = _key_hash(key_col, seed) % 10000
    lo = 0
    out = []
    for hi in cuts:
        out.append(df.filter((bucket >= lo) & (bucket < hi)))
        lo = hi
    return tuple(out)


def fit_text_classifier(
    train: DataFrame, cfg: TextClassifierConfig = TextClassifierConfig()
) -> PipelineModel:
    return build_text_pipeline(cfg).fit(train)


def evaluate(predictions: DataFrame) -> dict[str, float]:
    """M10: accuracy + weighted F1 on a predictions frame."""
    out = {}
    for metric in ("accuracy", "f1"):
        ev = MulticlassClassificationEvaluator(
            labelCol="label", predictionCol="prediction", metricName=metric
        )
        out[metric] = ev.evaluate(predictions)
    return out
