"""Text-analysis operators (SURVEY.md §2.9: L4, L6 — and the relational
core of the reference's TF-IDF feature engineering, §2.12 M4/M5).

Everything here is exploded-token relational algebra — built-in functions
only, fully SQL-expressible, so the entire text pipeline is oracle-checked.
The MLlib twin of this feature engineering lives in ml/pipeline.py; this
module is the engine-native path that scales: explode → partial-aggregated
groupBy, no Python in the loop, no driver-side vocabulary.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_for_ebook_classification_spark.functions.numeric import davg, sql_davg
from pyspark_for_ebook_classification_spark.operators.dedup import ANCHOR_K
from pyspark_for_ebook_classification_spark.plans.registry import query
from pyspark_for_ebook_classification_spark.serving import built_for, require_columns
from pyspark_for_ebook_classification_spark.sources.io import load

STOPWORDS = ("the", "of", "and", "a", "to", "in", "is", "it", "on", "for")
_SQL_STOPLIST = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


def _tokens():
    return F.filter(F.split("text", " "), lambda t: t != "")


_SQL_TOKENS = "list_filter(string_split(text, ' '), t -> t <> '')"


@query(
    "text_stats_by_lang",
    survey_ref="L4,A1",
    oracle=f"""
        SELECT
            lang,
            COUNT(*) AS n_docs,
            COUNT(DISTINCT source) AS n_sources,
            {sql_davg('n_chars', 'avg_chars')},
            {sql_davg(f'length({_SQL_TOKENS})', 'avg_tokens')},
            CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT)
                AS n_chars_mismatch
        FROM documents
        GROUP BY lang
    """,
)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rollup per language, cross-checking the precomputed n_chars
    column against length(text)."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        davg("n_chars", "avg_chars"),
        davg(F.size(_tokens()), "avg_tokens"),
        F.sum(F.when(F.col("n_chars") != F.length("text"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_chars_mismatch"),
    )


@query(
    "text_quality_score",
    survey_ref="L4,F4",
    doc="Heuristic doc-quality features: length, word-length, stopword ratio.",
    oracle=f"""
        WITH feats AS (
            SELECT doc_id,
                   {_SQL_TOKENS} AS tokens
            FROM documents
        )
        SELECT doc_id,
               CAST(length(tokens) AS INT) AS n_tokens,
               CAST(list_sum(list_transform(tokens, t -> length(t))) AS DOUBLE)
                   / length(tokens) AS avg_word_len,
               CAST(length(list_filter(tokens, t -> list_contains({_SQL_STOPLIST}, t)))
                    AS DOUBLE) / length(tokens) AS stopword_ratio,
               CASE
                   WHEN length(tokens) < 20 THEN 'too_short'
                   WHEN CAST(length(list_filter(tokens, t -> list_contains({_SQL_STOPLIST}, t)))
                        AS DOUBLE) / length(tokens) > 0.5 THEN 'boilerplate'
                   ELSE 'ok'
               END AS quality_class
        FROM feats
        WHERE doc_id % 10 = 0 AND length(tokens) > 0
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features — the pre-training filter primitive. One
    projection pass; all ratios are int/int divisions (engine-exact)."""
    d = load(spark, sf_dir, "documents")
    tokens = _tokens()
    stoplist = F.array(*[F.lit(w) for w in STOPWORDS])
    n_tokens = F.size("tokens")
    sum_len = F.aggregate(
        "tokens", F.lit(0), lambda acc, t: acc + F.length(t)
    )
    n_stop = F.size(F.filter("tokens", lambda t: F.array_contains(stoplist, t)))
    stop_ratio = n_stop.cast("double") / n_tokens
    return (
        d.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", tokens.alias("tokens"))
        .filter(F.size("tokens") > 0)
        .select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            (sum_len.cast("double") / n_tokens).alias("avg_word_len"),
            stop_ratio.alias("stopword_ratio"),
            F.when(n_tokens < 20, "too_short")
            .when(stop_ratio > 0.5, "boilerplate")
            .otherwise("ok")
            .alias("quality_class"),
        )
    )


@query(
    "text_token_count_subwords",
    survey_ref="L4,F1",
    doc="Token + BPE-ish subword counting (ceil(len/4) pieces per word).",
    oracle=f"""
        SELECT
            doc_id,
            CAST(length({_SQL_TOKENS}) AS INT) AS n_tokens,
            CAST(list_sum(list_transform({_SQL_TOKENS},
                 t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords,
            CAST(length(regexp_extract_all(text, '[aeiou]+')) AS INT) AS n_vowel_runs
        FROM documents
        WHERE doc_id % 10 = 0
    """,
)
def text_token_count_subwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-count proxy for LLM budgeting: whitespace tokens
    plus a BPE-like subword estimate (4 chars ≈ 1 piece) plus a regex
    feature — all codegen'd, ~free at scan speed."""
    d = load(spark, sf_dir, "documents")
    tokens = _tokens()
    return d.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.size(tokens).alias("n_tokens"),
        F.aggregate(
            tokens,
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("bigint"),
        ).alias("n_subwords"),
        F.expr("regexp_count(text, '[aeiou]+')").cast("int").alias("n_vowel_runs"),
    )


@query(
    "text_fingerprint_shingle",
    survey_ref="L4,F7",
    doc="Rolling 5-gram fingerprint: min shingle hash per document (winnowing core).",
    oracle="""
        WITH toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tokens
            FROM documents WHERE doc_id % 10 = 0
        )
        SELECT doc_id,
               CAST(length(tokens) - 4 AS INT) AS n_shingles,
               list_min(list_transform(
                   range(1, length(tokens) - 3),
                   i -> md5(array_to_string(tokens[i:i+4], ' '))
               )) AS min_shingle_hash
        FROM toks
        WHERE length(tokens) >= 5
    """,
)
def text_fingerprint_shingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: hash every 5-token shingle, keep the minimum —
    the core step of winnowing/MOSS-style fingerprinting. DuckDB's
    ``tokens[i:i+4]`` slice is inclusive (5 elements), mirrored by Spark's
    ``slice(tokens, i, 5)``."""
    d = load(spark, sf_dir, "documents")
    tokens = _tokens()
    min_hash = F.expr(
        "array_min(transform(sequence(1, size(tokens) - 4), "
        "i -> md5(concat_ws(' ', slice(tokens, i, 5)))))"
    )
    return (
        d.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", tokens.alias("tokens"))
        .filter(F.size("tokens") >= 5)
        .select(
            "doc_id",
            (F.size("tokens") - 4).cast("int").alias("n_shingles"),
            min_hash.alias("min_shingle_hash"),
        )
    )


@query(
    "text_tfidf_vocab",
    survey_ref="L6,F4,A1",
    doc="Corpus vocabulary with tf/df/idf — the relational core of TF-IDF.",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
            FROM documents
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT token,
               COUNT(*) AS tf,
               COUNT(DISTINCT doc_id) AS df,
               round(ln((n.n_docs + 1.0) / (COUNT(DISTINCT doc_id) + 1.0)) + 1.0, 6) AS idf
        FROM tok, n
        GROUP BY token, n.n_docs
        HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def text_tfidf_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build: explode → one groupBy computing corpus tf and df
    side by side; idf as a column expression against the broadcast doc
    count. This is exactly HashingTF/IDF's statistics pass, kept relational
    so it's oracle-checkable and shuffle-minimal (token-keyed partial aggs).
    idf is rounded (ln is libm-dependent across engines)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens()).alias("token"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    stats = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
    )
    return stats.crossJoin(F.broadcast(n_docs)).select(
        "token",
        "tf",
        "df",
        F.round(
            F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0, 6
        ).alias("idf"),
    )


@query(
    "text_lang_id_ngram",
    survey_ref="L4,L6,W4",
    doc="Language-ID heuristic: per-lang top-token vocabularies vote on each doc.",
    oracle="""
        WITH tok AS (
            SELECT doc_id, lang,
                   unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> '')))
                       AS token
            FROM documents
        ),
        lang_vocab AS (
            SELECT lang, token
            FROM (
                SELECT lang, token, COUNT(*) AS cnt,
                       row_number() OVER (
                           PARTITION BY lang ORDER BY COUNT(*) DESC, token
                       ) AS rn
                FROM tok
                GROUP BY lang, token
            )
            WHERE rn <= 20
        ),
        overlap AS (
            SELECT t.doc_id, t.lang AS true_lang, v.lang AS cand_lang, COUNT(*) AS hits
            FROM tok t JOIN lang_vocab v ON t.token = v.token
            GROUP BY t.doc_id, t.lang, v.lang
        ),
        pred AS (
            SELECT doc_id, true_lang, cand_lang AS pred_lang
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY hits DESC, cand_lang
                ) AS rn
                FROM overlap
            )
            WHERE rn = 1
        )
        SELECT true_lang, pred_lang, COUNT(*) AS n_docs
        FROM pred
        GROUP BY true_lang, pred_lang
    """,
)
def text_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-style language ID without ML: build each language's top-20
    token vocabulary from the corpus, classify each doc to the language
    whose vocabulary it overlaps most (ties → lexicographic). Output is the
    lang confusion matrix. Every stage is a keyed aggregate or broadcast
    join — the whole classifier is ~4 shuffles regardless of corpus size."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.array_distinct(_tokens())).alias("token")
    )
    w_vocab = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    lang_vocab = (
        tok.groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w_vocab))
        .filter(F.col("rn") <= 20)
        .select(F.col("lang").alias("cand_lang"), "token")
    )
    overlap = (
        tok.join(F.broadcast(lang_vocab), "token")
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "cand_lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w_pred = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("cand_lang"))
    pred = (
        overlap.withColumn("rn", F.row_number().over(w_pred))
        .filter(F.col("rn") == 1)
        .select("true_lang", F.col("cand_lang").alias("pred_lang"))
    )
    return pred.groupBy("true_lang", "pred_lang").agg(F.count(F.lit(1)).alias("n_docs"))


@query(
    "text_unigram_logprob",
    survey_ref="L4,L6,A1,F3",
    doc="Perplexity-style quality score: avg negative log-prob under the corpus unigram LM.",
    oracle="""
        WITH occ AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
            FROM documents
        ),
        vocab AS (SELECT t, COUNT(*) AS cnt FROM occ GROUP BY t),
        tot AS (SELECT COUNT(*) AS total FROM occ)
        SELECT doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(CAST(-ln(CAST(cnt AS DOUBLE) / total) AS DECIMAL(28,6)))
                    AS DOUBLE) / COUNT(*) AS avg_nll
        FROM occ JOIN vocab USING (t) CROSS JOIN tot
        GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perplexity-filter primitive: score each doc by the average
    negative log-probability of its tokens under the corpus-wide unigram
    model (high avg_nll = rare-token-heavy = candidate for quality review).

    Two aggregates over one exploded token stream: vocabulary counts, then
    an UNHINTED join back onto the occurrences — AQE broadcasts it while
    the vocabulary fits and falls back to a token-keyed shuffle join at
    open-vocabulary scale, with no mandatory broadcast to OOM on.
    Each -ln(p) term is rounded to decimal(28,6) before the per-doc sum, so
    the accumulation is order-independent and engine-exact (registry
    determinism contract for libm-dependent values)."""
    d = load(spark, sf_dir, "documents")
    occ = d.select("doc_id", F.explode(_tokens()).alias("t"))
    vocab = occ.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    total = occ.agg(F.count(F.lit(1)).alias("total"))
    nll = -F.log(F.col("cnt").cast("double") / F.col("total"))
    # vocab is corpus-derived and unbounded — no mandatory broadcast hint
    # (1e8-1e9 distinct tokens at web scale would OOM); AQE promotes the
    # join to broadcast at runtime whenever the vocab measures small
    return (
        occ.join(vocab, "t")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (
                F.sum(nll.cast("decimal(28,6)")).cast("double") / F.count(F.lit(1))
            ).alias("avg_nll"),
        )
    )


@query(
    "text_pii_scrub",
    survey_ref="L4,F1",
    oracle=r"""
        SELECT
            doc_id,
            regexp_replace(
                regexp_replace(text, '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
                '\d{3}[- ]\d{3,4}[- ]\d{4}', '<PHONE>', 'g') AS scrubbed_head_pre,
            CAST(length(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.-]+')) AS INT)
                AS n_emails,
            CAST(length(regexp_extract_all(text, '\d{3}[- ]\d{3,4}[- ]\d{4}')) AS INT)
                AS n_phones,
            CAST(length(regexp_extract_all(text, '\d+')) AS INT) AS n_number_runs
        FROM documents
        WHERE doc_id % 25 = 0
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass every pre-training corpus runs:
    regexp_replace email/phone shapes with placeholder tags plus per-doc
    redaction counts. Pure codegen'd regexp work on the scan, no shuffle;
    at 100 TB this is the textbook map-only stage (predicate and the
    doc_id sampling filter both push into the parquet scan)."""
    d = load(spark, sf_dir, "documents")
    email = r"[a-z0-9._]+@[a-z0-9.-]+"
    phone = r"\d{3}[- ]\d{3,4}[- ]\d{4}"
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", email, "<EMAIL>"), phone, "<PHONE>"
    )
    return d.filter(F.col("doc_id") % 25 == 0).select(
        "doc_id",
        scrubbed.alias("scrubbed_head_pre"),
        F.regexp_count("text", F.lit(email)).cast("int").alias("n_emails"),
        F.regexp_count("text", F.lit(phone)).cast("int").alias("n_phones"),
        F.regexp_count("text", F.lit(r"\d+")).cast("int").alias("n_number_runs"),
    )


@query(
    "text_repetition_ratio",
    survey_ref="L4",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest({_SQL_TOKENS}) AS token
            FROM documents WHERE doc_id % 10 = 0
        ),
        tf AS (
            SELECT doc_id, token, COUNT(*) AS c
            FROM tok GROUP BY doc_id, token
        )
        SELECT
            doc_id,
            CAST(SUM(c) AS BIGINT) AS n_tokens,
            COUNT(*) AS n_unique,
            round(COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS unique_ratio,
            round(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_token_share
        FROM tf
        GROUP BY doc_id
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the 'gibberish / template spam'
    detector): distinct-token ratio and the share of the single most
    frequent token. Two-level aggregation — explode → (doc, token) counts
    → per-doc rollup — both levels hash aggregates with map-side combine;
    the (doc_id, token) key is near-unique so no skew at scale."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    tok = d.select("doc_id", F.explode(_tokens()).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    total = F.sum("c").cast("bigint")
    return tf.groupBy("doc_id").agg(
        total.alias("n_tokens"),
        F.count(F.lit(1)).alias("n_unique"),
        F.round(F.count(F.lit(1)) / total.cast("double"), 6).alias("unique_ratio"),
        F.round(F.max("c") / total.cast("double"), 6).alias("top_token_share"),
    )


@query(
    "text_keyword_topk",
    survey_ref="L6,W4,F4",
    doc="Top-3 TF-IDF keywords per document (score desc, token asc).",
    oracle="""
        WITH tok AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '), t -> t <> ''))
                       AS token
            FROM documents
        ), tf AS (
            SELECT doc_id, token, COUNT(*) AS tf
            FROM tok GROUP BY doc_id, token
        ), df AS (
            SELECT token, COUNT(*) AS df FROM tf GROUP BY token
        ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT doc_id, token, rank
        FROM (
            SELECT tf.doc_id, tf.token,
                   round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6)
                       AS score,
                   row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0)
                                DESC,
                                tf.token
                   ) AS rank
            FROM tf JOIN df USING (token), n
        )
        WHERE rank <= 3
    """,
)
def text_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: each doc's top-3 tokens by tf·idf, ties broken
    by token text so the top-3 set is deterministic in both engines. The
    declared output carries (doc_id, token, rank) but NOT the float score:
    rank is an integer decided by an exact comparator over identical
    doubles, so parity doesn't ride on 6-decimal rounding at the cut line.

    Scale shape: tf is one (doc,token) aggregate; df derives from tf's
    rows (token-sharded count of docs), never re-reads the corpus; n_docs
    is a 1-row broadcast. The per-doc window ranks ≤ vocab-per-doc rows.
    At 100 TB the df table is vocabulary-sized — broadcast it."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("token"),
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf") * (
        F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc(score), "token")
    # df(token) is vocabulary-sized (unbounded) — hint-free so AQE decides;
    # the one-row n_docs total stays an explicit broadcast
    return (
        tf.join(df_t, "token")
        .crossJoin(F.broadcast(n))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", "rank")
    )


@query(
    "text_normalize_clean",
    survey_ref="F1,L4",
    doc="Canonical text normalization: case-fold, strip, collapse spaces.",
    oracle="""
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                   ' +', ' ', 'g')) AS norm_text,
               CAST(length(list_filter(string_split(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                   ' +', ' ', 'g')), ' '), t -> t <> '')) AS INT) AS n_tokens
        FROM documents
        WHERE doc_id % 40 = 0
    """,
)
def text_normalize_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonicalization pass every dedup/quality stage assumes: lower-
    case, non-alphanumerics to spaces, runs of spaces collapsed, ends
    trimmed. Pure map-side string kernels (zero shuffle at any scale).
    DuckDB's regexp_replace needs the explicit 'g' flag; Spark's is global
    by default — the twin spells both."""
    d = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return d.filter(F.col("doc_id") % 40 == 0).select(
        "doc_id",
        norm.alias("norm_text"),
        F.size(F.filter(F.split(norm, " "), lambda t: t != "")).alias("n_tokens"),
    )


@query(
    "text_bpe_pair_stats",
    survey_ref="L6,F4,A1",
    doc="BPE merge-step statistics: corpus-wide adjacent token-pair counts.",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS tokens
            FROM documents
        ), pairs AS (
            SELECT doc_id,
                   tokens[u.i] || ' ' || tokens[u.i + 1] AS pair
            FROM toks,
                 LATERAL (SELECT unnest(range(1, length(tokens))) AS i) u
            WHERE length(tokens) >= 2
        )
        SELECT pair,
               COUNT(*) AS pair_count,
               COUNT(DISTINCT doc_id) AS doc_freq
        FROM pairs
        GROUP BY pair
        HAVING COUNT(*) >= 10
    """,
)
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting core of BPE tokenizer training: frequency of every
    ADJACENT token pair across the corpus (the pair argmax is what BPE
    merges each iteration). transform(sequence) forms pairs in original
    order; one explode + one hash aggregate with map-side combine — the
    same shape at 100 TB, where each training iteration is one such pass
    over the (re-tokenized) corpus. HAVING >= 10 bounds the declared
    output to merge-worthy pairs, mirrored in both engines."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda t: t != "").alias("tokens"),
    ).filter(F.size("tokens") >= 2)
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tokens) - 1), "
                "i -> concat_ws(' ', element_at(tokens, i), "
                "element_at(tokens, i + 1)))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.count(F.lit(1)).alias("pair_count"),
            F.count_distinct("doc_id").alias("doc_freq"),
        )
        .filter(F.col("pair_count") >= 10)
    )


@query(
    "text_gopher_quality_rules",
    survey_ref="L4,F1,F4",
    doc="Published Gopher-style repetition/format quality rules as one declarative pass.",
    oracle=f"""
        WITH feat AS (
            SELECT
                doc_id,
                length({_SQL_TOKENS}) AS word_count,
                CAST(list_sum(list_transform({_SQL_TOKENS},
                     t -> length(t))) AS DOUBLE)
                  / length({_SQL_TOKENS}) AS mean_word_len,
                CAST(length(regexp_extract_all(text, '[#.]{{3,}}|[0-9]'))
                     AS DOUBLE)
                  / length({_SQL_TOKENS}) AS symbol_per_word,
                CAST(length(list_filter({_SQL_TOKENS},
                     t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE)
                  / length({_SQL_TOKENS}) AS alpha_word_ratio,
                length(list_distinct(list_filter({_SQL_TOKENS},
                     t -> list_contains({_SQL_STOPLIST}, t)))) AS n_distinct_stop
            FROM documents
            WHERE length({_SQL_TOKENS}) > 0 AND doc_id % 5 = 0
        )
        SELECT
            doc_id,
            CAST(word_count AS INT) AS word_count,
            mean_word_len,
            symbol_per_word,
            alpha_word_ratio,
            CAST(n_distinct_stop AS INT) AS n_distinct_stop,
            (word_count BETWEEN 5 AND 100000
             AND mean_word_len BETWEEN 2.0 AND 12.0
             AND symbol_per_word < 0.3
             AND alpha_word_ratio > 0.6
             AND n_distinct_stop >= 1) AS keep
        FROM feat
    """,
)
def text_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gate (Rae et al. 2021, Table A1 shape): word
    count bounds, mean-word-length band, symbol-to-word ratio, alpha-word
    ratio, and distinct-stopword floor, folded into one boolean `keep`.
    One projection pass over the corpus — no shuffle, no Python; at 100 TB
    this runs at parquet-scan speed and the predicate set is data-site
    evaluable (thresholds are literals, so Catalyst constant-folds)."""
    d = load(spark, sf_dir, "documents")
    tokens = _tokens()
    stoplist = F.array(*[F.lit(w) for w in STOPWORDS])
    wc = F.size("tokens")
    mean_len = (
        F.aggregate("tokens", F.lit(0), lambda acc, t: acc + F.length(t)).cast("double")
        / wc
    )
    symbol_per_word = (
        F.size(F.expr(r"regexp_extract_all(text, '[#.]{3,}|[0-9]', 0)")).cast("double")
        / wc
    )
    alpha_ratio = (
        F.size(F.filter("tokens", lambda t: t.rlike("[a-zA-Z]"))).cast("double") / wc
    )
    n_stop = F.size(
        F.array_distinct(F.filter("tokens", lambda t: F.array_contains(stoplist, t)))
    )
    feat = (
        d.filter((F.col("doc_id") % 5 == 0))
        .select("doc_id", "text", tokens.alias("tokens"))
        .filter(F.size("tokens") > 0)
        .select(
            "doc_id",
            wc.cast("int").alias("word_count"),
            mean_len.alias("mean_word_len"),
            symbol_per_word.alias("symbol_per_word"),
            alpha_ratio.alias("alpha_word_ratio"),
            n_stop.cast("int").alias("n_distinct_stop"),
        )
    )
    return feat.withColumn(
        "keep",
        F.col("word_count").between(5, 100000)
        & F.col("mean_word_len").between(2.0, 12.0)
        & (F.col("symbol_per_word") < 0.3)
        & (F.col("alpha_word_ratio") > 0.6)
        & (F.col("n_distinct_stop") >= 1),
    )


@query(
    "text_inverted_index",
    survey_ref="L6,F4,A6,W4",
    doc="Inverted index build: token → capped, ordered posting list.",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, {_SQL_TOKENS} AS tokens
            FROM documents
            WHERE doc_id % 4 = 0
        ),
        pos AS (
            SELECT doc_id, tokens[i + 1] AS token, i AS pos
            FROM tok, LATERAL unnest(range(length(tokens))) AS r(i)
        )
        SELECT
            token,
            COUNT(DISTINCT doc_id) AS df,
            COUNT(*) AS tf,
            array_to_string(
                list_sort(list(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)))[1:20],
                '|') AS postings
        FROM pos
        GROUP BY token
        HAVING COUNT(DISTINCT doc_id) >= 3
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: posexplode tokens into (doc, position)
    postings, group by token, and emit a BOUNDED, deterministically-ordered
    posting list (sort_array + slice to 20 — the unbounded collect_list
    is the classic 100 TB OOM, so the cap is part of the operator's
    contract). Postings are 'doc:pos' strings, and the capped list is
    flattened to ONE '|'-joined string column in both engines — the
    driver's canonicalizer cannot hash list cells (r3 driver failure), so
    registered outputs are scalar-only. One token-keyed shuffle; df/tf
    ride the same aggregate."""
    d = load(spark, sf_dir, "documents")
    pos = (
        d.filter(F.col("doc_id") % 4 == 0)
        .select("doc_id", F.posexplode(_tokens()).alias("pos", "token"))
        .select(
            "token",
            "doc_id",
            F.concat_ws(":", F.col("doc_id"), F.col("pos")).alias("posting"),
        )
    )
    return (
        pos.groupBy("token")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("tf"),
            F.concat_ws(
                "|", F.slice(F.sort_array(F.collect_list("posting")), 1, 20)
            ).alias("postings"),
        )
        .filter(F.col("df") >= 3)
    )


@query(
    "text_bigram_lm_score",
    survey_ref="L4,L6,A1,F3,F4",
    doc="Add-one-smoothed bigram LM: per-doc avg negative conditional log-prob.",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, {_SQL_TOKENS} AS tokens
            FROM documents
            WHERE length({_SQL_TOKENS}) >= 2
        ),
        big AS (
            SELECT doc_id, tokens[i] AS w1, tokens[i + 1] AS w2
            FROM tok, LATERAL unnest(range(1, length(tokens))) AS r(i)
        ),
        big_cnt AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
        left_cnt AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
        vocab AS (
            SELECT COUNT(DISTINCT t) AS v FROM (
                SELECT unnest(tokens) AS t FROM tok
            )
        )
        SELECT
            doc_id,
            COUNT(*) AS n_bigrams,
            CAST(SUM(CAST(-ln((c12 + 1.0) / (c1 + v)) AS DECIMAL(28,6)))
                 AS DOUBLE) / COUNT(*) AS avg_nll
        FROM big
        JOIN big_cnt USING (w1, w2)
        JOIN left_cnt USING (w1)
        CROSS JOIN vocab
        GROUP BY doc_id
    """,
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score: each doc's average negative conditional
    log-prob −ln p(w2|w1) under the corpus bigram model with add-one
    smoothing — the next step up from the unigram perplexity filter
    (catches scrambled/boilerplate text whose unigram stats look normal).

    Plan shape mirrors text_unigram_logprob: one exploded bigram stream
    aggregated twice (pair counts, left counts), joined back and reduced
    per doc; the vocab size is a broadcast scalar. Each −ln term rounds
    to decimal(28,6) pre-sum (libm-independence, order-independence)."""
    d = load(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", _tokens().alias("tokens"))
        .filter(F.size("tokens") >= 2)
    )
    big = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tokens) - 1), "
                "i -> struct(element_at(tokens, i) AS w1, "
                "element_at(tokens, i + 1) AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    big_cnt = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    left_cnt = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = toks.select(F.explode("tokens").alias("t")).agg(
        F.countDistinct("t").alias("v")
    )
    nll = -F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("v")))
    # bigram/unigram count tables are vocabulary-sized (vocab² worst case
    # for bigrams) — hint-free so AQE broadcasts only when they measure
    # small; the one-row vocab-size scalar stays an explicit broadcast
    return (
        big.join(big_cnt, ["w1", "w2"])
        .join(left_cnt, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum(nll.cast("decimal(28,6)")).cast("double") / F.count(F.lit(1))
            ).alias("avg_nll"),
        )
    )


# --------------------------------------------------------- Zipf fit (L4/L6)

ZIPF_HEAD = 100  # regress over the top-100 ranks per language (the Zipf head)


@query(
    "text_zipf_slope",
    survey_ref="L4,L6,A7,W1",
    doc="Zipf's-law fit per language: OLS slope of ln(freq) on ln(rank) over the top-100 tokens.",
    oracle=f"""
        WITH tf AS (
            SELECT lang, token, COUNT(*) AS freq
            FROM (
                SELECT lang, unnest({_SQL_TOKENS}) AS token FROM documents
            )
            GROUP BY lang, token
        ),
        ranked AS (
            SELECT lang, freq,
                   row_number() OVER (
                       PARTITION BY lang ORDER BY freq DESC, token
                   ) AS rnk
            FROM tf
            QUALIFY rnk <= {ZIPF_HEAD}
        ),
        pts AS (
            SELECT lang,
                   round(ln(rnk), 9) AS lx,
                   round(ln(freq), 9) AS ly
            FROM ranked
        ),
        s AS (
            SELECT lang, COUNT(*) AS n_ranks,
                   CAST(SUM(CAST(lx AS DECIMAL(28,12))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(ly AS DECIMAL(28,12))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(lx * lx AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(lx * ly AS DECIMAL(28,12))) AS DOUBLE) AS sxy
            FROM pts
            GROUP BY lang
        )
        SELECT lang, n_ranks,
               round((sxy - sx * sy / n_ranks) / (sxx - sx * sx / n_ranks), 4)
                   AS zipf_slope,
               round((sy - (sxy - sx * sy / n_ranks)
                          / (sxx - sx * sx / n_ranks) * sx) / n_ranks, 4)
                   AS zipf_intercept
        FROM s
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law diagnostic per language — natural corpora fit
    ln(freq) ≈ a + s·ln(rank) with s ≈ −1, and a corpus whose slope drifts
    far from that is boilerplate- or spam-skewed, so this is a standing
    corpus-health metric in training-data pipelines. Pipeline: token
    frequencies (explode → partial-agg groupBy), per-language rank window
    with WindowGroupLimit pushdown (rank ≤ 100 keeps only the head — the
    shuffle moves O(100·langs) rows), then an exact-decimal OLS fit in the
    log domain (rounded-ln inputs, IEEE products, decimal co-moment sums —
    the same engine-portable regression idiom as agg_corr_regr)."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(_tokens()).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), F.asc("token"))
    ranked = (
        tf.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= ZIPF_HEAD)
        .select("lang", "freq", "rnk")
    )
    pts = ranked.select(
        "lang",
        F.round(F.log("rnk"), 9).alias("lx"),
        F.round(F.log("freq"), 9).alias("ly"),
    )
    lx, ly = F.col("lx"), F.col("ly")
    s = pts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_ranks"),
        F.sum(lx.cast("decimal(28,12)")).cast("double").alias("sx"),
        F.sum(ly.cast("decimal(28,12)")).cast("double").alias("sy"),
        F.sum((lx * lx).cast("decimal(28,12)")).cast("double").alias("sxx"),
        F.sum((lx * ly).cast("decimal(28,12)")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n_ranks"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    slope = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    return s.select(
        "lang",
        "n_ranks",
        F.round(slope, 4).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 4).alias("zipf_intercept"),
    )


@query(
    "text_vocab_overlap_sources",
    survey_ref="L4,L6,J8,A2",
    doc="Pairwise vocabulary Jaccard between sources — the corpus-drift diagnostic.",
    oracle=f"""
        WITH vocab AS (
            SELECT DISTINCT source, token FROM (
                SELECT source, unnest({_SQL_TOKENS}) AS token FROM documents
            )
        ),
        sizes AS (
            SELECT source, COUNT(*) AS n_tokens FROM vocab GROUP BY source
        ),
        inter AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   COUNT(*) AS n_inter
            FROM vocab a
            JOIN vocab b ON a.token = b.token AND a.source < b.source
            GROUP BY a.source, b.source
        )
        SELECT source_a, source_b, n_inter,
               round(CAST(n_inter AS DOUBLE)
                     / (sa.n_tokens + sb.n_tokens - n_inter), 6) AS vocab_jaccard
        FROM inter
        JOIN sizes sa ON sa.source = source_a
        JOIN sizes sb ON sb.source = source_b
    """,
)
def text_vocab_overlap_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard across corpus sources — the drift/
    contamination diagnostic a mixing pipeline watches (a web snapshot
    whose vocabulary suddenly overlaps a code corpus signals mislabeled
    shards). Dataflow: distinct (source, token) — vocabulary-sized, tiny
    relative to occurrences — then a token-keyed self-join counts each
    pair's intersection WITHOUT materializing per-source token sets on any
    single node; set unions come from |A|+|B|−|A∩B|. At 100 TB this is
    two partial-agg shuffles of the vocabulary plus a broadcast of the
    per-source totals (n_sources rows)."""
    d = load(spark, sf_dir, "documents")
    vocab = d.select("source", F.explode(_tokens()).alias("token")).distinct()
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n_tokens"))
    a = vocab.select(F.col("source").alias("source_a"), "token")
    b = vocab.select(F.col("source").alias("source_b"), "token")
    inter = (
        a.join(b, "token")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_tokens").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_tokens").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_inter",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ).alias("vocab_jaccard"),
        )
    )


# --------------------------------------- verbatim-content source overlap

#: grams present in more than this many sources are corpus-universal
#: boilerplate, not provenance signal — and at thousands of sources a
#: universal phrase would expand into n_sources² pairs. Mirrored in the
#: oracle HAVING so both engines prune identically.
OVERLAP_SRC_MAX = 12


@query(
    "text_source_overlap_grams",
    survey_ref="L4,L1,A2,F4",
    doc="Verbatim-content overlap matrix between sources: shared 8-gram "
    "counts + Jaccard per source pair — the provenance/leakage report "
    "token-vocab overlap can't give (same WORDS is not same CONTENT).",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, source, {_SQL_TOKENS} AS toks FROM documents
        ),
        sp AS (
            SELECT DISTINCT source,
                   array_to_string(
                       list_slice(toks, i, i + {ANCHOR_K} - 1), ' ') AS g
            FROM tok,
                 LATERAL unnest(
                     range(1, length(toks) - {ANCHOR_K} + 2)) AS r(i)
            WHERE length(toks) >= {ANCHOR_K}
        ),
        per_source AS (
            SELECT source, COUNT(*) AS total FROM sp GROUP BY source
        ),
        shared AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   COUNT(*) AS shared_grams
            FROM sp a
            JOIN sp b ON a.g = b.g AND a.source < b.source
            JOIN (
                SELECT g FROM sp GROUP BY g
                HAVING COUNT(*) BETWEEN 2 AND {OVERLAP_SRC_MAX}
            ) ok ON ok.g = a.g
            GROUP BY 1, 2
        )
        SELECT source_a, source_b,
               CAST(shared_grams AS BIGINT) AS shared_grams,
               CAST(pa.total AS BIGINT) AS grams_a,
               CAST(pb.total AS BIGINT) AS grams_b,
               ROUND(CAST(shared_grams AS DOUBLE)
                     / (pa.total + pb.total - shared_grams), 6) AS jaccard
        FROM shared
        JOIN per_source pa ON pa.source = source_a
        JOIN per_source pb ON pb.source = source_b
    """,
)
def text_source_overlap_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources contain the same CONTENT — the corpus-governance
    matrix behind licensing audits, leakage checks between scrape
    batches, and mixture planning (two sources with high verbatim
    overlap should not both be upsampled). text_vocab_overlap_sources
    compares token VOCABULARIES (same words); this compares verbatim
    8-gram content, the same anchor definition as the ExactSubstr pass,
    so a press release syndicated into five sources lights up all ten
    pairs even though every source's vocabulary was already similar.

    Scale shape: ONE corpus-keyed shuffle builds the gram → sorted
    DISTINCT-source inverted index (collect_set dedupes within-source
    repeats map-side — no separate DISTINCT pass), materialized once
    since both outputs derive from it: per-source gram totals re-explode
    the small source sets (bounded by the source count), and pair
    counts expand triangularly inside sets capped at OVERLAP_SRC_MAX
    (corpus-universal phrases are boilerplate, and at thousands of
    sources an uncapped universal gram would expand n_sources² pairs
    per gram — same gate design as the containment DF cap). The
    per-pair count groupBy and the two total joins are matrix-sized
    (n_sources², tiny). Gram keys are xxhash64 LONGs vs the oracle's
    strings — the _ngram_pairs collision-probability precedent."""
    k = ANCHOR_K
    d = load(spark, sf_dir, "documents")
    gram_args = ", ".join(f"element_at(tokens, i + {j})" for j in range(k))
    grams = F.expr(
        f"transform(sequence(1, n_tokens - {k} + 1), i -> xxhash64({gram_args}))"
    )
    # materialize the per-doc gram arrays BEFORE the explode — the same
    # barrier dedup_substring_spans uses, and it is load-bearing: without
    # it CollapseProject substitutes the tokens expression into every
    # element_at reference inside the transform lambda feeding the
    # Generate, re-running the split+filter tokenization per reference
    # (measured 9.9 s vs 0.6 s for the exploded count at sf0.1, 15×).
    arrays = (
        d.select("source", _tokens().alias("tokens"))
        .select("source", "tokens", F.size("tokens").alias("n_tokens"))
        .filter(F.col("n_tokens") >= k)
        .select("source", grams.alias("grams"))
        .localCheckpoint(eager=True)
    )
    sp = arrays.select("source", F.explode("grams").alias("g"))
    # ONE corpus pass builds the gram → distinct-sources inverted index
    # (collect_set dedupes within-source repeats, so no separate DISTINCT
    # shuffle); it is materialized once because BOTH outputs derive from
    # it — per-source totals by re-exploding the small source sets, pair
    # counts from the capped sets. At rest this checkpoint IS the
    # gram-index table a governance stack would persist.
    bygram = (
        sp.groupBy("g")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .localCheckpoint(eager=True)
    )
    per_source = (
        bygram.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    )
    bysrc = bygram.filter(
        (F.size("srcs") >= 2) & (F.size("srcs") <= OVERLAP_SRC_MAX)
    )
    pair_expr = F.expr(
        "flatten(transform(sequence(1, size(srcs) - 1), "
        "i -> transform(sequence(i + 1, size(srcs)), "
        "j -> struct(element_at(srcs, i) AS source_a, "
        "element_at(srcs, j) AS source_b))))"
    )
    shared = (
        bysrc.select(F.explode(pair_expr).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_grams"))
    )
    return (
        shared.join(
            per_source.select(
                F.col("source").alias("source_a"), F.col("total").alias("grams_a")
            ),
            "source_a",
        )
        .join(
            per_source.select(
                F.col("source").alias("source_b"), F.col("total").alias("grams_b")
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            "grams_a",
            "grams_b",
            F.round(
                F.col("shared_grams").cast("double")
                / (F.col("grams_a") + F.col("grams_b") - F.col("shared_grams")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# RAG-ingestion chunker: fixed-window sliding chunks with stable ids.

#: chunk window (tokens) and stride — 25% overlap. Production RAG uses
#: ~512/384; these are scaled to the driver corpus's ~10-100-token docs
#: so the multi-chunk and overlap paths actually execute (and get
#: oracle-checked) at test scale — the formula is parameter-independent.
_CHUNK_W = 32
_CHUNK_S = 24


@query(
    "text_chunk_sliding",
    survey_ref="L4,F4,F7,P1",
    doc="Sliding-window RAG chunker: fixed-size overlapping token chunks "
    "with stable ids and content hashes.",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS tokens
            FROM documents
        ),
        sized AS (
            SELECT doc_id, tokens, length(tokens) AS n
            FROM toks WHERE length(tokens) >= 1
        ),
        chunks AS (
            SELECT doc_id, n,
                   unnest(range(0, CASE WHEN n <= {_CHUNK_W} THEN 1
                       ELSE CAST(ceil(CAST(n - {_CHUNK_W} AS DOUBLE) / {_CHUNK_S})
                            AS BIGINT) + 1 END)) AS chunk_idx,
                   tokens
            FROM sized
        )
        SELECT doc_id,
               CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(chunk_idx * {_CHUNK_S} + 1 AS BIGINT) AS start_tok,
               CAST(least({_CHUNK_W}, n - chunk_idx * {_CHUNK_S}) AS BIGINT)
                   AS n_tok,
               md5(array_to_string(
                   tokens[chunk_idx * {_CHUNK_S} + 1 :
                          chunk_idx * {_CHUNK_S}
                          + least({_CHUNK_W}, n - chunk_idx * {_CHUNK_S})],
                   ' ')) AS chunk_sha
        FROM chunks
    """,
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval-ingestion primitive: split every document into
    fixed-window token chunks with 25% overlap (window _CHUNK_W, stride _CHUNK_S),
    emitting a stable (doc_id, chunk_idx) key, the token span, and an
    md5 content hash — the id/embedding-input layout a vector-index
    build consumes. Chunk text itself is NOT emitted (hash instead):
    the driver canonicalizer and a 100 TB shuffle both prefer 32 bytes
    to a re-copied corpus; downstream embedding reads the span from the
    checkpointed arrays.

    Scale shape: per-doc token arrays are localCheckpoint'd BEFORE the
    chunk-index explode (the r5/r6 Generate-recompute rule — the slice
    projection above the Generate references the array per OUTPUT row,
    which on the unmaterialized form would re-run tokenization per
    chunk); the explode itself generates ~n/stride small rows per doc,
    linear in corpus tokens, no shuffle at all — chunking is a pure
    map-side Generate and the output partitioning inherits the scan's.
    """
    d = load(spark, sf_dir, "documents")
    arrays = (
        d.select("doc_id", _tokens().alias("tokens"))
        .filter(F.size("tokens") >= 1)
        .localCheckpoint(eager=True)
    )
    n = F.size("tokens")
    k = (
        F.when(n <= _CHUNK_W, F.lit(1))
        .otherwise(
            F.ceil((n - _CHUNK_W).cast("double") / _CHUNK_S).cast("bigint") + 1
        )
    )
    sized = arrays.select("doc_id", "tokens", n.alias("n"), k.alias("k"))
    start = F.col("chunk_idx") * _CHUNK_S  # 0-based offset
    n_tok = F.least(F.lit(_CHUNK_W), F.col("n") - start)
    return (
        sized.select(
            "doc_id",
            "tokens",
            "n",
            F.explode(F.sequence(F.lit(0), F.col("k") - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            (start + 1).cast("bigint").alias("start_tok"),
            n_tok.cast("bigint").alias("n_tok"),
            F.md5(
                F.concat_ws(" ", F.slice(F.col("tokens"), (start + 1).cast("int"), n_tok.cast("int")))
            ).alias("chunk_sha"),
        )
    )


@query(
    "text_tokenizer_fertility",
    survey_ref="L4,L6,A1,F3",
    doc="Tokenizer fertility table: chars/bytes per word and per subword "
    "piece, by language — the chars-to-tokens conversion planning input.",
    oracle=f"""
        WITH per_doc AS (
            SELECT lang,
                   length(text) AS n_chars,
                   octet_length(CAST(text AS BLOB)) AS n_bytes,
                   length({_SQL_TOKENS}) AS n_words,
                   list_sum(list_transform({_SQL_TOKENS},
                        t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS n_pieces
            FROM documents
            WHERE length({_SQL_TOKENS}) >= 1
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars,
               CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
               CAST(SUM(n_words) AS BIGINT) AS n_words,
               CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
               round(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_words), 6)
                   AS chars_per_word,
               round(CAST(SUM(n_bytes) AS DOUBLE) / SUM(n_pieces), 6)
                   AS bytes_per_piece,
               round(CAST(SUM(n_pieces) AS DOUBLE) / SUM(n_words), 6)
                   AS fertility
        FROM per_doc
        GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conversion table that turns char budgets into token budgets:
    per language, total chars/bytes/words/subword pieces and the derived
    rates — chars per word, bytes per piece, and FERTILITY (pieces per
    word), the number multilingual tokenizer papers report to show which
    languages pay more tokens for the same text. Feeds directly into
    data_mixture_budget_plan / data_epoch_allocation, whose char budgets
    divide by these rates to become token budgets.

    All counters are exact integers (the ratios are the only doubles —
    one division of identical BIGINTs per group, rounded per contract);
    byte length uses the UTF-8 encoding on both engines. One map-side
    projection + one lang-keyed partial aggregate; output is
    language-domain-sized at any corpus scale."""
    d = load(spark, sf_dir, "documents")
    tokens = _tokens()
    per_doc = d.select(
        "lang",
        F.length("text").alias("n_chars"),
        F.octet_length("text").alias("n_bytes"),
        F.size(tokens).alias("n_words"),
        F.aggregate(
            tokens,
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("bigint"),
        ).alias("n_pieces"),
    ).filter(F.col("n_words") >= 1)
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.sum("n_bytes").cast("bigint").alias("n_bytes"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.sum("n_pieces").cast("bigint").alias("n_pieces"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("n_words"), 6
        ).alias("chars_per_word"),
        F.round(
            F.sum("n_bytes").cast("double") / F.sum("n_pieces"), 6
        ).alias("bytes_per_piece"),
        F.round(
            F.sum("n_pieces").cast("double") / F.sum("n_words"), 6
        ).alias("fertility"),
    )


# ---------------------------------------------------------------------------
# Term burstiness — the index-of-dispersion statistic that separates
# "bursty" content terms (clumped into few docs) from uniformly spread
# function words; feeds stopword inference and keyword weighting.

_BURSTINESS_ORACLE = f"""
    WITH tf AS (
        SELECT doc_id, unnest({_SQL_TOKENS}) AS term
        FROM documents
    ), per_doc AS (
        SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tf GROUP BY term, doc_id
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           round(CAST(SUM(tf) AS DOUBLE) / COUNT(*), 6) AS mean_tf,
           round(CAST(COUNT(*) * SUM(tf * tf) - SUM(tf) * SUM(tf) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * COUNT(*) * SUM(tf))
                 * COUNT(*), 6) AS burstiness
    FROM per_doc
    GROUP BY term
    HAVING COUNT(*) >= 5
"""


@query(
    "text_term_burstiness",
    survey_ref="L4,L6,A7",
    doc="Per-term burstiness (variance-to-mean of in-doc frequency over "
    "containing docs) — separates clumped content terms from uniform "
    "function words.",
    oracle=_BURSTINESS_ORACLE,
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion per term: over the docs CONTAINING a term,
    burstiness = Var(tf)/Mean(tf) (population variance). ≈1 means
    Poisson-like scatter (function words); ≫1 means the term clumps
    into few docs (content/topic words) — Church & Gale's burstiness,
    the statistic behind data-driven stopword lists and BM25-style
    saturation. Both moments come from exact BIGINT sums (Σtf, Σtf²),
    composed as (n·Σtf² − (Σtf)²)/(n·Σtf) in ONE double expression with
    the same operation order on both engines, rounded per contract.

    Scale: explode → (term, doc) partial-count → term-keyed moment agg;
    two token-keyed shuffles, output vocab-bounded (df ≥ 5 gate). The
    per-doc tf table is the same shape text_tfidf_vocab shuffles, so at
    100 TB the two share a cached/bucketed intermediate."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens()).alias("term"))
    per_doc = tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    n = F.count(F.lit(1))
    s1 = F.sum("tf")
    s2 = F.sum(F.col("tf") * F.col("tf"))
    return (
        per_doc.groupBy("term")
        .agg(
            n.cast("bigint").alias("df"),
            s1.cast("bigint").alias("total_tf"),
            F.round(s1.cast("double") / n, 6).alias("mean_tf"),
            F.round(
                (n * s2 - s1 * s1).cast("double")
                / (n.cast("double") * n * s1)
                * n,
                6,
            ).alias("burstiness"),
        )
        .filter(F.col("df") >= 5)
    )


# ---------------------------------------------------------------------------
# Nucleus (top-p) vocabulary coverage — the tokenizer-design statistic.

_NUCLEUS_P = 0.9

_NUCLEUS_ORACLE = f"""
    WITH tok AS (
        SELECT lang, unnest({_SQL_TOKENS}) AS token
        FROM documents
    ), freq AS (
        SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY lang, token
    ), ranked AS (
        SELECT lang, tf,
               SUM(tf) OVER (PARTITION BY lang
                   ORDER BY tf DESC, token
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(tf) OVER (PARTITION BY lang) AS total
        FROM freq
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(MAX(total) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) FILTER (WHERE cum - tf < {_NUCLEUS_P} * total)
                AS BIGINT) AS nucleus_size,
           round(CAST(COUNT(*) FILTER (WHERE cum - tf < {_NUCLEUS_P} * total)
                      AS DOUBLE) / COUNT(*), 6) AS nucleus_frac
    FROM ranked
    GROUP BY lang
"""


@query(
    "text_nucleus_vocab",
    survey_ref="L6,L4,W3,A5",
    doc="Nucleus (top-p) vocabulary size per language: how many distinct "
    "tokens cover 90% of the token mass — the tokenizer-design statistic.",
    oracle=_NUCLEUS_ORACLE,
)
def text_nucleus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p coverage of the unigram distribution: tokens sorted by
    frequency (token-text tiebreak — total order), a token is inside
    the p=0.9 nucleus iff the mass BEFORE it is < p·total (the standard
    smallest-covering-set rule, matching nucleus sampling's cutoff).
    A tiny nucleus_frac means a head-heavy distribution (good BPE merge
    candidates / aggressive vocab truncation is safe); ≈1 means a flat
    tail. Complements text_zipf_slope (the power-law exponent) with the
    actionable integer a vocab designer needs.

    Determinism: the cumulative is an exact BIGINT running sum under a
    total order; the p·total comparison multiplies exact integers by
    the literal 0.9 identically in both engines. Scale: token-keyed
    partial count, then lang-partitioned windows over the vocab-sized
    frequency table (vocab ≪ corpus; the window never sees raw
    tokens), one final lang agg."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(_tokens()).alias("token"))
    freq = tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    wcum = (
        Window.partitionBy("lang")
        .orderBy(F.desc("tf"), F.asc("token"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("lang").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = freq.select(
        "lang",
        "tf",
        F.sum("tf").over(wcum).alias("cum"),
        F.sum("tf").over(wall).alias("total"),
    )
    in_nucleus = (F.col("cum") - F.col("tf")) < _NUCLEUS_P * F.col("total")
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.max("total").cast("bigint").alias("total_tokens"),
        F.count_if(in_nucleus).cast("bigint").alias("nucleus_size"),
        F.round(
            F.count_if(in_nucleus).cast("double") / F.count(F.lit(1)), 6
        ).alias("nucleus_frac"),
    )


# ----------------------------------------------------------- BM25 retrieval

BM25_K1 = 1.2  # term-frequency saturation (Robertson-Sparck Jones defaults)
BM25_B = 0.75  # length normalization
BM25_QUERY_MOD = 97  # query set: doc_id % 97 == 0 (~1% of the corpus)
BM25_TERMS = 8  # rarest distinct terms per query doc
BM25_TOPK = 5

#: shared CTE block: per-doc tf, corpus df, doc lengths, the query-term
#: table (rarest BM25_TERMS informative terms per query doc) and the
#: decimal-summed BM25 score per (query, candidate) pair. Reused verbatim
#: by sim_rrf_hybrid_fusion's oracle.
BM25_CTES = f"""
    btoks AS (
        SELECT doc_id, {_SQL_TOKENS} AS tokens FROM documents
    ),
    bstats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(length(tokens)) AS BIGINT) AS total_tokens
        FROM btoks
    ),
    btf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(tokens) AS token FROM btoks)
        GROUP BY doc_id, token
    ),
    bdf AS (SELECT token, COUNT(*) AS df FROM btf GROUP BY token),
    bdl AS (SELECT doc_id, length(tokens) AS dl FROM btoks),
    bqt AS (
        SELECT query_id, token, idf FROM (
            SELECT t.doc_id AS query_id, t.token, s.n_docs,
                   ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) AS idf,
                   row_number() OVER (
                       PARTITION BY t.doc_id ORDER BY d.df ASC, t.token ASC
                   ) AS rn,
                   SUM(d.df) OVER (
                       PARTITION BY t.doc_id ORDER BY d.df ASC, t.token ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_df
            FROM btf t JOIN bdf d ON d.token = t.token, bstats s
            WHERE t.doc_id % {BM25_QUERY_MOD} = 0 AND d.df >= 2
        ) WHERE rn <= {BM25_TERMS} AND (rn = 1 OR cum_df <= n_docs)
    ),
    bscore AS (
        SELECT q.query_id, f.doc_id AS neighbor_id,
               CAST(SUM(CAST(
                   q.idf * ((f.tf * 2.2) / (f.tf + 1.2 * (0.25 + 0.75 *
                       (l.dl / (CAST(s.total_tokens AS DOUBLE) / s.n_docs)))))
               AS DECIMAL(28,6))) AS DOUBLE) AS score
        FROM bqt q
        JOIN btf f ON f.token = q.token AND f.doc_id <> q.query_id
        JOIN bdl l ON l.doc_id = f.doc_id, bstats s
        GROUP BY q.query_id, f.doc_id
    )
"""


@query(
    "text_bm25_topk",
    survey_ref="L3,L4,L6,W4",
    doc="BM25 ranked retrieval: rarest-8-term queries from every 97th doc, "
    "top-5 candidates by Robertson-Sparck Jones scoring.",
    oracle=f"""
        WITH {BM25_CTES}
        SELECT query_id, neighbor_id, round(score, 4) AS bm25, rn AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
            ) AS rn
            FROM bscore
        )
        WHERE rn <= {BM25_TOPK}
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval (k1=1.2, b=0.75) on a workload the
    oracle can replay: every BM25_QUERY_MOD-th document queries the
    corpus, top BM25_TOPK other documents each (``_bm25_doc_topk``).

    Each query takes up to BM25_TERMS of its RAREST informative terms
    (df ≥ 2, df-ascending — rare terms carry the retrieval signal) under
    a per-query POSTING BUDGET: terms are admitted while the running Σdf
    of admitted terms stays ≤ n_docs, and the single rarest term is
    always admitted. A fixed df ceiling (df·10 ≤ n_docs) was vacuous on
    the driver corpus (31-token vocabulary, 0 result rows at sf0.01 and
    sf0.1): it assumes a Zipfian vocabulary, and this corpus has none.
    The budget bounds a query's probes at ≤ n_docs + df(rarest) posting
    entries, a degenerate all-stopword document probes ONE list, and on
    a Zipfian vocabulary it admits all 8 terms.

    Scale: |Q| grows with the corpus (1/97 sample) and each query's
    budget with n_docs, so this declared workload is ~quadratic on the
    non-Zipfian corpus — the price of a self-contained oracle workload.
    Its query-term table (~N/97 × ≤ 8 rows, ~N/750 bytes) is what
    ``bm25_query`` broadcasts, fine to ~10 GB corpora on an 8 GB
    driver. A real query set does not grow with the corpus
    (``bm25_search``)."""
    return _bm25_doc_topk(spark, sf_dir, BM25_TOPK)


def _bm25_doc_topk(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """(query_id, neighbor_id, bm25, rank): ``bm25_query`` over the
    documents table for the declared corpus-derived queries (see
    text_bm25_topk), top-``k`` documents other than the query's own.
    Shared by text_bm25_topk and the RRF lexical pool (_lex_ranked).

    The query-term table reads the index's tf, df and stats, so the
    corpus is tokenized once. A query document holds all its own terms:
    it is either in its own top k+1 or outscored by k others, so the
    query ranks k+1, drops the query's own row and renumbers."""
    index = bm25_index(load(spark, sf_dir, "documents"))
    w_q = Window.partitionBy("query").orderBy(F.asc("df"), F.asc("token"))
    w_cum = w_q.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    qt = (
        index.tf.filter(F.col("doc_id") % BM25_QUERY_MOD == 0)
        .select(F.col("doc_id").alias("query"), "token")
        .join(index.df.filter(F.col("df") >= 2), "token")
        .crossJoin(F.broadcast(index.stats.select("n_docs")))
        .withColumn("rn", F.row_number().over(w_q))
        .withColumn("cum_df", F.sum("df").over(w_cum))
        .filter(
            (F.col("rn") <= BM25_TERMS)
            & ((F.col("rn") == 1) | (F.col("cum_df") <= F.col("n_docs")))
        )
        .select("query", "token")
    )
    w = Window.partitionBy("query_id").orderBy("rank")
    return (
        bm25_query(index, qt, k=k + 1, id_col="neighbor_id")
        .withColumnRenamed("query", "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


class BM25Index(NamedTuple):
    """``bm25_index``'s corpus-side state."""

    #: (doc_id, token, tf, dl_ratio): term counts with each doc's length
    #: over the corpus mean length (dl/avgdl)
    tf: DataFrame
    #: one row (n_docs, total_tokens)
    stats: DataFrame
    #: (token, df, idf): document frequency and BM25 idf of each corpus token
    df: DataFrame


#: the columns ``bm25_query`` reads; it reads no ``stats``
_BM25_INDEX_COLS = {
    "tf": ("doc_id", "token", "tf", "dl_ratio"),
    "df": ("token", "df", "idf"),
}


def bm25_index(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> BM25Index:
    """Build step of ``bm25_search``: the corpus tf table (with dl/avgdl),
    the one-row stats and the df table (with idf), all from ONE corpus
    pass. Tokens are the non-empty pieces of a split on single spaces.

    The (doc_id, token, tf, dl) count table is built once and every
    consumer — df counts, a query-term build, the probe and the corpus
    stats — reads it; without the cut each would re-plan the
    scan→tokenize→explode→aggregate chain and shuffle its own tf-sized
    aggregate. dl rides through the tf aggregation (min over the per-doc
    constant) instead of a doc_id-keyed join back.
    The stats fold over the same table: ``explode_outer`` keeps one
    (doc_id, NULL) row per zero-token document, so n_docs counts every
    document and Σdl sums every size(tokens); NULL-token rows are inert
    elsewhere, since every consumer reaches tf through an equi-join on
    ``token``. The one-row stats are cut too, so their two consumers (idf
    into df, dl/avgdl into tf) do not each re-aggregate the counts. At
    100 TB that trades one (doc, term)-sized local write for four corpus
    passes. idf and dl/avgdl are the expressions ``bm25_query``'s formula
    names, each over a scalar subquery of the stats, so a query reads no
    stats and the fold adds no cut, join or eager job; a consumer that
    does not read a folded column does not run its subquery.

    The three cut points are ``localCheckpoint(eager=False)``: no cut
    stores rows until the first action that reads the index, and every
    later query reads the stored tables. Under AQE a cut does run its
    plan's shuffle stages when it is made, so building even a one-shot
    index+query frame starts those jobs.

    Reuse: ``bm25_search`` keeps the tf and df tables of a PERSISTED
    ``docs`` (``serving.built_for``, which materializes each, as one
    partition when small) for as long as the same Spark cache entry
    backs it; after ``unpersist()``, ``spark.catalog.clearCache()`` or a
    re-cache it builds a fresh one, and an unpersisted ``docs`` is never
    memoized. Call bm25_index directly to hold an index yourself."""
    require_columns("bm25_index", "docs", docs, (id_col, text_col))
    counts = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.filter(F.split(F.col(text_col), " "), lambda t: t != "").alias("tokens"),
        )
        .withColumn("dl", F.size("tokens").cast("bigint"))
        .select("doc_id", "dl", F.explode_outer("tokens").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl"))
        .localCheckpoint(eager=False)
    )
    stats = (
        counts.groupBy("doc_id")
        .agg(F.min("dl").alias("dl"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").cast("bigint").alias("total_tokens"),
        )
        .localCheckpoint(eager=False)
    )
    dfr = counts.groupBy("token").agg(F.count(F.lit(1)).alias("df")).localCheckpoint(eager=False)
    avgdl = stats.select(F.col("total_tokens").cast("double") / F.col("n_docs")).scalar()
    n_docs = stats.select("n_docs").scalar()
    return BM25Index(
        counts.select("doc_id", "token", "tf", (F.col("dl") / avgdl).alias("dl_ratio")),
        stats,
        dfr.select(
            "token",
            "df",
            F.log((n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0).alias("idf"),
        ),
    )


def bm25_query(
    index: BM25Index,
    queries: list[str] | DataFrame,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
) -> DataFrame:
    """Score step of ``bm25_search``: rank the indexed corpus against
    ``queries`` and return (query, <id_col>, bm25, rank), top-``k`` docs
    per query. ``queries`` is a list of query strings (each scored by
    its distinct space-separated terms) or a DataFrame of (query, token)
    rows, one per distinct term of a query; that ``query`` column may
    have any type. Reads only the queries and ``index``
    (``bm25_index``'s), so one index serves any number of queries:
    ``bm25_search`` passes the index it keeps for a persisted corpus
    until that corpus's cache entry changes (see bm25_index). Raises
    ValueError when ``queries`` is neither a list of strings nor a frame
    with those columns, or the index lacks its expected columns.

    Score: Σ over matched terms of idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/
    avgdl)), idf = ln(1+(N−df+½)/(df+½)); idf and dl/avgdl come
    precomputed in the index. tf/df/dl are integers, the one libm call
    (ln) follows the text_tfidf_vocab precedent, and the per-(query,
    doc) sum runs through DECIMAL(28,6) (functions/numeric.py
    discipline) so partial-aggregation order cannot move the result.

    Plan: the query terms join df for their idf and broadcast into the
    tf probe; the per-(query, doc) aggregate and the top-k window
    follow. Against a one-partition index (a served
    corpus, see bm25_index) neither needs an exchange. Query strings
    become literal rows on the JVM, so they start no Python task, and the
    planner, which knows their size, broadcasts them into the df join
    rather than df."""
    if isinstance(queries, DataFrame):
        require_columns("bm25_query", "queries", queries, ("query", "token"))
        qterms = queries.select("query", "token")
    elif isinstance(queries, str) or not all(isinstance(q, str) for q in queries):
        raise ValueError(f"bm25_query: queries must be a list of strings, got {queries!r}")
    else:
        # literal structs inlined on the JVM: a frame made from a Python
        # list would run a Python worker task and carry no size estimate
        terms = [
            F.struct(F.lit(q).alias("query"), F.lit(t).alias("token"))
            for q in queries
            for t in dict.fromkeys(w for w in q.split(" ") if w)
        ]
        qterms = index.tf.sparkSession.range(1, numPartitions=1).select(
            F.inline(F.array(*terms).cast("array<struct<query:string,token:string>>"))
        )
    for name, cols in _BM25_INDEX_COLS.items():
        require_columns("bm25_query", f"index.{name}", getattr(index, name), cols)
    qt = qterms.join(index.df, "token").select("query", "token", "idf")
    contrib = F.col("idf") * (
        (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl_ratio"))
        )
    )
    scored = (
        index.tf.join(F.broadcast(qt), "token")
        .select("query", "doc_id", contrib.alias("c"))
        .groupBy("query", "doc_id")
        .agg(F.sum(F.col("c").cast("decimal(28,6)")).cast("double").alias("score"))
    )
    w = Window.partitionBy("query").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query",
            F.col("doc_id").alias(id_col),
            F.round("score", 4).alias("bm25"),
            "rank",
        )
    )


def bm25_search(
    docs: DataFrame,
    queries: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """PRODUCTION BM25 entry point: rank ``docs`` against ad-hoc query
    STRINGS, ``bm25_query(bm25_index(docs), queries)`` (the declared
    ``text_bm25_topk`` query fixes its workload to corpus-derived queries
    so a DuckDB oracle can replay it, and applies a Σdf posting budget to
    its auto-selected terms; ad-hoc user terms here are kept regardless
    of df — silently dropping a user's common term would be surprising,
    and a user query has ~few terms, not a corpus of them). Returns
    (query, <id_col>, bm25, rank) — top-``k`` docs per query string.

    Build once, serve many: when ``docs`` is persisted, its index is
    built once and reused by every later call for as long as the same
    Spark cache entry backs ``docs`` (see bm25_index and
    serving.built_for); an unpersisted ``docs`` is indexed in the same
    plan as the scoring.

    Same scale shape as the declared query: one tokenize+explode+combine
    builds the (doc, token, tf) table; the query-term table — |queries| ×
    their distinct whitespace tokens, literal rows made on the JVM from
    plain strings — BROADCASTS to it, so the corpus-sized side never shuffles
    to be probed; per-(query,doc) partial-aggregated sum; top-k is a
    WindowGroupLimit. Unmatched query terms contribute nothing (df from
    the corpus; terms absent from the corpus have no tf rows); a query
    with no matching term returns no rows."""
    index = built_for(
        docs,
        ("bm25_index", id_col, text_col),
        # bm25_query reads no stats: holding them would store a table no
        # request reads
        lambda: bm25_index(docs, id_col=id_col, text_col=text_col)._replace(stats=None),
    )
    return bm25_query(index, queries, k=k, k1=k1, b=b, id_col=id_col)


# --------------------------------------------- BPE merge-loop trainer (L6)

#: fixed merge rounds so a DuckDB oracle can unroll the loop (the
#: PageRank/k-core parity strategy applied to tokenizer training).
BPE_ROUNDS = 6
#: end-of-word marker appended to every word's character stream — the
#: classic Sennrich et al. 2016 formulation, so merges can distinguish
#: word-final from word-internal contexts.
BPE_EOW = "</w>"


def _bpe_merge_sql(k: int) -> str:
    """The greedy non-overlapping merge tail shared by the TRAINED
    rounds (argmax b{k}) and the FIXED-merge rounds of the r11
    bpe_apply oracle — the SQL mirror of _bpe_merge_with being shared
    between _bpe_merge_round and bpe_apply, so the two oracle forms
    cannot drift either."""
    prev = f"s{k - 1}"
    return f""",
    m{k} AS (
        SELECT word, cnt, p, s, b.l AS bl, b.r AS br,
               (s = b.l AND lead(s) OVER (PARTITION BY word ORDER BY p) = b.r) AS m
        FROM {prev} CROSS JOIN b{k} b
    ),
    g{k} AS (
        SELECT *, CASE WHEN m THEN p - SUM(CASE WHEN m THEN 1 ELSE 0 END)
            OVER (PARTITION BY word ORDER BY p ROWS UNBOUNDED PRECEDING) END AS grp
        FROM m{k}
    ),
    sel{k} AS (
        SELECT *, (m AND (p - MIN(CASE WHEN m THEN p END)
            OVER (PARTITION BY word, grp)) % 2 = 0) AS sel
        FROM g{k}
    ),
    sk{k} AS (
        SELECT *, COALESCE(LAG(sel) OVER (PARTITION BY word ORDER BY p), false) AS skip
        FROM sel{k}
    ),
    s{k} AS MATERIALIZED (
        SELECT word, cnt,
               row_number() OVER (PARTITION BY word ORDER BY p) AS p,
               CASE WHEN sel THEN bl || br ELSE s END AS s
        FROM sk{k} WHERE NOT skip
    )"""


def _bpe_round_sql(k: int) -> str:
    """One TRAINED round: argmax pair selection + the shared merge."""
    prev = f"s{k - 1}"
    return f""",
    pr{k} AS (
        SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS c FROM (
            SELECT word, cnt, s AS l,
                   lead(s) OVER (PARTITION BY word ORDER BY p) AS r
            FROM {prev}
        ) WHERE r IS NOT NULL GROUP BY l, r
    ),
    b{k} AS (SELECT l, r, c FROM pr{k} ORDER BY c DESC, l ASC, r ASC LIMIT 1)""" + _bpe_merge_sql(k)


def _bpe_fixed_round_sql(k: int, left: str, right: str) -> str:
    """One FIXED-merge round (the bpe_apply replay): the pair is a
    constant instead of the corpus argmax; the merge algebra is the
    identical shared tail."""
    return f""",
    b{k} AS (SELECT '{left}' AS l, '{right}' AS r)""" + _bpe_merge_sql(k)


def _bpe_stream_ctes() -> str:
    """The frequency-weighted word-type positional symbol stream (wt +
    s0) — the input both the trained rounds and the r11 fixed-merge
    replay rounds consume."""
    return f"""
    wt AS (
        SELECT t AS word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest({_SQL_TOKENS}) AS t FROM documents)
        GROUP BY t
    ),
    s0 AS MATERIALIZED (
        SELECT word, cnt, i AS p, chars[i] AS s
        FROM (SELECT word, cnt,
                     list_concat(string_split(word, ''), ['{BPE_EOW}']) AS chars
              FROM wt),
             unnest(range(1, length(chars) + 1)) AS u(i)
    )"""


def _bpe_ctes(rounds: int = BPE_ROUNDS) -> str:
    """The word-type stream + unrolled merge rounds, shared by the
    trainer oracle and the encode oracle (s{BPE_ROUNDS} IS the encoded
    corpus — applying a trained BPE is replaying its merges). ``rounds``
    parameterizes the unroll depth (r12: the bpe_train library router
    trains at a non-default count)."""
    return _bpe_stream_ctes() + "".join(
        _bpe_round_sql(k) for k in range(1, rounds + 1)
    )


def _bpe_oracle(rounds: int = BPE_ROUNDS) -> str:
    ctes = _bpe_ctes(rounds)
    final = " UNION ALL ".join(
        f"""SELECT {k} AS round, l AS left_sym, r AS right_sym, c AS pair_count,
            (SELECT CAST(COUNT(DISTINCT s) AS BIGINT) FROM s{k}) AS n_symbols_after,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM s{k}) AS n_positions_after
            FROM b{k}"""
        for k in range(1, rounds + 1)
    )
    return f"WITH {ctes}\n    SELECT * FROM ({final}) ORDER BY round"


def _bpe_merge_round(s_prev: DataFrame):
    """One BPE training round on the positional symbol stream
    (word, cnt, p, s) → (best-merge 1-row frame, merged stream).

    The greedy left-to-right non-overlapping merge is expressed
    RELATIONALLY instead of as a per-word fold: match flags via lead(),
    consecutive match runs identified by p − running-match-count (the
    gaps-and-islands idiom), alternate members of each run selected
    (`(p − run_start) % 2 = 0` — exactly the positions a sequential
    scanner would consume), consumed successors dropped via lag(). No
    lambda fold, no UDF — both engines run the identical window
    algebra, which is what makes a DuckDB oracle possible at all
    (DuckDB's list_reduce cannot accumulate an array)."""
    w = Window.partitionBy("word").orderBy("p")
    pairs = s_prev.select(
        "word", "cnt", F.col("s").alias("l"), F.lead("s").over(w).alias("r")
    )
    best = (
        pairs.filter(F.col("r").isNotNull())
        .groupBy("l", "r")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
        .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
        .limit(1)
    )
    return best, _bpe_merge_with(s_prev, best)


def _bpe_merge_with(
    s_prev: DataFrame, best: DataFrame | tuple[str, str]
) -> DataFrame:
    """Apply ONE fixed merge pair to the positional symbol stream — the
    merge half of _bpe_merge_round, shared with the production
    ``bpe_apply`` so training and replay cannot drift apart. ``best``
    is a 1-row (l, r) frame when the pair is DATA-dependent (the
    trainer's per-round argmax, which must be broadcast-joined), or a
    plain (left, right) tuple when it is a compile-time constant
    (``bpe_apply`` replaying a shipped merge table) — the literal form
    keeps the whole replay one lazy plan with no per-round broadcast
    exchange (r14, guide §2.4); the window algebra below is byte-
    identical for both."""
    w = Window.partitionBy("word").orderBy("p")
    if isinstance(best, tuple):
        base = s_prev.withColumns(
            {"bl": F.lit(best[0]), "br": F.lit(best[1])}
        )
    else:
        base = s_prev.crossJoin(
            F.broadcast(
                best.select(F.col("l").alias("bl"), F.col("r").alias("br"))
            )
        )
    m = base.withColumn(
        "m", (F.col("s") == F.col("bl")) & (F.lead("s").over(w) == F.col("br"))
    )
    idx = F.sum(F.when(F.col("m"), 1).otherwise(0)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = m.withColumn("grp", F.when(F.col("m"), F.col("p") - idx))
    min_p = F.min(F.when(F.col("m"), F.col("p"))).over(
        Window.partitionBy("word", "grp")
    )
    sel = g.withColumn(
        "sel", F.col("m") & (((F.col("p") - min_p) % 2) == 0)
    ).withColumn("skip", F.coalesce(F.lag("sel").over(w), F.lit(False)))
    return (
        sel.filter(~F.col("skip"))
        .select(
            "word",
            "cnt",
            F.row_number().over(w).alias("p"),
            F.when(F.col("sel"), F.concat("bl", "br")).otherwise(F.col("s")).alias("s"),
        )
    )


@query(
    "text_bpe_merge_train",
    survey_ref="L6,W2,A1,F1",
    doc="BPE tokenizer TRAINING: 6 greedy merge rounds over the "
    "frequency-weighted word-type table — merge table + vocab "
    "trajectory, oracle-unrolled.",
    oracle=_bpe_oracle(),
)
def text_bpe_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``bpe_train`` over the documents table at its defaults: the merge
    table of BPE_ROUNDS greedy rounds, (round, merged pair, frequency)
    plus the vocabulary-size and stream-length trajectory after each
    merge. The oracle unrolls the same rounds (``_bpe_ctes``)."""
    return bpe_train(load(spark, sf_dir, "documents"))


# ------------------------------- CCNet reference-perplexity buckets (L4/L6)

#: the curated reference source the quality LM trains on (the same
#: "target domain" convention as datapipe's DSIR pass).
CCNET_REF_SOURCE = "src0"


@query(
    "text_ccnet_perplexity_buckets",
    survey_ref="L4,L6,W1,A1",
    doc="CCNet-style quality split: bigram LM trained on the curated "
    "reference source scores every other doc; per-language perplexity "
    "terciles label head/middle/tail.",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, lang, source, {_SQL_TOKENS} AS tokens
            FROM documents
            WHERE length({_SQL_TOKENS}) >= 2
        ),
        ref AS (SELECT * FROM tok WHERE source = '{CCNET_REF_SOURCE}'),
        tgt AS (SELECT * FROM tok WHERE source <> '{CCNET_REF_SOURCE}'),
        rbig AS (
            SELECT tokens[i] AS w1, tokens[i + 1] AS w2
            FROM ref, LATERAL unnest(range(1, length(tokens))) AS r(i)
        ),
        big_cnt AS (SELECT w1, w2, COUNT(*) AS c12 FROM rbig GROUP BY w1, w2),
        left_cnt AS (SELECT w1, COUNT(*) AS c1 FROM rbig GROUP BY w1),
        vocab AS (
            SELECT COUNT(DISTINCT t) AS v
            FROM (SELECT unnest(tokens) AS t FROM ref)
        ),
        tbig AS (
            SELECT doc_id, lang, tokens[i] AS w1, tokens[i + 1] AS w2
            FROM tgt, LATERAL unnest(range(1, length(tokens))) AS r(i)
        ),
        ccnet_scored AS (
            SELECT doc_id, lang,
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   CAST(SUM(CAST(-ln((COALESCE(c12, 0) + 1.0)
                                     / (COALESCE(c1, 0) + v))
                        AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_nll
            FROM tbig
            LEFT JOIN big_cnt USING (w1, w2)
            LEFT JOIN left_cnt USING (w1)
            CROSS JOIN vocab
            GROUP BY doc_id, lang
        )
        SELECT doc_id, lang, n_bigrams, avg_nll,
               CASE ntile(3) OVER (PARTITION BY lang
                                   ORDER BY avg_nll ASC, doc_id ASC)
                    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
               END AS bucket
        FROM ccnet_scored
    """,
)
def text_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet quality split (Wenzek et al. 2020): a language model
    trained on a CURATED reference corpus scores every candidate doc;
    per language, candidates are cut into perplexity terciles — head
    (closest to the reference distribution, kept), middle, tail
    (usually dropped or down-sampled). Differs from
    text_bigram_lm_score in the one way that matters for data curation:
    the model is trained on the REFERENCE source only and applied
    OUT-OF-DOMAIN, so out-of-vocabulary bigrams back off to the add-one
    floor −ln(1/(c1+V)) via null-coalesced left joins rather than
    always finding themselves in the counts.

    Determinism: each −ln term rounds to decimal(28,6) pre-sum; the
    per-doc average is one exact-decimal-sum / count division (the davg
    discipline); tercile assignment orders by (avg_nll, doc_id) so
    ntile is total-order deterministic in both engines.

    Scale shape: the LM is two reference-sized count tables + one
    scalar — on a real corpus the reference (wiki-sized) is ≪ the
    candidate crawl, so both tables broadcast (hint-free here: AQE
    promotes them when they measure small, shuffle-joins when the
    reference is genuinely large); scoring is one pass over the
    candidate bigram stream with a doc-keyed partial agg; the tercile
    window partitions by language over doc-level rows (count-bounded,
    never token-bounded)."""
    d = load(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", "lang", "source", _tokens().alias("tokens"))
        .filter(F.size("tokens") >= 2)
    )
    ref = toks.filter(F.col("source") == CCNET_REF_SOURCE)
    tgt = toks.filter(F.col("source") != CCNET_REF_SOURCE)
    bigrams = F.expr(
        "transform(sequence(1, size(tokens) - 1), "
        "i -> struct(element_at(tokens, i) AS w1, "
        "element_at(tokens, i + 1) AS w2))"
    )
    rbig = ref.select(F.explode(bigrams).alias("b")).select("b.w1", "b.w2")
    # big_cnt is reference-bigram-vocabulary bounded — checkpoint it once
    # and DERIVE the unigram context counts and the vocab size from it
    # instead of re-scanning+re-exploding the reference corpus per table
    # (r15, the NB/cv_grid pattern; 4 corpus scans -> 2): c1 = sum(c12)
    # per w1 is the exact bigram-start count, and because every ref doc
    # has >= 2 tokens (the size filter above), every token occurrence
    # sits in some bigram, so distinct(w1 UNION w2) IS the token vocab.
    big_cnt = (
        rbig.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=False)
    )
    left_cnt = big_cnt.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (
        big_cnt.select(F.col("w1").alias("t"))
        .union(big_cnt.select(F.col("w2").alias("t")))
        .agg(F.countDistinct("t").alias("v"))
    )
    tbig = tgt.select("doc_id", "lang", F.explode(bigrams).alias("b")).select(
        "doc_id", "lang", "b.w1", "b.w2"
    )
    nll = -F.log(
        (F.coalesce(F.col("c12"), F.lit(0)) + 1.0)
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
    )
    scored = (
        tbig.join(big_cnt, ["w1", "w2"], "left")
        .join(left_cnt, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            (
                F.sum(nll.cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_nll"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.asc("avg_nll"), F.asc("doc_id"))
    bucket = (
        F.when(F.ntile(3).over(w) == 1, "head")
        .when(F.ntile(3).over(w) == 2, "middle")
        .otherwise("tail")
    )
    return scored.select(
        "doc_id", "lang", "n_bigrams", "avg_nll", bucket.alias("bucket")
    )


# --------------------------------------------- winnowing fingerprints (L1/L4)

WINNOW_K = 3  # tokens per k-gram
WINNOW_W = 4  # winnowing window: one fingerprint guaranteed per w grams


@query(
    "text_winnowing_fingerprints",
    survey_ref="L1,L4,F7,A1",
    doc="Winnowing document fingerprints (Schleimer et al. 2003): "
    "rightmost-minimum k-gram hash per sliding window, deduplicated "
    "per doc — the MOSS overlap-detection scheme.",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_TOKENS} AS tokens
            FROM documents
            WHERE doc_id % 10 = 0
              AND length({_SQL_TOKENS}) >= {WINNOW_K + WINNOW_W - 1}
        ),
        grams AS (
            SELECT doc_id,
                   length(tokens) - {WINNOW_K - 1} AS m,
                   i AS p,
                   md5(array_to_string(tokens[i:i + {WINNOW_K - 1}], ' ')) AS h
            FROM toks,
                 unnest(range(1, length(tokens) - {WINNOW_K - 2})) AS u(i)
        ),
        wins AS (
            SELECT doc_id, t,
                   h || lpad(CAST(999999999 - p AS VARCHAR), 9, '0') AS key
            FROM grams,
                 unnest(range(greatest(p, {WINNOW_W}),
                              least(p + {WINNOW_W - 1}, m) + 1)) AS u(t)
        ),
        sel AS (
            SELECT doc_id, MIN(key) AS key
            FROM wins GROUP BY doc_id, t
        )
        SELECT DISTINCT doc_id,
               CAST(999999999 - CAST(substring(key, 33, 9) AS INT) AS INT) AS pos,
               substring(key, 1, 32) AS fp
        FROM sel
    """,
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING (Schleimer, Wilkerson & Aiken 2003) — the fingerprint
    SELECTION step the MOSS plagiarism detector made standard, and the
    missing middle between text_fingerprint_shingle (one global min per
    doc — too coarse to localize overlap) and dedup_substring_spans
    (every duplicated gram — exhaustive): from each sliding window of
    {WINNOW_W} consecutive k-gram hashes keep the MINIMUM, ties to the
    RIGHTMOST, then deduplicate selections. Guarantees: any shared
    substring of {WINNOW_K + WINNOW_W - 1}+ tokens yields a shared
    fingerprint (detection floor), and density is bounded at ~2/(w+1) —
    a tunable index-size/recall dial no other pass here offers.

    Cross-engine shape: the rightmost-tie window argmin is ONE string-
    packed MIN per (doc, window) — key = md5hex ∥ zero-padded(10⁹−p),
    the dedup pass's _FIRST_KEY arbitration idiom, so h orders
    ascending and position descending inside a single comparison; both
    engines decode (pos, fp) back from the winning key. No per-window
    sort, no lambda fold.

    Scale shape: grams explode ×1 and windows ×{WINNOW_W} (a constant)
    — linear in corpus tokens; the (doc, window) argmin partial-
    aggregates map-side; DISTINCT is (doc, pos, fp)-keyed. At 100 TB
    the fingerprint index this emits is the ~2/(w+1)-density posting
    table overlap search joins on, built in two shuffles."""
    d = load(spark, sf_dir, "documents")
    toks = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", _tokens().alias("tokens"))
        .filter(F.size("tokens") >= WINNOW_K + WINNOW_W - 1)
    )
    gram_struct = F.expr(
        f"transform(sequence(1, size(tokens) - {WINNOW_K - 1}), "
        f"p -> struct(p AS p, md5(concat_ws(' ', slice(tokens, p, {WINNOW_K}))) AS h))"
    )
    # m is computed BEFORE the Generate (the lint rule): projected beside
    # the explode it would re-evaluate per OUTPUT row
    grams = (
        toks.select(
            "doc_id", "tokens", (F.size("tokens") - (WINNOW_K - 1)).alias("m")
        )
        .select("doc_id", "m", F.explode(gram_struct).alias("g"))
        .select("doc_id", "m", F.col("g.p").alias("p"), F.col("g.h").alias("h"))
    )
    key = F.concat(
        F.col("h"),
        F.lpad((F.lit(999999999) - F.col("p")).cast("string"), 9, "0"),
    )
    wins = grams.select(
        "doc_id",
        F.explode(
            F.expr(
                f"sequence(greatest(p, {WINNOW_W}), "
                f"least(p + {WINNOW_W - 1}, m))"
            )
        ).alias("t"),
        key.alias("key"),
    )
    sel = wins.groupBy("doc_id", "t").agg(F.min("key").alias("key"))
    return sel.select(
        "doc_id",
        (F.lit(999999999) - F.substring("key", 33, 9).cast("int"))
        .cast("int")
        .alias("pos"),
        F.substring("key", 1, 32).alias("fp"),
    ).distinct()


def _bpe_stream(docs: DataFrame, text_col: str, eow: str) -> DataFrame:
    """(word, cnt, p, s): the frequency-weighted word-type table of
    ``docs`` as a positional symbol stream — each word type's characters
    then ``eow``, p from 1. The one input of ``bpe_train`` and
    ``bpe_apply``."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    wt = (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    chars = F.concat(F.split("word", ""), F.array(F.lit(eow)))
    return wt.select("word", "cnt", F.posexplode(chars).alias("p0", "s")).select(
        "word", "cnt", (F.col("p0") + 1).alias("p"), "s"
    )


def _bpe_rounds(
    docs: DataFrame, rounds: int, text_col: str, eow: str
) -> list[tuple[DataFrame, DataFrame]]:
    """The trainer's loop: per round, its 1-row (l, r, c) argmax pair
    and the stream it merged into, materialized. The last stream IS
    ``docs`` encoded under the trained merges, the stream ``bpe_apply``
    would replay them to."""
    stream = _bpe_stream(docs, text_col, eow).localCheckpoint(eager=True)
    out = []
    for _ in range(rounds):
        best, merged = _bpe_merge_round(stream)
        stream = merged.localCheckpoint(eager=True)
        out.append((best, stream))
    return out


def _bpe_symbols(stream: DataFrame) -> DataFrame:
    """(word, cnt, symbols, n_symbols): a positional symbol stream
    folded back to one row per word type, symbols in position order."""
    return stream.groupBy("word", "cnt").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "s"))), lambda x: x["s"]
        ).alias("symbols"),
        F.count(F.lit(1)).cast("bigint").alias("n_symbols"),
    )


def bpe_train(
    docs: DataFrame,
    rounds: int = BPE_ROUNDS,
    text_col: str = "text",
    eow: str = BPE_EOW,
) -> DataFrame:
    """PRODUCTION BPE trainer: Sennrich et al. 2016 byte-pair encoding,
    ``rounds`` greedy merges over the frequency-weighted word-type table
    of ``docs`` (``text_bpe_merge_train`` is this call on the documents
    table). Returns the merge table — (round, left_sym, right_sym,
    pair_count, n_symbols_after, n_positions_after) — which IS the
    tokenizer artifact: applying a trained BPE is replaying this table's
    merges in order (``bpe_apply``). The argmax pair is deterministic
    (count DESC, pair ASC) and the greedy non-overlapping merge is the
    textbook scanner re-expressed as window algebra (see
    _bpe_merge_round), so an unrolled DuckDB oracle replays the whole
    loop bit-for-bit. A pure-Python sequential scanner re-derives every
    round in tests/test_r8_semantics.py.

    Scale shape — the fastBPE observation: training never touches the
    corpus after ONE tokenize+count pass, because merges act on the
    word-TYPE table (Zipf: types ≪ tokens). Each round is two window
    passes + one pair aggregate over the positional symbol stream (≤
    word-length rows per type), with the 1-row argmax broadcast back —
    no corpus rescan, no driver-side state beyond the loop counter,
    type-table-sized localCheckpoints keeping round lineage flat. At
    100 TB: ~10⁸ word types × ~10 positions ≈ 10⁹-row stream per round,
    shuffled once per round on word — the standard distributed-BPE
    layout."""
    out = None
    for k, (best, stream) in enumerate(_bpe_rounds(docs, rounds, text_col, eow), 1):
        stats = stream.agg(
            F.count_distinct("s").cast("bigint").alias("n_symbols_after"),
            F.count(F.lit(1)).cast("bigint").alias("n_positions_after"),
        )
        row = best.select(
            F.lit(k).alias("round"),
            F.col("l").alias("left_sym"),
            F.col("r").alias("right_sym"),
            F.col("c").alias("pair_count"),
        ).crossJoin(F.broadcast(stats))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("round")


def winnow_fingerprints(
    docs: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """PRODUCTION winnowing: fingerprint ANY (id, text) frame with
    caller-chosen k-gram size and window (the declared
    ``text_winnowing_fingerprints`` fixes k={WINNOW_K}, w={WINNOW_W} and
    a 1/10 doc sample for the oracle). Returns (id_col, pos, fp) — the
    posting table an overlap search self-joins on fp. Guarantees per
    Schleimer et al.: any shared run of k+w−1 tokens shares a
    fingerprint; density ≤ 1 per window, ~2/(w+1) expected.

    Bounds (r8 ADVICE): k, w ≥ 1 validated at entry — Spark's
    sequence(a, b) with a > b yields a DESCENDING sequence rather than
    empty, so a silent w=0 would emit spurious windows instead of
    failing. The packed MIN key encodes position as 9 digits
    (999999999 − p), so a document may hold at most 10⁹−1 grams; the
    per-doc guard below raises at execution rather than corrupting the
    rightmost-tie ordering silently (at ~5 bytes/token that is a ≥5 GB
    single document — corrupt input, not corpus scale)."""
    if k < 1 or w < 1:
        raise ValueError(f"winnow_fingerprints: need k >= 1 and w >= 1, got k={k} w={w}")
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    base = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("tokens"))
        .filter(F.size("tokens") >= k + w - 1)
    )
    gram_struct = F.expr(
        f"transform(sequence(1, size(tokens) - {k - 1}), "
        f"p -> struct(p AS p, md5(concat_ws(' ', slice(tokens, p, {k}))) AS h))"
    )
    # m must stay < 1e9 for the 9-digit pad; when() keeps the guard on the
    # projection path (a bare assert_true column would be pruned unused)
    m_guarded = F.when(
        F.size("tokens") - (k - 1) <= 999999999, F.size("tokens") - (k - 1)
    ).otherwise(
        F.raise_error(
            F.lit("winnow_fingerprints: >1e9 grams in one document "
                  "overflows the 9-digit position pad")
        ).cast("int")
    )
    grams = (
        base.select("doc_id", "tokens", m_guarded.alias("m"))
        .select("doc_id", "m", F.explode(gram_struct).alias("g"))
        .select("doc_id", "m", F.col("g.p").alias("p"), F.col("g.h").alias("h"))
    )
    key = F.concat(
        F.col("h"), F.lpad((F.lit(999999999) - F.col("p")).cast("string"), 9, "0")
    )
    wins = grams.select(
        "doc_id",
        F.explode(F.expr(f"sequence(greatest(p, {w}), least(p + {w - 1}, m))")).alias(
            "t"
        ),
        key.alias("key"),
    )
    return (
        wins.groupBy("doc_id", "t")
        .agg(F.min("key").alias("key"))
        .select(
            F.col("doc_id").alias(id_col),
            (F.lit(999999999) - F.substring("key", 33, 9).cast("int"))
            .cast("int")
            .alias("pos"),
            F.substring("key", 1, 32).alias("fp"),
        )
        .distinct()
    )


#: a fingerprint shared by more docs than this is boilerplate, not
#: overlap signal — the SHINGLE_DF_MAX bounded-expansion discipline
#: applied to the winnowing index (pair slots ≤ OCC·(cap−1)/2).
WINNOW_FP_DF_MAX = 16


@query(
    "text_winnowing_overlap_pairs",
    survey_ref="L1,L2,J8,A1",
    doc="MOSS-style overlap candidates: doc pairs sharing df-capped "
    "winnowing fingerprints, scored by shared count and containment "
    "ratio vs the smaller doc's fingerprint total.",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_TOKENS} AS tokens
            FROM documents
            WHERE doc_id % 10 = 0
              AND length({_SQL_TOKENS}) >= {WINNOW_K + WINNOW_W - 1}
        ),
        grams AS (
            SELECT doc_id,
                   length(tokens) - {WINNOW_K - 1} AS m,
                   i AS p,
                   md5(array_to_string(tokens[i:i + {WINNOW_K - 1}], ' ')) AS h
            FROM toks,
                 unnest(range(1, length(tokens) - {WINNOW_K - 2})) AS u(i)
        ),
        wins AS (
            SELECT doc_id, t,
                   h || lpad(CAST(999999999 - p AS VARCHAR), 9, '0') AS key
            FROM grams,
                 unnest(range(greatest(p, {WINNOW_W}),
                              least(p + {WINNOW_W - 1}, m) + 1)) AS u(t)
        ),
        fps AS (
            SELECT DISTINCT doc_id, substring(key, 1, 32) AS fp
            FROM (SELECT doc_id, MIN(key) AS key FROM wins GROUP BY doc_id, t)
        ),
        fdf AS (SELECT fp, COUNT(*) AS df FROM fps GROUP BY fp),
        tot AS (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id),
        kept AS (
            SELECT f.doc_id, f.fp FROM fps f JOIN fdf USING (fp)
            WHERE df BETWEEN 2 AND {WINNOW_FP_DF_MAX}
        ),
        wpairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b, n_shared,
               floor(n_shared / CAST(least(ta.n_fp, tb.n_fp) AS DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0 AS overlap
        FROM wpairs
        JOIN tot ta ON ta.doc_id = doc_a
        JOIN tot tb ON tb.doc_id = doc_b
    """,
)
def text_winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SEARCH half of the MOSS pipeline (the fingerprint index's
    whole purpose): candidate overlap pairs = docs sharing at least one
    df-capped winnowing fingerprint, scored by the shared count and a
    containment-style ratio against the SMALLER doc's fingerprint total
    (a small doc quoted inside a big one scores high — the
    text_minhash_containment asymmetry argument, at fingerprint
    granularity). The df cap is the bounded-expansion gate: a
    boilerplate fingerprint in every doc would otherwise pair
    quadratically; capped, pair slots ≤ OCC·({WINNOW_FP_DF_MAX}−1)/2 —
    linear in kept fingerprint occurrences (the containment budget
    proof, applied to this index). The overlap ratio rounds via the
    portable floor form (small-integer ratios land on 1e-7 lattice
    boundaries where engine round() disagrees — the ml/_p6 finding).

    Scale shape: reuses the fingerprint build (two shuffles, ~2/(w+1)
    density), one fp-keyed self-join bounded by the df cap, one
    pair-keyed partial agg, two broadcast-size joins for the per-doc
    totals. No corpus-squared anything."""
    fps = (
        text_winnowing_fingerprints(spark, sf_dir)
        .select("doc_id", "fp")
        .distinct()
        .localCheckpoint(eager=True)
    )
    fdf = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    tot = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    kept = fps.join(
        fdf.filter((F.col("df") >= 2) & (F.col("df") <= WINNOW_FP_DF_MAX)), "fp"
    ).select("doc_id", "fp")
    a = kept.select(F.col("doc_id").alias("doc_a"), "fp")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    overlap_raw = F.col("n_shared") / F.least("ta.n_fp", "tb.n_fp").cast("double")
    return (
        pairs.join(tot.alias("ta"), F.col("doc_a") == F.col("ta.doc_id"))
        .join(tot.alias("tb"), F.col("doc_b") == F.col("tb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (
                F.floor(overlap_raw * 1000000.0 + F.lit(0.5)).cast("double")
                / 1000000.0
            ).alias("overlap"),
        )
    )


def winnow_overlap_search(
    docs: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = 1,
    fp_df_max: int = WINNOW_FP_DF_MAX,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """PRODUCTION MOSS overlap search (the ``bm25_search`` pattern —
    r8 verdict task 5): run the full fingerprint-index → df-capped
    fp self-join → pair scoring pipeline of the declared
    ``text_winnowing_overlap_pairs`` over ANY (id, text) frame with
    caller-chosen k-gram size, window, and a ``min_shared`` suppression
    floor. Production MOSS applies exactly this floor to kill single-
    fingerprint coincidences; the declared query deliberately keeps
    min_shared=1 so its gate-scale answer stays non-vacuous.

    Guarantee (pinned by tests/test_r9_semantics.py with a planted-quote
    fixture + pure-Python recount): any verbatim shared run of
    ≥ k + w − 1 tokens shares ≥ 1 winnowing fingerprint (Schleimer et
    al. 2003), so with min_shared=1 the quoting pair is ALWAYS a
    candidate — provided the shared fingerprint's corpus df stays within
    ``fp_df_max`` (the boilerplate cut is the one deliberate recall
    trade; raise the cap to trade pair budget for boilerplate recall).
    A longer quote of L tokens yields ≥ ⌊(L − k + 1) / w⌋ shared
    fingerprints, so min_shared=s is a ~(s·w + k − 1)-token run floor.

    Returns (id_a, id_b, n_shared, overlap) with id_a < id_b; overlap is
    the containment-style ratio vs the smaller doc's fingerprint total,
    rounded via the portable floor form.

    Scale shape: identical to the declared query — two shuffles build
    the ~2/(w+1)-density index, the self-join is df-capped (pair slots
    ≤ OCC·(fp_df_max−1)/2, linear in kept occurrences), per-doc totals
    broadcast back. min_shared prunes AFTER the pair agg (it cannot
    reduce the join's candidate budget — the cap already did)."""
    if min_shared < 1:
        raise ValueError(f"winnow_overlap_search: need min_shared >= 1, got {min_shared}")
    if fp_df_max < 2:
        raise ValueError(f"winnow_overlap_search: need fp_df_max >= 2, got {fp_df_max}")
    fps = (
        winnow_fingerprints(docs, k=k, w=w, id_col=id_col, text_col=text_col)
        .select(F.col(id_col).alias("doc_id"), "fp")
        .distinct()
        .localCheckpoint(eager=True)
    )
    fdf = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    tot = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    kept = fps.join(
        fdf.filter((F.col("df") >= 2) & (F.col("df") <= fp_df_max)), "fp"
    ).select("doc_id", "fp")
    a = kept.select(F.col("doc_id").alias("id_a"), "fp")
    b = kept.select(F.col("doc_id").alias("id_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    overlap_raw = F.col("n_shared") / F.least("ta.n_fp", "tb.n_fp").cast("double")
    return (
        pairs.join(tot.alias("ta"), F.col("id_a") == F.col("ta.doc_id"))
        .join(tot.alias("tb"), F.col("id_b") == F.col("tb.doc_id"))
        .select(
            "id_a",
            "id_b",
            "n_shared",
            (
                F.floor(overlap_raw * 1000000.0 + F.lit(0.5)).cast("double")
                / 1000000.0
            ).alias("overlap"),
        )
    )


def _bpe_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, cnt, p, s): the documents table's word types encoded under
    their own BPE_ROUNDS trained merges, one row per symbol position — the
    trainer's final stream (``_bpe_rounds``), which ``bpe_apply`` would
    rebuild by replaying the merges. Both the encode and the decode
    query aggregate it."""
    rounds = _bpe_rounds(load(spark, sf_dir, "documents"), BPE_ROUNDS, "text", BPE_EOW)
    return rounds[-1][1]


@query(
    "text_bpe_encode_vocab",
    survey_ref="L6,L7,W2,A1",
    doc="BPE tokenizer APPLICATION: the corpus token table after the 6 "
    "trained merges — per-symbol occurrences and word-type spread, the "
    "token-budget artifact.",
    oracle=f"""
        WITH {_bpe_ctes()}
        SELECT s AS symbol,
               CAST(SUM(cnt) AS BIGINT) AS occurrences,
               CAST(COUNT(DISTINCT word) AS BIGINT) AS word_types
        FROM s{BPE_ROUNDS}
        GROUP BY s
    """,
)
def text_bpe_encode_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE half of the BPE loop: the corpus token distribution
    under the trained tokenizer, per symbol its corpus occurrences (Σ
    word count over positions) and word-type spread. Fixes the corpus
    and its own BPE_ROUNDS trained merges (``_bpe_encoded``, one row per
    encoded symbol position). The pure-Python scanner in
    tests/test_r9_semantics.py re-derives every count."""
    return (
        _bpe_encoded(spark, sf_dir)
        .groupBy(F.col("s").alias("symbol"))
        .agg(
            F.sum("cnt").cast("bigint").alias("occurrences"),
            F.countDistinct("word").cast("bigint").alias("word_types"),
        )
    )


@query(
    "text_bpe_decode_roundtrip",
    survey_ref="L6,A1,F1,W2",
    doc="BPE tokenizer DECODE: concatenate each word type's encoded "
    "symbols back in position order and prove count-weighted identity "
    "with the original word table, bucketed by encoded length.",
    oracle=f"""
        WITH {_bpe_ctes()},
        dec AS (
            SELECT word, cnt, CAST(COUNT(*) AS BIGINT) AS n_symbols,
                   string_agg(s, '' ORDER BY p) AS decoded
            FROM s{BPE_ROUNDS} GROUP BY word, cnt
        )
        SELECT n_symbols,
               CAST(COUNT(*) AS BIGINT) AS word_types,
               CAST(SUM(cnt) AS BIGINT) AS corpus_tokens,
               CAST(SUM(CASE WHEN decoded = word || '{BPE_EOW}'
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS roundtrip_exact_types
        FROM dec GROUP BY n_symbols
    """,
)
def text_bpe_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DECODE half that closes the train → encode → decode loop:
    concatenate each encoded word type's symbols back in order and count,
    per encoded length, the word types, their corpus-token mass and how
    many round-trip exactly to the word plus the end-of-word marker.
    Fixes the same encoding as text_bpe_encode_vocab (``_bpe_encoded``).
    roundtrip_exact_types == word_types in every bucket, because merges
    only concatenate adjacent symbols; tests/test_r10_semantics.py pins
    that with the sequential Python scanner."""
    enc = _bpe_symbols(_bpe_encoded(spark, sf_dir))
    return enc.groupBy("n_symbols").agg(
        F.count(F.lit(1)).cast("bigint").alias("word_types"),
        F.sum("cnt").cast("bigint").alias("corpus_tokens"),
        F.sum(
            F.when(
                F.concat_ws("", "symbols") == F.concat(F.col("word"), F.lit(BPE_EOW)), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("roundtrip_exact_types"),
    )


@query(
    "text_winnow_search_floor",
    survey_ref="L1,L2,J8,A1",
    doc="The production winnow_overlap_search entry under the hash gate: "
    "full-corpus MOSS overlap search at the registry (k, w) with the "
    "min_shared=2 coincidence-suppression floor.",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_TOKENS} AS tokens
            FROM documents
            WHERE length({_SQL_TOKENS}) >= {WINNOW_K + WINNOW_W - 1}
        ),
        grams AS (
            SELECT doc_id,
                   length(tokens) - {WINNOW_K - 1} AS m,
                   i AS p,
                   md5(array_to_string(tokens[i:i + {WINNOW_K - 1}], ' ')) AS h
            FROM toks,
                 unnest(range(1, length(tokens) - {WINNOW_K - 2})) AS u(i)
        ),
        wins AS (
            SELECT doc_id, t,
                   h || lpad(CAST(999999999 - p AS VARCHAR), 9, '0') AS key
            FROM grams,
                 unnest(range(greatest(p, {WINNOW_W}),
                              least(p + {WINNOW_W - 1}, m) + 1)) AS u(t)
        ),
        fps AS (
            SELECT DISTINCT doc_id, substring(key, 1, 32) AS fp
            FROM (SELECT doc_id, MIN(key) AS key FROM wins GROUP BY doc_id, t)
        ),
        fdf AS (SELECT fp, COUNT(*) AS df FROM fps GROUP BY fp),
        tot AS (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id),
        kept AS (
            SELECT f.doc_id, f.fp FROM fps f JOIN fdf USING (fp)
            WHERE df BETWEEN 2 AND {WINNOW_FP_DF_MAX}
        ),
        wpairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING COUNT(*) >= 2
        )
        SELECT id_a, id_b, n_shared,
               floor(n_shared / CAST(least(ta.n_fp, tb.n_fp) AS DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0 AS overlap
        FROM wpairs
        JOIN tot ta ON ta.doc_id = id_a
        JOIN tot tb ON tb.doc_id = id_b
    """,
)
def text_winnow_search_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION library path itself under the driver's hash gate
    (r9 verdict task 6 — the driver never sees library entries, so their
    pins were pytest-only): this query IS one call to
    ``winnow_overlap_search`` at the registry (k={WINNOW_K},
    w={WINNOW_W}, fp_df_max={WINNOW_FP_DF_MAX}) — no reimplementation,
    no parallel twin that could drift from the production code. Unlike
    the declared ``text_winnowing_overlap_pairs`` (1/10 doc sample,
    min_shared=1, deliberately floor-free so the sampled answer stays
    non-vacuous), this runs the FULL corpus with production MOSS's
    min_shared=2 single-fingerprint-coincidence suppression — at the
    gate scale the floor kills 97% of candidate pairs (3,374 → 103
    measured at sf0.01; 322,878 → 7,551 at sf0.1), which is exactly the
    signal/noise separation a plagiarism or contamination scan ships
    with. min_shared=2 at (k=3, w=4) ≈ an 11-token verbatim-run floor
    (s·w + k − 1).

    Scale shape: inherited verbatim from the library fn (two shuffles
    build the ~2/(w+1)-density index, the self-join is df-capped so pair
    slots ≤ OCC·({WINNOW_FP_DF_MAX}−1)/2, the floor prunes AFTER the
    pair agg, per-doc totals broadcast back)."""
    d = load(spark, sf_dir, "documents")
    return winnow_overlap_search(
        d,
        k=WINNOW_K,
        w=WINNOW_W,
        min_shared=2,
        fp_df_max=WINNOW_FP_DF_MAX,
    )


#: the fixed ad-hoc query strings for the library-routed BM25 entry —
#: common corpus terms, so every query matches at any SF. Both the Spark
#: call and the oracle VALUES list derive from this one tuple.
BM25_LIB_QUERIES = ("hash join", "scan filter column", "vector stream data")


def _bm25_lib_values() -> str:
    rows = []
    for q in BM25_LIB_QUERIES:
        for t in dict.fromkeys(w for w in q.split(" ") if w):
            rows.append(f"('{q}', '{t}')")
    return ", ".join(rows)


@query(
    "text_bm25_library_search",
    survey_ref="L3,L6,W4,A1",
    doc="The production bm25_search entry under the hash gate: three "
    "fixed ad-hoc query strings ranked against the corpus, top-5 each.",
    oracle=f"""
        WITH lbtoks AS (
            SELECT doc_id, {_SQL_TOKENS} AS tokens FROM documents
        ),
        lbstats AS (
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM(length(tokens)) AS BIGINT) AS total_tokens
            FROM lbtoks
        ),
        lbtf AS (
            SELECT doc_id, token, COUNT(*) AS tf
            FROM (SELECT doc_id, unnest(tokens) AS token FROM lbtoks)
            GROUP BY doc_id, token
        ),
        lbdf AS (SELECT token, COUNT(*) AS df FROM lbtf GROUP BY token),
        lbdl AS (SELECT doc_id, length(tokens) AS dl FROM lbtoks),
        lbq(query, token) AS (VALUES {_bm25_lib_values()}),
        lbqt AS (
            SELECT query, q.token,
                   ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) AS idf
            FROM lbq q JOIN lbdf d ON d.token = q.token, lbstats s
        ),
        lbscore AS (
            SELECT q.query, f.doc_id,
                   CAST(SUM(CAST(
                       q.idf * ((f.tf * 2.2) / (f.tf + 1.2 * (0.25 + 0.75 *
                           (l.dl / (CAST(s.total_tokens AS DOUBLE) / s.n_docs)))))
                   AS DECIMAL(28,6))) AS DOUBLE) AS score
            FROM lbqt q
            JOIN lbtf f ON f.token = q.token
            JOIN lbdl l ON l.doc_id = f.doc_id, lbstats s
            GROUP BY q.query, f.doc_id
        )
        SELECT query, doc_id, round(score, 4) AS bm25, rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query ORDER BY score DESC, doc_id ASC
            ) AS rank FROM lbscore
        ) WHERE rank <= 5
    """,
)
def text_bm25_library_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION ``bm25_search`` path itself under the driver's
    hash gate (r9 verdict task 6): rank three fixed ad-hoc query STRINGS
    against the corpus through ONE library call — the ad-hoc-string
    workload shape the declared ``text_bm25_topk`` cannot exercise (its
    queries are corpus-derived so the oracle can replay the rarest-term
    selection; user strings skip the posting budget by design — a user's
    common term is kept, not silently dropped). The three queries use
    common corpus terms so the answer is non-vacuous at every SF, and
    the oracle VALUES list is generated from the same Python tuple the
    Spark call receives, so the two engines cannot disagree about the
    workload.

    Scale shape: inherited verbatim from bm25_search — one
    tokenize+explode+combine builds the (doc, token, tf) table; the
    query-term table (|Q|=3 × ≤3 terms, driver-side literals) BROADCASTS
    to it, so the corpus-sized side never shuffles; per-(query,doc)
    decimal-summed partial agg; top-5 per query is a WindowGroupLimit.
    Unlike the declared query's 1/97-sampled workload, |Q| here is FIXED
    — the broadcast never grows with the corpus."""
    d = load(spark, sf_dir, "documents")
    return bm25_search(d, queries=list(BM25_LIB_QUERIES), k=5)


def gopher_gate(
    docs: DataFrame,
    *,
    min_words: int = 5,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_per_word: float = 0.3,
    min_alpha_word_ratio: float = 0.6,
    min_distinct_stopwords: int = 1,
    stopwords: tuple[str, ...] = STOPWORDS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """PRODUCTION Gopher-style quality gate (Rae et al. 2021, Table A1
    shape — the parameterized form of the declared
    ``text_gopher_quality_rules``, which fixes the registry thresholds
    and a 1/5 doc sample for the oracle): score ANY (id, text) frame
    against caller-chosen thresholds. Returns one row per NON-EMPTY doc
    (zero-token docs are dropped — every ratio divides by word count):
    (id_col, word_count, mean_word_len, symbol_per_word,
    alpha_word_ratio, n_distinct_stop, keep) with keep = all five rules
    hold — ``filter("keep")`` is the quality-gated corpus, and the five
    feature columns are kept so a caller can re-gate at different
    thresholds WITHOUT recomputing the features (thresholds are cheap;
    the tokenize pass is not).

    Threshold validation: bounds must be ordered and ratios within
    [0, 1]-sane ranges — a silently inverted band would keep nothing and
    look like an aggressive filter (the winnowing w=0 failure class).

    Scale shape — the declared query's: ONE projection pass over the
    corpus, no shuffle, no Python; every feature is a codegen'd
    higher-order function over the token array, thresholds are literals
    Catalyst constant-folds, and at 100 TB the gate runs at parquet-scan
    speed (column-pruned to id + text)."""
    if min_words > max_words:
        raise ValueError(
            f"gopher_gate: min_words ({min_words}) > max_words ({max_words})"
        )
    if min_mean_word_len > max_mean_word_len:
        raise ValueError(
            f"gopher_gate: min_mean_word_len ({min_mean_word_len}) > "
            f"max_mean_word_len ({max_mean_word_len})"
        )
    if not (0.0 <= min_alpha_word_ratio <= 1.0):
        raise ValueError(
            f"gopher_gate: need 0 <= min_alpha_word_ratio <= 1, got {min_alpha_word_ratio}"
        )
    if max_symbol_per_word < 0.0:
        raise ValueError(
            f"gopher_gate: need max_symbol_per_word >= 0, got {max_symbol_per_word}"
        )
    if min_distinct_stopwords > len(stopwords):
        raise ValueError(
            f"gopher_gate: min_distinct_stopwords ({min_distinct_stopwords}) "
            f"exceeds the stop list size ({len(stopwords)})"
        )
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    stoplist = F.array(*[F.lit(w) for w in stopwords])
    wc = F.size("tokens")
    mean_len = (
        F.aggregate("tokens", F.lit(0), lambda acc, t: acc + F.length(t)).cast(
            "double"
        )
        / wc
    )
    symbol_per_word = (
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(r"[#.]{3,}|[0-9]"), F.lit(0))
        ).cast("double")
        / wc
    )
    alpha_ratio = (
        F.size(F.filter("tokens", lambda t: t.rlike("[a-zA-Z]"))).cast("double") / wc
    )
    n_stop = F.size(
        F.array_distinct(F.filter("tokens", lambda t: F.array_contains(stoplist, t)))
    )
    feat = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col), toks.alias("tokens"))
        .filter(F.size("tokens") > 0)
        .select(
            "doc_id",
            wc.cast("int").alias("word_count"),
            mean_len.alias("mean_word_len"),
            symbol_per_word.alias("symbol_per_word"),
            alpha_ratio.alias("alpha_word_ratio"),
            n_stop.cast("int").alias("n_distinct_stop"),
        )
    )
    return feat.select(
        F.col("doc_id").alias(id_col),
        "word_count",
        "mean_word_len",
        "symbol_per_word",
        "alpha_word_ratio",
        "n_distinct_stop",
        (
            F.col("word_count").between(min_words, max_words)
            & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
            & (F.col("symbol_per_word") < max_symbol_per_word)
            & (F.col("alpha_word_ratio") > min_alpha_word_ratio)
            & (F.col("n_distinct_stop") >= min_distinct_stopwords)
        ).alias("keep"),
    )


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text_col: str = "text",
    eow: str = BPE_EOW,
) -> DataFrame:
    """PRODUCTION BPE APPLICATION: tokenize ``docs`` with an arbitrary
    trained merge table — the artifact ``bpe_train`` returns (collect
    its (left_sym, right_sym) rows in round order), or any externally
    trained table. This closes the tokenizer loop at the library level:
    train with ``bpe_train``, ship the merge table, replay it here over
    any corpus — applying a trained BPE IS replaying its merges in
    order, each through the exact window algebra the trainer used
    (shared ``_bpe_merge_with``, so train and apply cannot drift).

    Returns one row per word TYPE: (word, cnt, symbols, n_symbols) with
    ``symbols`` the encoded token array in order (last element carries
    the end-of-word marker). Per Zipf the word-type table is tiny next
    to the corpus, so this is the join-ready form — explode ``symbols``
    against your doc-token stream for per-document token ids, or
    aggregate ``cnt`` by symbol for the corpus token budget (the
    declared ``text_bpe_encode_vocab`` is that aggregate at the
    trainer's own merges, and ``text_bpe_decode_roundtrip`` decodes the
    same table).

    Scale shape — the trainer's ONE tokenize+count pass, then |merges|
    window rounds over type-sized data, but — unlike the trainer, whose
    per-round ARGMAX makes each round's plan reference the previous
    round's result twice (exponential lineage without a cut point) —
    the replay's pairs are caller constants, so the whole merge chain
    is ONE lazy plan (r14, guide §2.4): every round's windows partition
    by ``word``, Spark establishes that exchange once and runs all
    rounds plus the final per-word aggregation in a single shuffle-free
    pipeline behind it. No per-round localCheckpoint: the former
    round-by-round eager materializations cost one Spark job + one full
    type-stream write each (same-JVM A/B at sf0.1, min-of-3:
    text_bpe_library_apply 2.848 → 1.273 s, 0.45×; at 100 TB they were
    |merges| extra materializations of the ~10⁹-row type stream). Cost
    is |merges| window passes over types, never corpus rescans."""
    merges = list(merges)
    for i, pair in enumerate(merges):
        if len(pair) != 2 or not pair[0] or not pair[1]:
            raise ValueError(
                f"bpe_apply: merge {i} must be a (left, right) pair of "
                f"non-empty strings, got {pair!r}"
            )
    stream = _bpe_stream(docs, text_col, eow)
    for i, (left, right) in enumerate(merges):
        stream = _bpe_merge_with(stream, (left, right))
        # Periodic lineage cut (r14 ADVICE): the lazy replay stacks ~5
        # window operators per merge in ONE plan — the measured win for
        # small tables (no per-round materialization job), but this
        # public API accepts arbitrary merge lists and the uncut chain
        # is a hard failure, not just slow: at 28 merges the serialized
        # task binary's expression tree overflows the executor's
        # deserialization stack and kills the session (measured on
        # 4.1.2; Catalyst analysis is also superlinear — 6 s at 16
        # merges, 9 s at 24, on a 3-word corpus). A cut every 16 merges
        # keeps each segment at ~half the measured failure depth and
        # makes driver cost linear in |merges|; below 16 merges (every
        # registered caller) the chain stays fully lazy and the plan is
        # byte-identical to the r14 form. The cut must be EAGER: all
        # merge windows pipeline behind one word exchange, so a lazy
        # checkpoint leaves the first action shipping the whole uncut
        # chain in one task binary (measured: still dies at 45 merges
        # with lazy cuts) — only a materialized cut truncates the RDD
        # lineage the task serializes. One type-stream-sized job per 16
        # merges is the bounded price, and only tables past 16 merges
        # pay it.
        if (i + 1) % 16 == 0 and i + 1 < len(merges):
            stream = stream.localCheckpoint(eager=True)
    return _bpe_symbols(stream)


#: text_bpe_library_apply merge table — a FIXED external artifact, not
#: the corpus argmax (that's the trainer's job): the shipped-tokenizer
#: scenario bpe_apply exists for. Chosen to exercise the replay
#: mechanics: two character merges, a CASCADING merge consuming both
#: ("sc"+"an" can only fire if rounds 1-2 produced its operands), a
#: word-final merge against the end-of-word marker, and one more
#: character pair — all present in the corpus vocabulary, so every
#: round moves real positions.
_LIB_BPE_MERGES = [
    ("s", "c"),
    ("a", "n"),
    ("sc", "an"),
    ("e", BPE_EOW),
    ("h", "a"),
]


@query(
    "text_bpe_library_apply",
    survey_ref="L6,W2,A1,F1",
    doc="The production bpe_apply entry under the hash gate: replay a "
    "FIXED 5-merge external tokenizer over the corpus word types — one "
    "row per type with its encoded symbol string.",
    oracle=f"""
        WITH {_bpe_stream_ctes()}{"".join(_bpe_fixed_round_sql(k, l, r) for k, (l, r) in enumerate(_LIB_BPE_MERGES, 1))}
        SELECT word, cnt,
               CAST(COUNT(*) AS BIGINT) AS n_symbols,
               string_agg(s, ' ' ORDER BY p) AS encoded
        FROM s{len(_LIB_BPE_MERGES)}
        GROUP BY word, cnt
    """,
)
def text_bpe_library_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION ``bpe_apply`` path itself under the driver's hash
    gate (r10 verdict task 2 — it was pinned only by pytest equality at
    the trainer's own merges): ONE ``bpe_apply`` call replaying a FIXED
    5-merge table that no trainer on this corpus produces — the
    ship-the-tokenizer scenario the function exists for. The table
    includes a CASCADING merge (("sc","an") whose operands only exist
    after rounds 1-2) and a word-final merge against the end-of-word
    marker, so a hash-green verdict proves the replay applies arbitrary
    external pairs in caller order through the shared window algebra.
    Output is the join-ready word-type table: (word, corpus count,
    encoded length, the encoded symbol string).

    Scale shape — bpe_apply's: the corpus is tokenized and counted ONCE
    into the Zipf-bounded word-type stream; each merge is two window
    passes over type-sized data with the 1-row pair broadcast;
    per-word ordered aggregation is type-sized, never corpus-sized."""
    d = load(spark, sf_dir, "documents")
    enc = bpe_apply(d, _LIB_BPE_MERGES)
    return enc.select(
        "word",
        "cnt",
        "n_symbols",
        F.concat_ws(" ", "symbols").alias("encoded"),
    )


#: text_lang_id_library vocabulary size — NOT the registered confusion
#: matrix's 20: at k=12 the per-language vocabularies drop their tail
#: tokens, so votes (and some argmaxes) move and the oracle proves the
#: vocab_k dial reaches the trainer.
_LIB_LANGID_K = 12


@query(
    "text_lang_id_library",
    survey_ref="L4,L6,W4",
    doc="The production lang_id entry under the hash gate at the "
    "non-default vocab_k=12: per-doc predicted language + vote count "
    "from top-k per-language token vocabularies.",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, lang,
                   unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> '')))
                       AS token
            FROM documents
        ),
        lang_vocab AS (
            SELECT lang, token
            FROM (
                SELECT lang, token, COUNT(*) AS cnt,
                       row_number() OVER (
                           PARTITION BY lang ORDER BY COUNT(*) DESC, token
                       ) AS rn
                FROM tok
                GROUP BY lang, token
            )
            WHERE rn <= {_LIB_LANGID_K}
        ),
        overlap AS (
            SELECT t.doc_id, v.lang AS cand_lang, COUNT(*) AS hits
            FROM tok t JOIN lang_vocab v ON t.token = v.token
            GROUP BY t.doc_id, v.lang
        )
        SELECT doc_id, cand_lang AS pred_lang, CAST(hits AS BIGINT) AS hits
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY hits DESC, cand_lang
            ) AS rn
            FROM overlap
        )
        WHERE rn = 1
    """,
)
def text_lang_id_library(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION ``lang_id`` path itself under the driver's hash
    gate (the r11 library-router pattern): the corpus trains per-language
    top-{_LIB_LANGID_K} token vocabularies (vs the registered confusion
    matrix's 20 — the tail tokens drop, so votes move and the oracle
    proves ``vocab_k`` reaches the trainer) and every doc is classified
    to the language whose vocabulary it overlaps most — the per-DOC form
    a curation pipeline consumes (route to per-language processing, drop
    unidentifiable docs), where the registered query emits the
    model-evaluation confusion grid.

    Scale shape — lang_id's: the vocabulary is (languages × k) rows at
    any corpus size → BROADCAST; classification is one map-side join
    over the distinct-token stream + a (doc, lang)-keyed partial agg +
    one per-doc argmax window."""
    d = load(spark, sf_dir, "documents")
    return lang_id(d, d, vocab_k=_LIB_LANGID_K)


def lang_id(
    docs: DataFrame,
    labeled: DataFrame,
    *,
    vocab_k: int = 20,
    id_col: str = "doc_id",
    label_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """PRODUCTION heuristic language identification over ANY frame pair:
    train per-language top-``vocab_k`` distinct-token vocabularies from
    ``labeled`` (id, label, text), then classify every ``docs`` row to
    the language whose vocabulary it shares the most distinct tokens
    with (ties → lexicographically first language). Returns one row per
    classifiable doc: (id_col, pred_{label_col}, hits). Docs sharing NO
    vocabulary token emit no row — they are unidentifiable under this
    model (the NB out-of-vocab convention).

    At (vocab_k=20, corpus self-train) the per-doc argmax aggregates to
    exactly the registered ``text_lang_id_ngram`` confusion matrix
    (pinned by tests/test_r11_library.py); the declared
    ``text_lang_id_library`` runs this code path at vocab_k=12 under
    the driver's hash gate.

    Scale shape: the model is (languages × vocab_k) rows at any corpus
    size → BROADCAST; scoring is one map-side join over the distinct-
    token stream, one (doc, lang)-keyed partial agg, one per-doc argmax
    window. No corpus self-join."""
    if vocab_k < 1:
        raise ValueError(f"lang_id: need vocab_k >= 1, got {vocab_k}")
    toks = F.array_distinct(
        F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    )
    tr = labeled.select(
        F.col(label_col).alias("lang"), F.explode(toks).alias("token")
    )
    w_vocab = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    vocab = (
        tr.groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w_vocab))
        .filter(F.col("rn") <= vocab_k)
        .select(F.col("lang").alias("cand_lang"), "token")
    )
    dt = docs.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("token"))
    overlap = (
        dt.join(F.broadcast(vocab), "token")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    )
    w_pred = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("cand_lang"))
    return (
        overlap.withColumn("rn", F.row_number().over(w_pred))
        .filter(F.col("rn") == 1)
        .select(
            F.col("doc_id").alias(id_col),
            F.col("cand_lang").alias(f"pred_{label_col}"),
            "hits",
        )
    )


# ------------------- r12: library routers under the hash gate (task 4)


def _sql_gopher_gate(
    min_words: int,
    max_words: int,
    min_mwl: float,
    max_mwl: float,
    max_spw: float,
    min_awr: float,
    min_stop: int,
) -> str:
    """Parameterized oracle for ``gopher_gate`` — the same feature CTE
    the registered ``text_gopher_quality_rules`` fixes at the default
    thresholds, with every threshold a caller-chosen literal (the
    shared-builder no-drift discipline)."""
    return f"""
        WITH feat AS (
            SELECT
                doc_id,
                length({_SQL_TOKENS}) AS word_count,
                CAST(list_sum(list_transform({_SQL_TOKENS},
                     t -> length(t))) AS DOUBLE)
                  / length({_SQL_TOKENS}) AS mean_word_len,
                CAST(length(regexp_extract_all(text, '[#.]{{3,}}|[0-9]'))
                     AS DOUBLE)
                  / length({_SQL_TOKENS}) AS symbol_per_word,
                CAST(length(list_filter({_SQL_TOKENS},
                     t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE)
                  / length({_SQL_TOKENS}) AS alpha_word_ratio,
                length(list_distinct(list_filter({_SQL_TOKENS},
                     t -> list_contains({_SQL_STOPLIST}, t)))) AS n_distinct_stop
            FROM documents
            WHERE length({_SQL_TOKENS}) > 0
        )
        SELECT
            doc_id,
            CAST(word_count AS INT) AS word_count,
            mean_word_len,
            symbol_per_word,
            alpha_word_ratio,
            CAST(n_distinct_stop AS INT) AS n_distinct_stop,
            (word_count BETWEEN {min_words} AND {max_words}
             AND mean_word_len BETWEEN {min_mwl} AND {max_mwl}
             AND symbol_per_word < {max_spw}
             AND alpha_word_ratio > {min_awr}
             AND n_distinct_stop >= {min_stop}) AS keep
        FROM feat
    """


@query(
    "text_gopher_library_gate",
    survey_ref="L4,F1,F4",
    doc="The production gopher_gate library entry routed through the "
    "hash gate with EVERY threshold moved off its default (word band "
    "30..85, mean-word-len band 4.3..4.72, symbol<0.05, alpha>0.9, "
    "stopwords>=2) — the oracle checks the parameter plumbing.",
    oracle=_sql_gopher_gate(30, 85, 4.3, 4.72, 0.05, 0.9, 2),
)
def text_gopher_library_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE ``gopher_gate`` call at never-registered thresholds (r11
    verdict task 4 — the r11 router pattern applied to the last
    pytest-only library entries): the registered
    ``text_gopher_quality_rules`` fixes the published defaults and a
    1/5 doc sample; THIS query routes the production function itself
    over the FULL corpus with all seven dials non-default, so the
    driver's oracle attests that every threshold parameter reaches the
    plan (measured split at these dials: 179/500 kept at sf0.01,
    1767/5000 at sf0.1 — each rule band cuts real docs, nothing
    vacuous). Same scale shape as the registered query: one projection
    pass, no shuffle, no Python."""
    d = load(spark, sf_dir, "documents")
    return gopher_gate(
        d,
        min_words=30,
        max_words=85,
        min_mean_word_len=4.3,
        max_mean_word_len=4.72,
        max_symbol_per_word=0.05,
        min_alpha_word_ratio=0.9,
        min_distinct_stopwords=2,
    )


@query(
    "text_bpe_library_train",
    survey_ref="L6,W2,A1,F1",
    doc="The production bpe_train library entry routed through the hash "
    "gate at rounds=9 (the registered trainer fixes 6) — three merges "
    "past the registered trajectory, so the oracle checks that the "
    "round-count parameter drives the loop.",
    oracle=_bpe_oracle(9),
)
def text_bpe_library_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE ``bpe_train`` call at a never-registered round count (r11
    verdict task 4): the registered ``text_bpe_merge_train`` fixes
    {BPE_ROUNDS} merges; THIS query trains for 9, sharing
    ``_bpe_round_sql`` with the registered oracle so the two unrolls
    cannot drift — rounds 7-9 are merge decisions the registered
    trajectory never reaches, making the extension a real test of the
    loop parameter, not a replay. Same scale shape as the registered
    trainer: one corpus tokenize+count, then word-TYPE-table rounds."""
    d = load(spark, sf_dir, "documents")
    return bpe_train(d, rounds=9)
