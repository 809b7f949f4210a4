"""Similarity search over embeddings (SURVEY.md §2.9: L3; PAPERS.md top-k).

Three tiers, mirroring how a 100 TB vector pipeline is actually built:

  * brute-force top-k  — the exactness baseline: broadcast the (small)
    query set against the full corpus, per-query top-k via window. Cost
    O(|Q|·N); correct at any scale where |Q| is small.
  * LSH-bucketed ANN   — random-hyperplane signatures (deterministic LCG
    planes, functions/vectors.py) bucket the corpus; candidates join
    within a bucket only. The bucket join is an equi-join — at scale this
    is the standard shuffle join, never a cross join.
  * cosine near-dup    — same bucket join used for pair generation, with a
    cosine threshold — the embedding flavor of dedup.

Norms are computed ONCE per vector before pairing (sqrt(dot(v,v)) as a
column), so each candidate pair costs one dot product, not three.

All dot-product math is decimal-stabilized (functions/vectors.py) —
bit-identical across engines — so rankings with id tie-breaks hash-match
the DuckDB oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_for_ebook_classification_spark.functions.vectors import (
    spark_dot,
    spark_lsh_bucket,
    spark_srp_code,
    sql_dot,
    sql_lsh_bucket,
    sql_lsh_tables_union,
    sql_srp_code,
)
from pyspark_for_ebook_classification_spark.plans.registry import query
from pyspark_for_ebook_classification_spark.serving import built_for
from pyspark_for_ebook_classification_spark.sources.io import load

N_QUERIES = 10  # query set: vec_id < 10
TOP_K = 5

#: oracle CTE: embeddings with their L2 norm precomputed
_SQL_NORMED = f"""
        normed AS (
            SELECT vec_id, embedding, label,
                   sqrt({sql_dot('embedding', 'embedding')}) AS nrm
            FROM embeddings
        )
"""


def _normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "embedding",
        "label",
        F.sqrt(spark_dot("embedding", "embedding")).alias("nrm"),
    )


def _ann_workload(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(corpus, queries) for the registered ANN queries: every embedding,
    and the vec_id < N_QUERIES subset as the query side."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e, e.filter(F.col("vec_id") < N_QUERIES)


@query(
    "sim_topk_bruteforce",
    survey_ref="L3,J6,W4,O3",
    doc="Exact cosine top-k neighbors for each query vector (vec_id < 10).",
    oracle=f"""
        WITH {_SQL_NORMED},
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM normed
              WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT q.query_id,
                   e.vec_id AS neighbor_id,
                   {sql_dot('qe', 'embedding')} / (qn * e.nrm) AS cos
            FROM q JOIN normed e ON e.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rn AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id
            ) AS rn
            FROM scored
        )
        WHERE rn <= {TOP_K}
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixes ``ann_topk``'s exact bruteforce method at k=TOP_K over the
    registered workload (every embedding against vec_id < N_QUERIES).
    The algorithm and its scale shape are documented on ``ann_topk``."""
    return ann_topk(*_ann_workload(spark, sf_dir), k=TOP_K)


@query(
    "sim_ann_lsh_bucketed",
    survey_ref="L3,J1,W4",
    doc="ANN via multi-table random-hyperplane LSH; exact rerank over the candidate union.",
    oracle=f"""
        WITH {_SQL_NORMED},
        tabs AS (
            {sql_lsh_tables_union('normed')}
        ),
        qtabs AS (SELECT vec_id AS query_id, table_id, bucket FROM tabs
                  WHERE vec_id < {N_QUERIES}),
        cand AS (
            SELECT DISTINCT q.query_id, t.vec_id AS neighbor_id
            FROM tabs t
            JOIN qtabs q ON t.table_id = q.table_id AND t.bucket = q.bucket
             AND t.vec_id <> q.query_id
        ),
        scored AS (
            SELECT c.query_id, c.neighbor_id,
                   {sql_dot('qn.embedding', 'en.embedding')} / (qn.nrm * en.nrm) AS cos
            FROM cand c
            JOIN normed qn ON qn.vec_id = c.query_id
            JOIN normed en ON en.vec_id = c.neighbor_id
        )
        SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rn AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id
            ) AS rn
            FROM scored
        )
        WHERE rn <= {TOP_K}
    """,
)
def sim_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixes ``ann_topk``'s multi-table LSH method at L=4 tables × r=4
    planes (plane family 0..15) and k=TOP_K over the registered
    workload. Single-table recall on this near-random corpus measures
    0.00, the 4-table union 0.38. The algorithm and its scale shape are
    documented on ``ann_topk``."""
    return ann_topk(
        *_ann_workload(spark, sf_dir),
        k=TOP_K,
        method="lsh",
        n_tables=4,
        planes_per_table=4,
    )


@query(
    "sim_cosine_neardup_pairs",
    survey_ref="L2,L3",
    doc="Embedding-cosine near-duplicate pairs via LSH bucket blocking.",
    empty_ok="the driver's near-random embeddings contain no pair above "
    "the 0.5 cosine threshold at the gate scale — 0 rows is the true "
    "answer; tests/test_nonemptiness.py plants an identical-vector pair "
    "and proves it emerges with cosine 1.0",
    oracle=f"""
        WITH {_SQL_NORMED},
        b AS (
            SELECT vec_id, embedding, nrm, {sql_lsh_bucket('embedding')} AS bucket
            FROM normed
        )
        SELECT a.vec_id AS vec_a, e.vec_id AS vec_b,
               round({sql_dot('a.embedding', 'e.embedding')} / (a.nrm * e.nrm), 6) AS cosine
        FROM b a JOIN b e ON a.bucket = e.bucket AND a.vec_id < e.vec_id
        WHERE {sql_dot('a.embedding', 'e.embedding')} / (a.nrm * e.nrm) >= 0.5
    """,
)
def sim_cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair mining: bucket-blocked self-join (never O(n²)), cosine
    threshold on the exact pre-rounding score in both engines, so the pair
    set is identical."""
    e = _normed(spark, sf_dir)
    b = e.withColumn("bucket", spark_lsh_bucket("embedding"))
    a = b.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        "bucket",
    )
    c = b.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        "bucket",
    )
    cos = spark_dot("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        a.join(c, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= 0.5)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cosine"))
    )


@query(
    "sim_ann_ivf_kmeans",
    survey_ref="L3,M7",
    oracle=None,  # k-means centroids aren't SQL-expressible → rows-only
    doc="IVF-style ANN: seeded k-means partitions the corpus; search within the query's cell.",
)
def sim_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF scale path: a seeded MLlib KMeans builds nprobe=1 inverted
    lists (cluster cells); each query searches only its own cell with the
    exact cosine rerank. At 100 TB the assignment is one broadcast-join
    pass (centroids are tiny) and the per-cell search touches ~N/k rows.
    Correctness pinned by tests/test_similarity_golden.py (recall vs
    brute force); rows-only for the driver (centroid coordinates are
    engine-specific)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = _normed(spark, sf_dir)
    vecs = e.withColumn("features", array_to_vector("embedding"))
    km = KMeans(k=16, seed=42, featuresCol="features", predictionCol="cell")
    model = km.fit(vecs)
    cells = model.transform(vecs).select("vec_id", "embedding", "nrm", "cell")

    q = cells.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
        "cell",
    )
    scored = (
        cells.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (spark_dot("qe", "embedding") / (F.col("qn") * F.col("nrm"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 6).alias("cosine"),
            F.col("rn").alias("rank"),
        )
    )


@query(
    "sim_knn_label_vote",
    survey_ref="L3,M7",
    doc="1-NN cosine classifier over embeddings: predicted vs true label counts.",
    oracle=f"""
        WITH {_SQL_NORMED},
        test AS (
            SELECT vec_id, embedding, nrm, label FROM normed WHERE vec_id % 20 = 0
        ),
        train AS (
            SELECT vec_id, embedding, nrm, label FROM normed WHERE vec_id % 20 <> 0
        ),
        nn AS (
            SELECT t.vec_id, t.label AS true_label, tr.label AS pred_label,
                   row_number() OVER (
                       PARTITION BY t.vec_id
                       ORDER BY {sql_dot('t.embedding', 'tr.embedding')} / (t.nrm * tr.nrm)
                                DESC, tr.vec_id
                   ) AS rn
            FROM test t CROSS JOIN train tr
        )
        SELECT CAST(true_label AS INT) AS true_label,
               CAST(pred_label AS INT) AS pred_label,
               COUNT(*) AS n
        FROM nn WHERE rn = 1
        GROUP BY true_label, pred_label
    """,
)
def sim_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN classification by cosine — the relational skeleton of an
    embedding classifier (MLlib-free, fully oracle-checkable). Output is
    the confusion-matrix counts. The test side broadcasts; the train
    corpus never self-joins."""
    e = _normed(spark, sf_dir)
    test = e.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("t_id"),
        F.col("embedding").alias("t_emb"),
        F.col("nrm").alias("t_nrm"),
        F.col("label").alias("true_label"),
    )
    train = e.filter(F.col("vec_id") % 20 != 0).select(
        F.col("vec_id").alias("tr_id"),
        F.col("embedding").alias("tr_emb"),
        F.col("nrm").alias("tr_nrm"),
        F.col("label").alias("pred_label"),
    )
    cos = spark_dot("t_emb", "tr_emb") / (F.col("t_nrm") * F.col("tr_nrm"))
    w = Window.partitionBy("t_id").orderBy(F.desc(cos), F.asc("tr_id"))
    return (
        train.crossJoin(F.broadcast(test))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(
            F.col("true_label").cast("int").alias("true_label"),
            F.col("pred_label").cast("int").alias("pred_label"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "sim_quantize_int8",
    survey_ref="L3,F4,J4,A1",
    doc="Per-dimension min/max int8 quantization of the embedding corpus.",
    oracle="""
        WITH ex AS (
            SELECT vec_id, label, u.i AS pos, CAST(embedding[u.i] AS DOUBLE) AS v
            FROM embeddings,
                 LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u
        ), stats AS (
            SELECT pos, MIN(v) AS dmin, MAX(v) AS dmax FROM ex GROUP BY pos
        ), q AS (
            SELECT ex.vec_id, ex.label,
                   CAST(coalesce(least(255, floor(
                       (ex.v - s.dmin) * 255.0 / nullif(s.dmax - s.dmin, 0)
                   )), 0) - 128 AS BIGINT) AS qv
            FROM ex JOIN stats s USING (pos)
        )
        SELECT vec_id,
               CAST(MAX(label) AS INT) AS label,
               COUNT(*) AS n_dims,
               CAST(SUM(qv) AS BIGINT) AS q_sum,
               CAST(MIN(qv) AS BIGINT) AS q_min,
               CAST(MAX(qv) AS BIGINT) AS q_max
        FROM q
        GROUP BY vec_id
    """,
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization — the compression pass in front of any
    billion-vector ANN index: per-DIMENSION corpus min/max (64 rows, one
    narrow aggregate over the exploded vectors), broadcast back, then each
    component maps to floor((v−min)·255/(max−min))−128. floor, never
    round: both engines floor identically on the same IEEE doubles, while
    round() is half-up in Spark and half-even in DuckDB. The declared
    query verifies per-vector digests (sum/min/max of the quantized
    components) so the full codebook math is oracle-checked without
    comparing array columns.

    Scale shape: stats are dimension-count-sized (64 rows at any corpus
    size) — computed in one partial-agg pass and broadcast; the quantize
    itself is map-side. The groupBy(vec_id) digest exists only for the
    verification surface; a production writer would emit the transformed
    array per row with zero shuffles."""
    e = load(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "fv"),
    ).withColumn("v", F.col("fv").cast("double"))
    stats = ex.groupBy("pos").agg(
        F.min("v").alias("dmin"), F.max("v").alias("dmax")
    )
    qv = (
        F.coalesce(
            F.least(
                F.lit(255),
                F.floor(
                    (F.col("v") - F.col("dmin"))
                    * 255.0
                    / F.nullif(F.col("dmax") - F.col("dmin"), F.lit(0))
                ),
            ),
            F.lit(0),
        )
        - 128
    ).cast("bigint")
    return (
        ex.join(F.broadcast(stats), "pos")
        .select("vec_id", "label", qv.alias("qv"))
        .groupBy("vec_id")
        .agg(
            F.max("label").cast("int").alias("label"),
            F.count(F.lit(1)).alias("n_dims"),
            F.sum("qv").cast("bigint").alias("q_sum"),
            F.min("qv").cast("bigint").alias("q_min"),
            F.max("qv").cast("bigint").alias("q_max"),
        )
    )


@query(
    "sim_label_centroids",
    survey_ref="L3,F4,A1",
    doc="Per-label embedding centroids (the relational IVF training step).",
    oracle="""
        WITH ex AS (
            SELECT label, u.i AS pos, CAST(embedding[u.i] AS DOUBLE) AS v
            FROM embeddings,
                 LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u
        ), cent AS (
            SELECT label, pos,
                   CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / COUNT(v)
                       AS c
            FROM ex GROUP BY label, pos
        )
        SELECT CAST(label AS INT) AS label,
               COUNT(*) AS n_dims,
               round(MIN(c), 6) AS c_min,
               round(MAX(c), 6) AS c_max,
               round(CAST(SUM(CAST(c AS DECIMAL(28,6))) AS DOUBLE)
                     / COUNT(c), 6) AS c_mean
        FROM cent
        GROUP BY label
    """,
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid computation — mean-pooling vectors per class: the training
    step of an IVF index (k-means assignment phase) and of nearest-
    centroid classifiers, done relationally: posexplode to (label, pos,
    value), one grouped decimal-exact average per (label, pos). No vector
    ever reaches the driver; centroids stay a DataFrame (labels × 64
    rows) ready to broadcast into an assignment join. The declared output
    digests each centroid (min/max/mean over its 64 components, rounded —
    the decimal-exact per-component averages are identical before
    rounding, so digests agree)."""
    e = load(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode("embedding").alias("pos", "fv")
    ).withColumn("v", F.col("fv").cast("double"))
    cent = ex.groupBy("label", "pos").agg(
        (F.sum(F.col("v").cast("decimal(28,6)")).cast("double") / F.count("v")).alias(
            "c"
        )
    )
    return cent.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.round(F.min("c"), 6).alias("c_min"),
        F.round(F.max("c"), 6).alias("c_max"),
        F.round(
            F.sum(F.col("c").cast("decimal(28,6)")).cast("double") / F.count("c"), 6
        ).alias("c_mean"),
    ).select(
        F.col("label").cast("int").alias("label"),
        "n_dims",
        "c_min",
        "c_max",
        "c_mean",
    )


_IVF_QUERY_MOD = 50  # every 50th vector is a query
_IVF_TOP_K = 3

_SQL_IVF_DIST2 = (
    "list_sum(list_transform(range(1, 65), "
    "i -> (qvec[i] - cvec[i]) * (qvec[i] - cvec[i])))"
)


@query(
    "sim_ann_ivf_label_cells",
    survey_ref="L3,J4,W4",
    doc="Oracle-checked IVF: label-cell coarse quantizer + in-cell exact top-k.",
    oracle=f"""
        WITH ex AS (
            SELECT label, u.i AS pos, CAST(embedding[u.i] AS DOUBLE) AS v
            FROM embeddings,
                 LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u
        ), cent_rows AS (
            SELECT label, pos,
                   CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / COUNT(v) AS c
            FROM ex GROUP BY label, pos
        ), cent AS (
            SELECT label AS cell, list(c ORDER BY pos) AS cvec
            FROM cent_rows GROUP BY label
        ), q AS (
            SELECT vec_id AS query_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
            FROM embeddings WHERE vec_id % {_IVF_QUERY_MOD} = 0
        ), assigned AS (
            SELECT query_id, qvec, cell FROM (
                SELECT q.query_id, q.qvec, c.cell,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_SQL_IVF_DIST2}, c.cell
                       ) AS rn
                FROM q CROSS JOIN cent c
            ) WHERE rn = 1
        ), cand AS (
            SELECT a.query_id, a.cell,
                   e.vec_id AS neighbor_id,
                   {{dot}} / (sqrt({{qq}}) * sqrt({{ee}})) AS cos
            FROM assigned a
            JOIN embeddings e ON e.label = a.cell AND e.vec_id <> a.query_id
        )
        SELECT query_id, CAST(cell AS INT) AS cell, neighbor_id,
               round(cos, 6) AS cosine, rn AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id
            ) AS rn
            FROM cand
        )
        WHERE rn <= {_IVF_TOP_K}
    """.format(
        dot=(
            "list_sum(list_transform(range(1, 65), "
            "i -> qvec[i] * CAST(embedding[i] AS DOUBLE)))"
        ),
        qq="list_sum(list_transform(range(1, 65), i -> qvec[i] * qvec[i]))",
        ee=(
            "list_sum(list_transform(range(1, 65), "
            "i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))"
        ),
    ),
)
def sim_ann_ivf_label_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF similarity search with a DETERMINISTIC coarse quantizer — the
    oracle-checked twin of the kmeans IVF (sim_ann_ivf_kmeans stays
    rows-only because MLlib's iterative float math isn't SQL-expressible).
    Here the inverted lists are the label cells: centroids are the
    decimal-exact per-label means (relational, see sim_label_centroids),
    each query probes its nearest centroid by L2 (sequential-fold double
    math, the same verified-bit-identical idiom as the dot products), and
    exact cosine top-k runs only within that cell — the probe scans ~1/10
    of the corpus.

    Scale shape: centroids are cells × 64 doubles — broadcast; the
    assignment is a map-side cross join against 10 rows; the in-cell
    search shuffles candidates on cell only. Swapping labels for learned
    kmeans cells changes none of the dataflow."""
    e = load(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos", "fv")).select(
        "label", "pos", F.col("fv").cast("double").alias("v")
    )
    cent = (
        ex.groupBy("label", "pos")
        .agg(
            (F.sum(F.col("v").cast("decimal(28,6)")).cast("double") / F.count("v"))
            .alias("c")
        )
        .groupBy(F.col("label").alias("cell"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s.c,
            ).alias("cvec")
        )
    )
    q = e.filter(F.col("vec_id") % _IVF_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("qvec"),
    )
    dist2 = F.expr(
        "aggregate(zip_with(qvec, cvec, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    w_assign = Window.partitionBy("query_id").orderBy(dist2, "cell")
    assigned = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("query_id", "qvec", "cell")
    )
    dot = F.expr(
        "aggregate(zip_with(qvec, embedding, (x, y) -> x * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    qq = F.expr(
        "aggregate(zip_with(qvec, qvec, (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    ee = F.expr(
        "aggregate(zip_with(embedding, embedding, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    cand = assigned.join(
        e, (e.label == assigned.cell) & (e.vec_id != assigned.query_id)
    ).select(
        "query_id",
        "cell",
        F.col("vec_id").alias("neighbor_id"),
        (dot / (F.sqrt(qq) * F.sqrt(ee))).alias("cos"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), "neighbor_id"
    )
    return (
        cand.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _IVF_TOP_K)
        .select(
            "query_id",
            F.col("cell").cast("int").alias("cell"),
            "neighbor_id",
            F.round("cos", 6).alias("cosine"),
            "rank",
        )
    )


# ---------------------------------------------------------------- gram block
_GRAM_DIMS = 16  # leading-dim block; full 64-dim gram = 10 such blocks


def _gram_pairs() -> list[tuple[int, int]]:
    return [(i, j) for i in range(_GRAM_DIMS) for j in range(_GRAM_DIMS) if i <= j]


@query(
    "sim_gram_matrix_block",
    survey_ref="L3,A1,A8,F4",
    doc="Single-pass gram/covariance block over embeddings: 136 decimal-"
    "stabilized sums (dims 0..15, upper triangle) in one partial agg.",
    oracle=f"""
        SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
               CAST(SUM(CAST(
                   CAST(embedding[i + 1] AS DOUBLE) * CAST(embedding[j + 1] AS DOUBLE)
                   AS DECIMAL(28, 12))) AS DOUBLE) AS gram
        FROM embeddings, range(0, {_GRAM_DIMS}) t1(i), range(0, {_GRAM_DIMS}) t2(j)
        WHERE i <= j
        GROUP BY i, j
    """,
)
def sim_gram_matrix_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X'X block — the PCA / whitening / ridge-regression primitive.

    The scale-critical choice is HOW the d(d+1)/2 sums are computed: NOT
    by exploding each vector into d² (i, j, product) rows (a d²× row
    expansion that shuffles O(N·d²) rows — 4096× write amplification at
    d=64), but as 136 independent aggregate EXPRESSIONS over the intact
    array column. Each executor folds its partition into one 136-cell
    partial row (map-side combine), and the exchange moves exactly one
    row per partition — the same dataflow BLAS `syrk` + tree-reduce would
    use, expressed relationally. The upper triangle suffices (gram is
    symmetric); the result unpivots to (i, j, value) rows via `stack`
    only AFTER aggregation, when there are 136 cells total.

    Blocked at 16 dims to keep the generated aggregate inside Spark's
    64KB codegen method budget; a full 64-dim gram runs this plan over
    the 10 (i-block, j-block) tiles — each pass one scan, embarrassingly
    parallel across tiles. Products are computed in double (exact for
    float32 inputs) and summed in DECIMAL(28,12), so the result is
    order-independent and engine-exact (same contract as
    functions/numeric.dsum)."""
    e = load(spark, sf_dir, "embeddings")
    aggs = [
        F.sum(
            (
                F.col("embedding")[i].cast("double")
                * F.col("embedding")[j].cast("double")
            ).cast("decimal(28,12)")
        ).alias(f"g_{i}_{j}")
        for i, j in _gram_pairs()
    ]
    row = e.agg(*aggs)
    triples = ", ".join(
        f"{i}, {j}, CAST(g_{i}_{j} AS DOUBLE)" for i, j in _gram_pairs()
    )
    return row.select(
        F.expr(f"stack({len(_gram_pairs())}, {triples}) AS (i, j, gram)")
    )


# ----------------------------------------------------- random projection
_RP_DIMS = 8  # reduced dimensionality
_RP_OFFSET = 100  # LCG plane ids 100..107: disjoint from the LSH tables


def _rp_spark(p: int) -> str:
    from pyspark_for_ebook_classification_spark.functions.vectors import (
        DIM,
        _weight,
    )

    ws = ", ".join(f"{_weight(p, j)!r}D" for j in range(DIM))
    return (
        f"round(aggregate("
        f"  zip_with(embedding, array({ws}), (x, w) -> CAST(x AS DOUBLE) * w),"
        f"  CAST(0 AS DOUBLE), (acc, v) -> acc + v), 6)"
    )


def _rp_sql(p: int) -> str:
    from pyspark_for_ebook_classification_spark.functions.vectors import DIM

    return (
        f"round(list_sum(list_transform(range(1, {DIM + 1}),"
        f" i -> ((CAST(1103515245 AS BIGINT) * ({p} * {DIM} + i - 1) + 12345)"
        f" % 2001 - 1000) / 1000.0"
        f" * CAST(embedding[i] AS DOUBLE))), 6)"
    )


@query(
    "sim_random_projection_reduce",
    survey_ref="L3,F4",
    doc="Johnson-Lindenstrauss reduction: 64-dim embeddings projected to 8 "
    "dims through deterministic LCG hyperplanes (map-side only, zero "
    "shuffles).",
    oracle="SELECT vec_id, "
    + ", ".join(f"{_rp_sql(_RP_OFFSET + p)} AS rp{p}" for p in range(_RP_DIMS))
    + " FROM embeddings",
)
def sim_random_projection_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensionality reduction as a pure projection — the preprocessing
    step that makes downstream ANN / clustering 8× cheaper per distance
    while approximately preserving pairwise geometry (JL lemma). Uses the
    same deterministic LCG plane family as the LSH signatures (plane ids
    offset by 100 so the two operators stay decorrelated), but keeps the
    real-valued projections instead of collapsing to sign bits.

    Scale shape: the ideal one — no shuffle, no groupBy, no join; each
    row maps to its 8 sums independently inside whole-stage codegen
    (weights are constant-folded array literals, the fold is the
    engine-portable sequential double fold shared with spark_dot). At
    100 TB this runs at scan speed and writes an 8× narrower vector
    column. Projections round to 6dp, the repo's standard double-output
    parity contract."""
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        *[
            F.expr(_rp_spark(_RP_OFFSET + p)).alias(f"rp{p}")
            for p in range(_RP_DIMS)
        ],
    )


# ------------------------------------------------- product quantization
#: PQ geometry: 64 dims → 8 subspaces × 8 dims, 1 bit per dim (above /
#: below the dimension's global mid-range) → one 8-bit code per
#: subspace. Codebook = per-dim quarter-points of the corpus range —
#: deterministic (no k-means seed), so the whole transform is
#: oracle-checkable. sim_quantize_int8 is the flat scalar compressor;
#: this adds the SUBSPACE structure real PQ indexes use (code tables
#: per subspace, asymmetric distance on codes).
_PQ_SUBDIM = 8
_PQ_ERR_DEC = "DECIMAL(38,18)"


@query(
    "sim_product_quantization",
    survey_ref="L3,F4,A1",
    doc="Product quantization: 8 subspace codes per vector from a "
    "deterministic per-dimension grid codebook, plus the exact "
    "reconstruction error.",
    oracle=f"""
        WITH ex AS (
            SELECT vec_id, g.i - 1 AS pos, CAST(embedding[g.i] AS DOUBLE) AS v
            FROM embeddings, generate_series(1, 64) g(i)
        ),
        stats AS (
            SELECT pos, MIN(v) AS dmin, MAX(v) AS dmax FROM ex GROUP BY pos
        ),
        bits AS (
            SELECT vec_id, ex.pos // {_PQ_SUBDIM} AS sub,
                   CASE WHEN v > (dmin + dmax) / 2 THEN 1 ELSE 0 END AS bit,
                   ex.pos % {_PQ_SUBDIM} AS bitpos,
                   v, dmin, dmax
            FROM ex JOIN stats ON ex.pos = stats.pos
        ),
        subcodes AS (
            SELECT vec_id, sub,
                   SUM(bit << bitpos) AS code,
                   SUM(CAST(
                       (v - (dmin + (1 + 2*bit) * (dmax - dmin) / 4))
                       * (v - (dmin + (1 + 2*bit) * (dmax - dmin) / 4))
                       AS {_PQ_ERR_DEC})) AS errpart
            FROM bits GROUP BY vec_id, sub
        )
        SELECT vec_id,
               {", ".join(f"CAST(MAX(CASE WHEN sub = {s} THEN code END) AS BIGINT) AS code_s{s}" for s in range(8))},
               round(CAST(SUM(errpart) AS DOUBLE), 9) AS recon_err
        FROM subcodes GROUP BY vec_id
    """,
)
def sim_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode: one 8-bit code per 8-dim subspace + reconstruction error.

    Scale shape identical to sim_quantize_int8: the codebook is
    dimension-count-sized (64 rows — constant in corpus size), built in
    one partial-agg pass over the exploded vectors and broadcast back;
    encoding is then map-side. The two groupBys ((vec_id, sub) then
    vec_id) both combine map-side and shuffle one row per subspace /
    vector respectively. The reconstruction-error column is the honesty
    check a quantizer needs (it is what IVF-PQ recall tuning monitors);
    its per-dim squared terms accumulate in DECIMAL(38,18) so the sum
    is order-independent and hash-matches the oracle exactly.

    Code layout: bit d of code_s{{k}} = [dim 8k+d above its mid-range].
    Asymmetric-distance search would join these codes against per-query
    lookup tables (256 rows per subspace) — the same broadcast-join
    shape as the IVF probe (sim_ann_ivf_label_cells)."""
    e = load(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "fv")
    ).withColumn("v", F.col("fv").cast("double"))
    stats = ex.groupBy("pos").agg(F.min("v").alias("dmin"), F.max("v").alias("dmax"))
    joined = ex.join(F.broadcast(stats), "pos").select(
        "vec_id",
        F.expr(f"pos div {_PQ_SUBDIM}").alias("sub"),
        (F.col("pos") % _PQ_SUBDIM).alias("bitpos"),
        F.when(F.col("v") > (F.col("dmin") + F.col("dmax")) / 2, 1)
        .otherwise(0)
        .alias("bit"),
        "v",
        "dmin",
        "dmax",
    )
    centroid = F.col("dmin") + (1 + 2 * F.col("bit")) * (F.col("dmax") - F.col("dmin")) / 4
    sq = (F.col("v") - centroid) * (F.col("v") - centroid)
    subcodes = joined.groupBy("vec_id", "sub").agg(
        F.sum(F.expr("bit << bitpos")).alias("code"),
        F.sum(sq.cast(_PQ_ERR_DEC)).alias("errpart"),
    )
    return subcodes.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("sub") == s, F.col("code")))
            .cast("bigint")
            .alias(f"code_s{s}")
            for s in range(8)
        ],
        F.round(F.sum("errpart").cast("double"), 9).alias("recon_err"),
    )


_ADC_K = 5
_ADC_NQ = 10


@query(
    "sim_pq_adc_topk",
    survey_ref="L3,J4,W4,A1",
    doc="PQ asymmetric-distance search: top-5 neighbors per query "
    "computed from 1-bit-per-dim codes + a broadcast per-query lookup "
    "table — the codes-only ANN probe.",
    oracle=f"""
        WITH ex AS (
            SELECT vec_id, g.i - 1 AS pos, CAST(embedding[g.i] AS DOUBLE) AS v
            FROM embeddings, generate_series(1, 64) g(i)
        ),
        stats AS (
            SELECT pos, MIN(v) AS dmin, MAX(v) AS dmax FROM ex GROUP BY pos
        ),
        bits AS (
            SELECT vec_id, ex.pos,
                   CASE WHEN v > (dmin + dmax) / 2 THEN 1 ELSE 0 END AS bit
            FROM ex JOIN stats ON ex.pos = stats.pos
        ),
        lut AS (
            SELECT q.vec_id AS query_id, q.pos, b.bit,
                   CAST((q.v - (s.dmin + (1 + 2*b.bit) * (s.dmax - s.dmin) / 4))
                        * (q.v - (s.dmin + (1 + 2*b.bit) * (s.dmax - s.dmin) / 4))
                        AS DECIMAL(38,18)) AS sq
            FROM ex q JOIN stats s ON q.pos = s.pos,
                 (VALUES (0), (1)) b(bit)
            WHERE q.vec_id < {_ADC_NQ}
        ),
        scored AS (
            SELECT l.query_id, c.vec_id AS neighbor_id,
                   CAST(SUM(l.sq) AS DOUBLE) AS adc
            FROM bits c
            JOIN lut l ON l.pos = c.pos AND l.bit = c.bit
            WHERE c.vec_id <> l.query_id
            GROUP BY l.query_id, c.vec_id
        )
        SELECT query_id, neighbor_id, round(adc, 9) AS adc_dist, rn AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY adc, neighbor_id
            ) AS rn
            FROM scored
        )
        WHERE rn <= {_ADC_K}
    """,
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric distance computation — how PQ indexes actually answer
    queries: corpus vectors exist ONLY as codes (here 1 bit/dim from
    the sim_product_quantization grid codebook); each query precomputes
    a lookup table of its squared distance to every (dim, centroid)
    cell (|Q| × 64 dims × 2 cells = 1,280 rows — constant in corpus
    size, broadcast); scoring a corpus vector is then 64 table lookups
    summed, never a float dot with the original embedding. At billions
    of vectors this is the memory story that makes ANN fit in RAM
    (codes are 64x smaller than float32 vectors) and the scan story
    (LUT join + partial-agg sum, whole-stage codegen, no Python). The
    per-pair sums accumulate in DECIMAL(38,18) so ranking ties are
    impossible to get wrong cross-engine; top-5 per query via the same
    WindowGroupLimit shape as sim_topk_bruteforce. Recall vs the exact
    search is measured and pinned in tests/test_similarity_golden.py."""
    e = load(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "fv")
    ).withColumn("v", F.col("fv").cast("double"))
    stats = ex.groupBy("pos").agg(F.min("v").alias("dmin"), F.max("v").alias("dmax"))
    bits = ex.join(F.broadcast(stats), "pos").select(
        "vec_id",
        "pos",
        F.when(F.col("v") > (F.col("dmin") + F.col("dmax")) / 2, 1)
        .otherwise(0)
        .alias("bit"),
    )
    centroid = F.col("dmin") + (1 + 2 * F.col("bit")) * (F.col("dmax") - F.col("dmin")) / 4
    lut = (
        ex.filter(F.col("vec_id") < _ADC_NQ)
        .join(F.broadcast(stats), "pos")
        .crossJoin(F.broadcast(spark.range(2).select(F.col("id").cast("int").alias("bit"))))
        .select(
            F.col("vec_id").alias("query_id"),
            "pos",
            "bit",
            ((F.col("v") - centroid) * (F.col("v") - centroid))
            .cast("decimal(38,18)")
            .alias("sq"),
        )
    )
    scored = (
        bits.join(F.broadcast(lut), ["pos", "bit"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("sq").cast("double").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _ADC_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("adc", 9).alias("adc_dist"),
            F.col("rn").alias("rank"),
        )
    )


#: hard-negative margin: a negative within this cosine distance of the best
#: positive is "semi-hard" (the contrastive-training sweet spot)
_HN_MARGIN = 0.05
#: two-phase top-k fan-out: per-(query, salt) local top-k bounds every
#: window partition; size to cluster parallelism (a width knob, not a
#: data knob — results are salt-invariant, pinned by test)
_HN_SALT = 32


@query(
    "sim_hard_negative_mining",
    survey_ref="L3,L4,J6,W4,A1",
    doc="Contrastive-training hard negatives: per query, the top-k most "
    "similar OTHER-label vectors, each with its margin against the best "
    "same-label positive and a semi-hard flag.",
    oracle=f"""
        WITH {_SQL_NORMED},
        q AS (SELECT vec_id AS query_id, label AS qlabel,
                     embedding AS qe, nrm AS qn
              FROM normed WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT q.query_id, q.qlabel, e.vec_id AS cand_id, e.label,
                   {sql_dot('qe', 'embedding')} / (qn * e.nrm) AS cos
            FROM q JOIN normed e ON e.vec_id <> q.query_id
        ),
        best_pos AS (
            SELECT query_id, MAX(cos) AS pos_cos
            FROM scored WHERE label = qlabel GROUP BY query_id
        )
        SELECT s.query_id,
               s.cand_id AS negative_id,
               round(s.cos, 6) AS neg_cosine,
               round(p.pos_cos, 6) AS best_pos_cosine,
               round(s.cos - p.pos_cos, 6) AS margin,
               (s.cos > p.pos_cos - {_HN_MARGIN}) AS semi_hard,
               rn AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, cand_id
            ) AS rn
            FROM scored WHERE label <> qlabel
        ) s
        JOIN best_pos p USING (query_id)
        WHERE rn <= {TOP_K}
    """,
)
def sim_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — the selection step a contrastive-training
    data pipeline runs between dedup and packing: for each anchor (query)
    vector, the top-k most-similar vectors with a DIFFERENT label are the
    hard negatives, and each is labeled with its margin against the best
    same-label positive (cos(neg) − max cos(pos)). Negatives inside
    _HN_MARGIN of the positive are "semi-hard" — close enough to teach
    the model something, not so close they're probably label noise
    (data_contrastive_pairs is the hash-random-negative counterpart; this
    is the quality-over-randomness upgrade).

    Scale shape — ONE corpus pass, ONE corpus-sized shuffle, nothing
    materialized: the anchor set broadcasts (it's a mining batch, always
    small relative to the corpus); the scored stream shuffles once on
    (query_id, salt) where one salted window stage computes BOTH the
    negatives-first local rank and a whole-frame conditional max over
    the same-label positives. Salting is the lossless two-phase top-k
    (every true global top-k negative survives its salt group's top-k),
    so no window partition exceeds |corpus|/SALT rows — no
    reducer-per-query bottleneck — and per salt group the rank-1 row is
    kept as the positive-max carrier, so stage 2 sees ≤ (k+1)·SALT rows
    per query: per-query global rank and the positive max reduce over a
    trivially small exchange. The r5 shape instead forked two branches
    off a localCheckpoint(eager) of the full |corpus|×|Q| scored table —
    a corpus-proportional executor-disk materialization (and without
    the checkpoint, Catalyst pushes each branch's filter below the
    shared repartition, splitting it into two scoring passes — measured:
    no ReusedExchange fires). The single-window shape needs neither the
    checkpoint nor the reuse. _HN_SALT scales with cluster width, not
    data."""
    e = _normed(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            (F.col("label") != F.col("qlabel")).cast("int").alias("is_neg"),
            F.pmod(F.col("vec_id"), F.lit(_HN_SALT)).alias("salt"),
            (spark_dot("qe", "embedding") / (F.col("qn") * F.col("nrm"))).alias(
                "cos"
            ),
        )
    )
    # stage 1: negatives-first rank + positive-max carrier, one window op
    w_salt = Window.partitionBy("query_id", "salt").orderBy(
        F.desc("is_neg"), F.desc("cos"), F.asc("cand_id")
    )
    pos_mx_salt = F.max(F.when(F.col("is_neg") == 0, F.col("cos"))).over(
        w_salt.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    kept = (
        scored.withColumn("rn_salt", F.row_number().over(w_salt))
        .withColumn("pos_mx_salt", pos_mx_salt)
        # negatives rank 1..n_neg under the negatives-first order, so this
        # is the per-salt top-k; rn_salt == 1 additionally keeps one row
        # per salt group (possibly positive) purely to carry pos_mx_salt
        .filter(
            ((F.col("is_neg") == 1) & (F.col("rn_salt") <= TOP_K))
            | (F.col("rn_salt") == 1)
        )
    )
    # stage 2: ≤ (k+1)·SALT rows per query — global rank + positive max
    w_q = Window.partitionBy("query_id")
    w_rank = w_q.orderBy(F.desc("is_neg"), F.desc("cos"), F.asc("cand_id"))
    pos_cos = F.max("pos_mx_salt").over(
        w_rank.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        kept.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("pos_cos", pos_cos)
        # pos_cos null = no same-label candidate exists for the query:
        # drop, matching the oracle's inner join against best_pos
        .filter(
            (F.col("is_neg") == 1)
            & (F.col("rn") <= TOP_K)
            & F.col("pos_cos").isNotNull()
        )
        .select(
            "query_id",
            F.col("cand_id").alias("negative_id"),
            F.round("cos", 6).alias("neg_cosine"),
            F.round("pos_cos", 6).alias("best_pos_cosine"),
            F.round(F.col("cos") - F.col("pos_cos"), 6).alias("margin"),
            (F.col("cos") > F.col("pos_cos") - _HN_MARGIN).alias("semi_hard"),
            F.col("rn").alias("rank"),
        )
    )


#: SemDeDup drop threshold: a vector whose cosine to a LOWER-id vector
#: in the same cell reaches this is a semantic duplicate (tuned to the
#: synthetic embedding spread — within-cell cosines top out near 0.48)
_SEMDEDUP_TAU = 0.3

#: target EXPECTED cell population: SRP refinement bits are added until
#: n / (n_labels · 2^bits) <= this, so per-cell pairwise cost is
#: O(TARGET²·d) independent of corpus size.
_SEMDEDUP_TARGET_CELL = 32
#: static SRP signature width — the refinement DEPTH cap, a build-time
#: constant: 8 bits · 10 labels ≈ 2.5k cells ≈ 80k vectors at target
#: population. A 100 TB corpus raises this (each bit is one more inline
#: plane; 32 bits covers ~10^13 vectors) — the bits LADDER below already
#: generates from the constant, nothing else changes.
_SEMDEDUP_MAX_REFINE = 8
#: plane ids 32.. — disjoint from the ANN tables (planes 0–15) so cell
#: refinement and ANN bucketing stay independent hash families.
_SEMDEDUP_PLANE_OFFSET = 32

#: corpus-adaptive refinement depth, exact integer arithmetic only (no
#: log2 — libm rounding at power-of-two boundaries could diverge between
#: engines): smallest b with n <= n_labels · TARGET · 2^b. The SAME text
#: parses in Spark SQL and DuckDB, so both engines derive the identical
#: depth from the identical (n, nl) scalars.
_SEMDEDUP_BITS = (
    "CASE "
    + " ".join(
        f"WHEN n <= nl * {_SEMDEDUP_TARGET_CELL * (1 << b)} THEN {b}"
        for b in range(_SEMDEDUP_MAX_REFINE + 1)
    )
    + f" ELSE {_SEMDEDUP_MAX_REFINE} END"
)

#: cell id = label + '|' + first `bits` SRP sign-bits: same text both engines.
_SEMDEDUP_CELL = f"concat(CAST(label AS STRING), '|', substring(sig, 1, {_SEMDEDUP_BITS}))"


@query(
    "dedup_semantic_embedding",
    survey_ref="L2,L3,J8,A1",
    doc="SemDeDup-style semantic dedup over corpus-adaptive cells "
    "(label × SRP-prefix): within each cell, drop every vector whose "
    "cosine to a lower-id cell-mate reaches tau; emits the keep/drop "
    "verdict plus the max lower-id cosine per vector.",
    oracle=f"""
        WITH {_SQL_NORMED},
        stats AS (
            SELECT count(*) AS n, count(DISTINCT label) AS nl FROM normed
        ),
        sigged AS (
            SELECT vec_id, embedding, label, nrm,
                   {sql_lsh_bucket('embedding', _SEMDEDUP_MAX_REFINE, 64, _SEMDEDUP_PLANE_OFFSET)} AS sig
            FROM normed
        ),
        celled AS (
            SELECT vec_id, embedding, label, nrm, {_SEMDEDUP_CELL} AS cell
            FROM sigged CROSS JOIN stats
        ),
        lower_max AS (
            SELECT b.vec_id,
                   MAX({sql_dot('a.embedding', 'b.embedding')}
                       / (a.nrm * b.nrm)) AS mx
            FROM celled a
            JOIN celled b ON a.cell = b.cell AND a.vec_id < b.vec_id
            GROUP BY b.vec_id
        )
        SELECT c.vec_id,
               c.cell,
               (lm.mx IS NULL OR lm.mx < {_SEMDEDUP_TAU}) AS keep,
               round(lm.mx, 6) AS max_lower_cos
        FROM celled c
        LEFT JOIN lower_max lm ON lm.vec_id = c.vec_id
    """,
)
def dedup_semantic_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixes ``semdedup`` at its defaults on the labeled embeddings
    table: tau = _SEMDEDUP_TAU, target cell population
    _SEMDEDUP_TARGET_CELL, refinement depth cap _SEMDEDUP_MAX_REFINE,
    SRP plane family 32..39 — the values _SEMDEDUP_CELL renders for the
    oracle. The one-shot keep policy, the corpus-adaptive cells and the
    scale shape are documented on ``semdedup``."""
    return semdedup(load(spark, sf_dir, "embeddings"))


#: grid multi-probe parameters: 2^_GRID_BITS cells; probing the home cell
#: plus all Hamming-1 neighbors visits (_GRID_BITS + 1) / 2^_GRID_BITS of
#: the corpus in expectation (3.5% at 8 bits) — the recall/cost dial.
_GRID_BITS = 8
#: plane family 48..55 — disjoint from the ANN tables (0–15) and the
#: SemDeDup refinement planes (32–39).
_GRID_PLANE_OFFSET = 48

_SQL_GRID_CODED = f"""
        coded AS (
            SELECT vec_id, embedding, nrm,
                   {sql_srp_code('embedding', _GRID_BITS, 64, _GRID_PLANE_OFFSET)} AS code
            FROM normed
        )
"""


@query(
    "sim_ann_grid_multiprobe",
    survey_ref="L3,J1,W4",
    doc="Multi-probe ANN over a deterministic SRP cell grid: each query "
    "probes its own cell plus every Hamming-1 neighbor cell, scores only "
    "the probed candidates, and keeps the cosine top-k.",
    oracle=f"""
        WITH {_SQL_NORMED},
        {_SQL_GRID_CODED},
        q AS (
            SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, code AS qcode
            FROM coded WHERE vec_id < {N_QUERIES}
        ),
        probes AS (
            SELECT query_id, qe, qn,
                   CASE WHEN f = -1 THEN qcode
                        ELSE xor(qcode, CAST(1 << f AS BIGINT)) END AS cell
            FROM q CROSS JOIN range(-1, {_GRID_BITS}) t(f)
        ),
        scored AS (
            SELECT p.query_id,
                   c.vec_id AS neighbor_id,
                   {sql_dot('p.qe', 'c.embedding')} / (p.qn * c.nrm) AS cos
            FROM probes p
            JOIN coded c ON c.code = p.cell
            WHERE c.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rn AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id
            ) AS rn
            FROM scored
        )
        WHERE rn <= {TOP_K}
    """,
)
def sim_ann_grid_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixes ``ann_topk``'s SRP grid multi-probe method at a
    _GRID_BITS-bit grid (plane family 48..55) and k=TOP_K over the
    registered workload: each query probes its home cell plus all
    Hamming-1 flips, ~(_GRID_BITS+1)/2^_GRID_BITS of the corpus. Unlike
    sim_ann_ivf_kmeans the cells are deterministic, so the query stays
    oracle-expressible. The algorithm and its scale shape are
    documented on ``ann_topk``."""
    return ann_topk(
        *_ann_workload(spark, sf_dir),
        k=TOP_K,
        method="srp_multiprobe",
        grid_bits=_GRID_BITS,
        plane_offset=_GRID_PLANE_OFFSET,
    )


# oracle composition: both constituent oracles are registered above in THIS
# module, so the registry dict already holds them — no _load() re-entrancy.
from pyspark_for_ebook_classification_spark.plans.registry import (  # noqa: E402
    _REGISTRY as _REG,
)

_SQL_BRUTEFORCE_TOPK = _REG["sim_topk_bruteforce"].oracle
_SQL_GRID_MULTIPROBE = _REG["sim_ann_grid_multiprobe"].oracle


@query(
    "sim_grid_recall_report",
    survey_ref="L3,A1,J2",
    doc="ANN rollout-acceptance number: per-query recall@k of the grid "
    "multi-probe index against the exact brute-force top-k.",
    oracle=f"""
        WITH gt AS (
            SELECT query_id, neighbor_id FROM ({_SQL_BRUTEFORCE_TOPK})
        ),
        ann AS (
            SELECT query_id, neighbor_id FROM ({_SQL_GRID_MULTIPROBE})
        )
        SELECT g.query_id,
               CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
               round(CAST(COUNT(a.neighbor_id) AS DOUBLE) / {TOP_K}, 6)
                   AS recall_at_k
        FROM gt g
        LEFT JOIN ann a
          ON a.query_id = g.query_id AND a.neighbor_id = g.neighbor_id
        GROUP BY g.query_id
    """,
)
def sim_grid_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k for sim_ann_grid_multiprobe against the exact
    sim_topk_bruteforce ground truth — the dedup_lsh_candidate_recall
    discipline applied to the ANN family: never ship an approximate
    index on its theoretical recall; measure the realized number on the
    production parameters before trusting it corpus-wide. Composes the
    two REGISTERED queries (Spark side calls their functions, oracle
    side nests their oracle SQL verbatim), so this report can never
    drift from what the index actually serves.

    What it measures on THIS corpus (and why that's the point): the
    driver embeddings are near-random — true top-5 neighbors sit at
    cosine ≈ 0.32, i.e. θ ≈ 71°, so per-plane sign agreement is
    1 − θ/π ≈ 0.60 and P(Hamming ≤ 1 over 8 bits) = p⁸ + 8p⁷(1−p)
    ≈ 0.11. Measured macro recall@5: 0.14 at sf0.01, 0.06 at sf0.1 —
    the theoretical capture rate, confirming the index does exactly
    what SRP math promises and no more. On clustered production
    embeddings (neighbor cosines 0.8+, p ≥ 0.80, capture ≈ 0.50 at
    Hamming ≤ 1 — and cells align with density) the same dial reads
    far higher; THIS report is how you find out before rollout, and
    pytest pins the measured-vs-theory band so a silent plane-family
    regression can't hide.

    Scale shape: ground truth is |Q|·k rows and the ANN result ≤ |Q|·k
    rows — the join and per-query count are mining-batch-sized
    regardless of corpus size; the corpus-scale work is whatever the two
    constituent queries already do (brute force deliberately stays the
    tiny calibration query; the index is the scale path)."""
    gt = sim_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    ann = (
        sim_ann_grid_multiprobe(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        gt.join(ann, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").cast("bigint").alias("n_hits"),
            F.round(F.count("hit").cast("double") / TOP_K, 6).alias(
                "recall_at_k"
            ),
        )
    )


# --------------------------------------------- MMR diversified re-ranking

_MMR_POOL = 20  # relevance candidate pool per query (the ANN stage's k)
_MMR_K = 5      # diversified results to keep
#: λ = 0.5 exactly representable: score = λ·rel − (1−λ)·max sim-to-selected


def _mmr_greedy_sql(lam: float, k: int) -> str:
    """The greedy-MMR loop as ONE JVM aggregate expression over a
    per-query candidate array ``cs`` (struct fields: cand_id, rel,
    embedding, nrm) — r14 optimization (guide §1.2 step 1 + §2.4):
    the former K−1 rounds of {bounded join + window + eager
    localCheckpoint} cost one Spark JOB each (the r10 BENCHNOTES
    measurement showed job count, not pairwise volume, dominates at
    |Q|·POOL² ≤ 10×100² rows), and the POOL² pairwise table existed
    only to feed those rounds. Folding the whole selection into one
    ``aggregate(sequence(1, k), ...)`` removes the psim table, every
    per-step shuffle/window, and ALL checkpoints: the MMR tail becomes
    one hash aggregate (collect the bounded pool per query) + one
    codegen projection, i.e. a single Spark job end to end.

    Bit-equality with the former dataframe loop (and the unrolled
    DuckDB oracle): the candidate→selected cosine is the identical
    ``spark_dot`` fold (zip_with products in array order, sequential
    double adds, candidate-side norm first in the divisor); mxs is a
    max over doubles (order-free); each step's argmax uses the same
    (mmr DESC, cand_id ASC) total order, so the collect_list input
    order cannot matter; λ/(1−λ) literals are CAST(repr AS DOUBLE),
    byte-identical to F.lit. Step 1 ARGMAXES rel itself (the old loop's
    pick1 ordering — valid for every allowed λ including 0, where the
    emitted λ·rel collapses to a constant) and emits λ·rel.

    Scale shape: per-query pools are bounded by construction (the
    callers rank-truncate before grouping), so the collected array and
    the k·|pool|·|sel| dot products are O(pool²·dim) per query row —
    corpus-independent, no shuffle beyond the one pool-collecting
    aggregate. Pools ~100× larger would want the array form revisited
    (one task holds a pool); that is the same crossover BENCHNOTES
    records for the former table form."""
    lm = f"CAST({lam!r} AS DOUBLE)"
    om = f"CAST({(1.0 - lam)!r} AS DOUBLE)"
    dot = (
        "aggregate(zip_with(c.embedding, s.embedding,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    mmr = (
        f"CASE WHEN size(st) = 0 THEN {lm} * c.rel"
        f" ELSE {lm} * c.rel - {om} * array_max(transform(st, s -> {dot}"
        f" / (c.nrm * s.nrm))) END"
    )
    unselected = "filter(cs, c -> NOT exists(st, s -> s.cand_id = c.cand_id))"
    # 'srt' is the ARGMAX key, 'mmr' the emitted score (r14 ADVICE): the
    # old dataframe loop picked step 1 by rel DESC regardless of λ, but
    # sorting on the emitted λ·rel collapses to 0 for the allowed λ=0 and
    # fell through to cand_id — so step 1 sorts on rel itself (for λ>0 an
    # order-identical positive scaling; for the declared λ=0.5 the
    # halving is bitwise-exact) and later steps sort on mmr verbatim.
    # The outer transform reuses the inner's mmr so the pairwise-dot
    # array_max is computed once per candidate, not twice.
    scored_base = (
        f"transform({unselected},"
        " c -> named_struct('cand_id', c.cand_id, 'rel', c.rel,"
        f" 'embedding', c.embedding, 'nrm', c.nrm,"
        f" 'mmr', {mmr}, 'rank', CAST(stp AS INT)))"
    )
    scored = (
        f"transform({scored_base},"
        " t -> named_struct('cand_id', t.cand_id, 'rel', t.rel,"
        f" 'embedding', t.embedding, 'nrm', t.nrm,"
        f" 'mmr', t.mmr, 'rank', t.rank,"
        f" 'srt', CASE WHEN size(st) = 0 THEN t.rel ELSE t.mmr END))"
    )
    cmp_ = (
        "(a, b) -> CASE WHEN a.srt > b.srt THEN -1 WHEN a.srt < b.srt THEN 1"
        " WHEN a.cand_id < b.cand_id THEN -1 WHEN a.cand_id > b.cand_id THEN 1"
        " ELSE 0 END"
    )
    init = (
        f"slice(transform(cs, c -> named_struct('cand_id', c.cand_id,"
        " 'rel', c.rel, 'embedding', c.embedding, 'nrm', c.nrm,"
        f" 'mmr', CAST(0 AS DOUBLE), 'rank', 0,"
        f" 'srt', CAST(0 AS DOUBLE))), 1, 0)"
    )
    step = (
        f"(st, stp) -> CASE WHEN size({unselected}) = 0 THEN st"
        f" ELSE array_append(st, get(array_sort({scored}, {cmp_}), 0)) END"
    )
    return f"aggregate(sequence(1, {k}), {init}, {step})"


def _mmr_oracle(lam: float = 0.5) -> str:
    """Unrolled greedy-MMR oracle; ``lam`` must be exactly representable
    (0.5/0.25/0.75) so the SQL literal and F.lit agree bit-for-bit."""
    lm, om = repr(lam), repr(1.0 - lam)
    head = f"""{_SQL_NORMED},
        q AS (
            SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
            FROM normed WHERE vec_id < {N_QUERIES}
        ),
        scored AS (
            SELECT q.query_id, e.vec_id AS cand_id, e.embedding, e.nrm,
                   {sql_dot('qe', 'e.embedding')} / (qn * e.nrm) AS rel
            FROM q JOIN normed e ON e.vec_id <> q.query_id
        ),
        pool AS MATERIALIZED (
            SELECT query_id, cand_id, embedding, nrm, rel FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY rel DESC, cand_id
                ) AS rn FROM scored
            ) WHERE rn <= {_MMR_POOL}
        ),
        psim AS MATERIALIZED (
            SELECT p1.query_id, p1.cand_id AS a, p2.cand_id AS b,
                   {sql_dot('p1.embedding', 'p2.embedding')}
                       / (p1.nrm * p2.nrm) AS sim
            FROM pool p1
            JOIN pool p2 ON p1.query_id = p2.query_id
                        AND p1.cand_id <> p2.cand_id
        ),
        pick1 AS (
            SELECT query_id, cand_id, rel, {lm} * rel AS mmr, 1 AS rank
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY rel DESC, cand_id
                ) AS rn FROM pool
            ) WHERE rn = 1
        ),
        sel1 AS (SELECT query_id, cand_id FROM pick1)"""
    steps = [head]
    for k in range(2, _MMR_K + 1):
        steps.append(f"""
        score{k} AS (
            SELECT p.query_id, p.cand_id, p.rel,
                   {lm} * p.rel - {om} * MAX(ps.sim) AS mmr
            FROM pool p
            JOIN sel{k - 1} s
              ON s.query_id = p.query_id
            JOIN psim ps
              ON ps.query_id = p.query_id AND ps.a = p.cand_id
             AND ps.b = s.cand_id
            WHERE NOT EXISTS (
                SELECT 1 FROM sel{k - 1} x
                WHERE x.query_id = p.query_id AND x.cand_id = p.cand_id
            )
            GROUP BY p.query_id, p.cand_id, p.rel
        ),
        pick{k} AS (
            SELECT query_id, cand_id, rel, mmr, {k} AS rank
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY mmr DESC, cand_id
                ) AS rn FROM score{k}
            ) WHERE rn = 1
        ),
        sel{k} AS (
            SELECT query_id, cand_id FROM sel{k - 1}
            UNION ALL
            SELECT query_id, cand_id FROM pick{k}
        )""")
    picks = "\n            UNION ALL\n            ".join(
        f"SELECT * FROM pick{k}" for k in range(1, _MMR_K + 1)
    )
    return (
        "WITH "
        + ",".join(steps)
        + f"""
        SELECT query_id, cand_id, round(rel, 6) AS relevance,
               round(mmr, 6) AS mmr_score, rank
        FROM (
            {picks}
        )"""
    )


@query(
    "sim_mmr_diversified_topk",
    survey_ref="L3,W4,J8,A1",
    doc="Maximal-marginal-relevance re-ranking: from each query's top-20 "
    "relevance pool, greedily select 5 results balancing relevance "
    "against max similarity to the already-selected set (λ = 0.5).",
    oracle=_mmr_oracle(),
)
def sim_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixes ``mmr_rerank`` (Carbonell & Goldstein 1998) at λ=0.5 and
    k=_MMR_K over each registered query's top-_MMR_POOL cosine pool;
    outputs rounded to 6 places. λ=0.5 is exactly representable, so the
    Spark literal and the oracle's SQL literal are the same double. The
    greedy algorithm and its scale shape are documented on
    ``mmr_rerank``."""
    out = mmr_rerank(_mmr_pool(spark, sf_dir), lam=0.5, k=_MMR_K)
    return out.select(
        "query_id",
        "cand_id",
        F.round("rel", 6).alias("relevance"),
        F.round("mmr", 6).alias("mmr_score"),
        "rank",
    )


def _mmr_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, cand_id, rel, embedding) — each registered query's
    top-_MMR_POOL candidates by unrounded cosine relevance, the MMR
    oracles' ``pool`` CTE; shared by sim_mmr_diversified_topk and
    sim_mmr_library_topk."""
    e = _normed(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            "embedding",
            (spark_dot("qe", "embedding") / (F.col("qn") * F.col("nrm"))).alias(
                "rel"
            ),
        )
    )
    w_rel = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") <= _MMR_POOL)
        .select("query_id", "cand_id", "rel", "embedding")
    )


# ------------------------------------------------- IVF+PQ combined (IVFADC)


@query(
    "sim_ivfpq_adc_topk",
    survey_ref="L3,J4,W4,A1",
    doc="IVFADC — the billion-scale ANN shape: multi-probe cell pruning "
    "bounds the candidate set, then PQ asymmetric distance scores the "
    "survivors from codes alone; top-k per query without ever touching "
    "a candidate's float vector.",
    oracle=f"""
        WITH {_SQL_NORMED},
        {_SQL_GRID_CODED},
        q AS (
            SELECT vec_id AS query_id, code AS qcode
            FROM coded WHERE vec_id < {_ADC_NQ}
        ),
        probes AS (
            SELECT query_id,
                   CASE WHEN f = -1 THEN qcode
                        ELSE xor(qcode, CAST(1 << f AS BIGINT)) END AS cell
            FROM q CROSS JOIN range(-1, {_GRID_BITS}) t(f)
        ),
        cand AS (
            SELECT p.query_id, c.vec_id
            FROM probes p JOIN coded c ON c.code = p.cell
            WHERE c.vec_id <> p.query_id
        ),
        ex AS (
            SELECT vec_id, g.i - 1 AS pos, CAST(embedding[g.i] AS DOUBLE) AS v
            FROM embeddings, generate_series(1, 64) g(i)
        ),
        stats AS (
            SELECT pos, MIN(v) AS dmin, MAX(v) AS dmax FROM ex GROUP BY pos
        ),
        bits AS (
            SELECT vec_id, ex.pos,
                   CASE WHEN v > (dmin + dmax) / 2 THEN 1 ELSE 0 END AS bit
            FROM ex JOIN stats ON ex.pos = stats.pos
        ),
        lut AS (
            SELECT q.vec_id AS query_id, q.pos, b.bit,
                   CAST((q.v - (s.dmin + (1 + 2*b.bit) * (s.dmax - s.dmin) / 4))
                        * (q.v - (s.dmin + (1 + 2*b.bit) * (s.dmax - s.dmin) / 4))
                        AS DECIMAL(38,18)) AS sq
            FROM ex q JOIN stats s ON q.pos = s.pos,
                 (VALUES (0), (1)) b(bit)
            WHERE q.vec_id < {_ADC_NQ}
        ),
        scored AS (
            SELECT cd.query_id, cd.vec_id AS neighbor_id,
                   CAST(SUM(l.sq) AS DOUBLE) AS adc
            FROM cand cd
            JOIN bits c ON c.vec_id = cd.vec_id
            JOIN lut l ON l.query_id = cd.query_id
                      AND l.pos = c.pos AND l.bit = c.bit
            GROUP BY cd.query_id, cd.vec_id
        )
        SELECT query_id, neighbor_id, round(adc, 9) AS adc_dist, rn AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY adc, neighbor_id
            ) AS rn
            FROM scored
        )
        WHERE rn <= {_ADC_K}
    """,
)
def sim_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ combined — the index layout every billion-scale vector
    store actually ships (FAISS IVFADC lineage): the coarse quantizer
    (the deterministic SRP cell grid of sim_ann_grid_multiprobe, probed
    at Hamming ≤ 1) prunes the corpus to ~(bits+1)/2^bits of its cells,
    and the survivors are scored by PQ asymmetric distance (the 1-bit
    grid codebook of sim_pq_adc_topk) — codes only, never a candidate's
    original floats. The two registered constituents each prove one
    half; this query proves the composition end-to-end against a single
    SQL oracle.

    Scale shape: probe list (|Q|·9 rows) and per-query LUT (|Q|·64·2
    rows) both BROADCAST — constant in corpus size; the corpus streams
    once through the cell-code expression into the broadcast probe join,
    and only the candidate set (measured ~3.5% of corpus × |Q|) pays the
    64-way position explode + LUT lookup + partial-agg sum. No corpus
    shuffle anywhere: the one exchange below the top-k window is
    candidate-sized. At rest you'd store (cell, pq codes) partitioned BY
    cell, turning the probe join into partition-pruned reads and
    skipping the explode entirely — the dataflow after that read is
    exactly this plan. DECIMAL(38,18) accumulation keeps ADC ranking
    ties impossible to get wrong cross-engine; recall vs the exact
    search is measured and pinned in tests/test_similarity_golden.py."""
    e = _normed(spark, sf_dir).select(
        "vec_id",
        spark_srp_code("embedding", _GRID_BITS, 64, _GRID_PLANE_OFFSET).alias(
            "code"
        ),
    )
    q = e.filter(F.col("vec_id") < _ADC_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("code").alias("qcode")
    )
    probe_cells = F.array(
        F.col("qcode"),
        *[F.col("qcode").bitwiseXOR(F.lit(1 << i)) for i in range(_GRID_BITS)],
    )
    probes = q.select("query_id", F.explode(probe_cells).alias("cell"))
    # candidate list is |Q| × ~3.5% of corpus — materialize it once, as it
    # feeds BOTH the ADC scoring join and the candidate-only PQ encode
    # below (without this the SRP-code corpus scan runs twice)
    cand = (
        e.join(F.broadcast(probes), e["code"] == probes["cell"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    raw = load(spark, sf_dir, "embeddings")
    ex = raw.select(
        "vec_id", F.posexplode("embedding").alias("pos", "fv")
    ).withColumn("v", F.col("fv").cast("double"))
    stats = ex.groupBy("pos").agg(
        F.min("v").alias("dmin"), F.max("v").alias("dmax")
    )
    # PQ-encode ONLY the probed candidates: the codebook stats train on
    # the full corpus (64-row partial agg — scan-shaped, unavoidable),
    # but the 64-way bit explode is semi-joined down to candidate ids
    # first. Encoding the whole corpus here would silently rebuild the
    # full-scan ADC (sim_pq_adc_topk's contract) and void the IVF prune.
    # (At rest the codes are precomputed and partitioned by cell, so
    # this branch becomes a partition-pruned read — see docstring.)
    cand_ids = cand.select("vec_id").distinct()
    bits = (
        raw.join(cand_ids, "vec_id")
        .select("vec_id", F.posexplode("embedding").alias("pos", "fv"))
        .withColumn("v", F.col("fv").cast("double"))
        .join(F.broadcast(stats), "pos")
        .select(
            "vec_id",
            "pos",
            F.when(F.col("v") > (F.col("dmin") + F.col("dmax")) / 2, 1)
            .otherwise(0)
            .alias("bit"),
        )
    )
    centroid = (
        F.col("dmin") + (1 + 2 * F.col("bit")) * (F.col("dmax") - F.col("dmin")) / 4
    )
    lut = (
        ex.filter(F.col("vec_id") < _ADC_NQ)
        .join(F.broadcast(stats), "pos")
        .crossJoin(
            F.broadcast(spark.range(2).select(F.col("id").cast("int").alias("bit")))
        )
        .select(
            F.col("vec_id").alias("query_id"),
            "pos",
            "bit",
            ((F.col("v") - centroid) * (F.col("v") - centroid))
            .cast("decimal(38,18)")
            .alias("sq"),
        )
    )
    scored = (
        cand.join(bits, "vec_id")
        .join(F.broadcast(lut), ["query_id", "pos", "bit"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("sq").cast("double").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _ADC_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("adc", 9).alias("adc_dist"),
            F.col("rn").alias("rank"),
        )
    )


# --------------------------------------------- prefix-dim cascaded rerank

#: leading dims used by the cheap first pass (Matryoshka-style prefix).
_PR_PREFIX = 16
#: stage-1 pool size per query; stage 2 reranks this pool with full dims.
_PR_POOL = 20


@query(
    "sim_prefix_rerank_topk",
    survey_ref="L3,W4,J4",
    doc="Cascaded retrieval: a cheap 16-dim prefix-cosine pass pools "
    "candidates, full 64-dim cosine reranks the pool — the "
    "Matryoshka-embedding coarse-to-fine ANN pattern.",
    oracle=f"""
        WITH {_SQL_NORMED},
        pre AS (
            SELECT vec_id, embedding, nrm,
                   sqrt({sql_dot('embedding', 'embedding', _PR_PREFIX)}) AS pnrm
            FROM normed
        ),
        q AS (
            SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, pnrm AS qpn
            FROM pre WHERE vec_id < {N_QUERIES}
        ),
        s1 AS (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   {sql_dot('q.qe', 'c.embedding', _PR_PREFIX)}
                       / (q.qpn * c.pnrm) AS pcos
            FROM q, pre c WHERE c.vec_id <> q.query_id
        ),
        pool AS (
            SELECT query_id, neighbor_id, rn AS prefix_rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY pcos DESC, neighbor_id
                ) AS rn FROM s1
            ) WHERE rn <= {_PR_POOL}
        ),
        s2 AS (
            SELECT p.query_id, p.neighbor_id, p.prefix_rank,
                   {sql_dot('q.qe', 'c.embedding')} / (q.qn * c.nrm) AS cos
            FROM pool p
            JOIN q ON q.query_id = p.query_id
            JOIN pre c ON c.vec_id = p.neighbor_id
        )
        SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
               CAST(prefix_rank AS INT) AS prefix_rank, rn AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id
            ) AS rn FROM s2
        )
        WHERE rn <= {TOP_K}
    """,
)
def sim_prefix_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-to-fine cascaded retrieval — the Matryoshka/MRL serving
    pattern: score the whole corpus with only the leading {_PR_PREFIX}
    dims (¼ of the memory bandwidth and FLOPs of the full vector — at
    scale the prefix columns are a separate, much smaller parquet
    column chunk, so the first pass reads ¼ the bytes), keep a
    {_PR_POOL}-deep pool per query, then rerank ONLY the pool with the
    full 64-dim cosine. Unlike IVF/LSH/PQ this prunes nothing — it
    re-orders the cost so the expensive exact math touches
    |Q|·{_PR_POOL} rows instead of |Q|·|corpus|.

    Scale shape: queries broadcast into the corpus stream (no corpus
    shuffle); the prefix-score rows carry NO embedding payload into the
    pool window (ids + score only — the wide vectors would otherwise
    ride the corpus-sized exchange); the pool (|Q|·{_PR_POOL} rows)
    joins the full vectors back candidate-sized, reranks, and the final
    window is pool-sized. Both stages' ranks are tie-broken by
    neighbor_id, so the cascade is deterministic end to end."""
    pre = _normed(spark, sf_dir).select(
        "vec_id",
        "embedding",
        "nrm",
        F.sqrt(
            spark_dot(
                f"slice(embedding, 1, {_PR_PREFIX})",
                f"slice(embedding, 1, {_PR_PREFIX})",
            )
        ).alias("pnrm"),
    )
    q = pre.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
        F.col("pnrm").alias("qpn"),
    )
    s1 = (
        pre.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                spark_dot(f"slice(qe, 1, {_PR_PREFIX})", f"slice(embedding, 1, {_PR_PREFIX})")
                / (F.col("qpn") * F.col("pnrm"))
            ).alias("pcos"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("pcos"), F.asc("neighbor_id"))
    pool = (
        s1.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= _PR_POOL)
        .select("query_id", "neighbor_id", F.col("rn").cast("int").alias("prefix_rank"))
    )
    s2 = (
        pool.join(
            F.broadcast(q.select("query_id", "qe", "qn")), "query_id"
        )
        .join(pre.select(F.col("vec_id").alias("neighbor_id"), "embedding", "nrm"), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "prefix_rank",
            (spark_dot("qe", "embedding") / (F.col("qn") * F.col("nrm"))).alias("cos"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        s2.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 6).alias("cosine"),
            "prefix_rank",
            F.col("rn").alias("rank"),
        )
    )

# ---------------------------------------------------------------------------
# Embedding hygiene gate: broken-encode detection before an index build.

#: absolute tolerance for |norm² − 1| on a normalized corpus.
_NORM2_TOL = 0.01
#: |z| threshold for the peak-concentration statistic.
_PEAK_Z_MAX = 2.5


@query(
    "sim_embedding_hygiene_gate",
    survey_ref="L3,L4,A7,J4",
    doc="Embedding QA gate: vectors failing the unit-norm check or with "
    "an outlier peak-component concentration within their label cell.",
    oracle=f"""
        WITH feat AS (
            SELECT vec_id, label,
                   {sql_dot('embedding', 'embedding')} AS norm2,
                   list_max(list_transform(range(1, 65),
                       i -> abs(CAST(embedding[i] AS DOUBLE)))) AS peak
            FROM embeddings
        ),
        stats AS (
            SELECT label,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(peak AS DECIMAL(28,6))) AS DOUBLE) AS s1,
                   CAST(SUM(CAST(peak * peak AS DECIMAL(28,6))) AS DOUBLE) AS s2
            FROM feat GROUP BY label
            HAVING COUNT(*) >= 2
        ),
        scored AS (
            SELECT f.vec_id, f.label, f.norm2, f.peak,
                   (f.peak - s.s1 / s.n)
                       / sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)) AS z
            FROM feat f JOIN stats s ON s.label = f.label
            WHERE s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n) > 0
        )
        SELECT vec_id, label,
               round(norm2, 6) AS norm2,
               round(peak, 6) AS peak,
               round(z, 6) AS z_peak,
               CASE WHEN abs(norm2 - 1.0) > {_NORM2_TOL} THEN 'norm'
                    ELSE 'peak' END AS reason
        FROM scored
        WHERE abs(norm2 - 1.0) > {_NORM2_TOL} OR abs(z) > {_PEAK_Z_MAX}
    """,
)
def sim_embedding_hygiene_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-indexing embedding QA: catch broken encodes before they poison
    a cosine/IP ANN structure. Two independent checks per vector:

    * **norm drift** — on a normalized corpus every |v|² must sit within
      ``_NORM2_TOL`` of 1; a truncated input or missed normalization
      shows up as a gross violation. This is an ABSOLUTE check: the
      z-score of norm² is numerically vacuous on normalized data (the
      true spread is float-rounding noise ~1e-14, below the cancellation
      error of any moments formula — measured while building this op).
    * **peak concentration** — max|component|, z-scored within the label
      cell. A random unit vector concentrates ~N(0.3, 0.03) of its mass
      in its largest of 64 coordinates; a one-hot-ish or clipped encode
      is a heavy tail. Moments come from decimal(28,6) sums (peak ~0.3,
      spread ~3e-2, so 6-digit quantization is harmless — unlike norm²),
      making mean/var order- and engine-exact; z doubles are then
      bit-identical cross-engine (IEEE ops on identical inputs), so the
      threshold filter cannot diverge.

    Scale shape: one map-side projection (both statistics are per-row
    array folds), ONE label-keyed partial aggregate, per-label stats
    broadcast back (bounded by the label domain). No corpus-squared
    stage; singleton/zero-variance cells drop in both engines (ANSI
    division guard)."""
    e = load(spark, sf_dir, "embeddings")
    peak = F.expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
    )
    feat = e.select(
        "vec_id",
        "label",
        spark_dot("embedding", "embedding").alias("norm2"),
        peak.alias("peak"),
    )
    stats = (
        feat.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("peak").cast("decimal(28,6)")).cast("double").alias("s1"),
            F.sum((F.col("peak") * F.col("peak")).cast("decimal(28,6)"))
            .cast("double")
            .alias("s2"),
        )
        .filter(F.col("n") >= 2)
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    z = (F.col("peak") - mean) / F.sqrt(var)
    norm_bad = F.abs(F.col("norm2") - 1.0) > _NORM2_TOL
    return (
        feat.join(F.broadcast(stats), "label")
        .filter(var > 0)
        .filter(norm_bad | (F.abs(z) > _PEAK_Z_MAX))
        .select(
            "vec_id",
            "label",
            F.round("norm2", 6).alias("norm2"),
            F.round("peak", 6).alias("peak"),
            F.round(z, 6).alias("z_peak"),
            F.when(norm_bad, "norm").otherwise("peak").alias("reason"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding drift monitor — per-label centroid shift between two corpus
# snapshots (the "did my embedding distribution move?" production check).

_DRIFT_ORACLE = """
    WITH ex AS (
        SELECT label, vec_id % 2 AS half, u.i AS pos,
               CAST(embedding[u.i] AS DOUBLE) AS v
        FROM embeddings,
             LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u
    ), cent AS (
        SELECT label, half, pos,
               CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / COUNT(v) AS c,
               COUNT(v) AS nv
        FROM ex GROUP BY label, half, pos
    ), paired AS (
        SELECT a.label, a.pos, a.c AS ca, b.c AS cb, a.nv AS n_a, b.nv AS n_b
        FROM cent a JOIN cent b
          ON a.label = b.label AND a.pos = b.pos
        WHERE a.half = 0 AND b.half = 1
    )
    SELECT CAST(label AS INT) AS label,
           CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           round(CAST(SUM(CAST(ca * cb AS DECIMAL(28,6))) AS DOUBLE)
                 / (sqrt(CAST(SUM(CAST(ca * ca AS DECIMAL(28,6))) AS DOUBLE))
                    * sqrt(CAST(SUM(CAST(cb * cb AS DECIMAL(28,6))) AS DOUBLE))),
                 6) AS centroid_cosine,
           round(sqrt(CAST(SUM(CAST((ca - cb) * (ca - cb) AS DECIMAL(28,6)))
                      AS DOUBLE)), 6) AS l2_shift
    FROM paired
    GROUP BY label
"""


@query(
    "sim_centroid_shift_drift",
    survey_ref="L3,F4,A1",
    doc="Per-label embedding drift between two snapshot halves: centroid "
    "cosine similarity and L2 shift — the distribution-drift monitor.",
    oracle=_DRIFT_ORACLE,
)
def sim_centroid_shift_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift detection for embedding pipelines: split the corpus into two
    snapshots (vec_id parity stands in for crawl t vs t+1), mean-pool a
    per-label centroid in each, and report how far each label's centroid
    moved — cosine similarity (≈1 means stable) and absolute L2 shift.
    A centroid cosine dropping across crawls is the standard early
    warning that an encoder change or corpus shift broke comparability
    (and that ANN cells/PQ codebooks need retraining).

    Determinism: per-dim means are exact decimal sums over identical
    parquet bytes; the three quadratic moments decimal-accumulate their
    rounded products (the dsum pattern) so no double sum is order-
    dependent; sqrt is IEEE-exact on both engines; final round(…,6).

    Scale: posexplode → (label, half, pos)-keyed partial agg — one
    shuffle of dims×labels×2 rows; the centroid pair join and the final
    per-label agg run over label-domain-sized tables. No vector ever
    reaches the driver."""
    e = load(spark, sf_dir, "embeddings")
    ex = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("pos", "fv"),
    ).withColumn("v", F.col("fv").cast("double"))
    cent = ex.groupBy("label", "half", "pos").agg(
        (F.sum(F.col("v").cast("decimal(28,6)")).cast("double") / F.count("v")).alias(
            "c"
        ),
        F.count("v").alias("nv"),
    )
    a = cent.filter(F.col("half") == 0).select(
        "label", "pos", F.col("c").alias("ca"), F.col("nv").alias("n_a")
    )
    b = cent.filter(F.col("half") == 1).select(
        F.col("label").alias("label_b"),
        F.col("pos").alias("pos_b"),
        F.col("c").alias("cb"),
        F.col("nv").alias("n_b"),
    )
    paired = a.join(
        b, (a.label == b.label_b) & (a.pos == b.pos_b)
    ).select("label", "pos", "ca", "cb", "n_a", "n_b")

    def _dacc(col):
        return F.sum(col.cast("decimal(28,6)")).cast("double")

    dot = _dacc(F.col("ca") * F.col("cb"))
    na2 = _dacc(F.col("ca") * F.col("ca"))
    nb2 = _dacc(F.col("cb") * F.col("cb"))
    d2 = _dacc((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
    return paired.groupBy("label").agg(
        F.max("n_a").cast("bigint").alias("n_a"),
        F.max("n_b").cast("bigint").alias("n_b"),
        F.round(dot / (F.sqrt(na2) * F.sqrt(nb2)), 6).alias("centroid_cosine"),
        F.round(F.sqrt(d2), 6).alias("l2_shift"),
    ).select(
        F.col("label").cast("int").alias("label"),
        "n_a",
        "n_b",
        "centroid_cosine",
        "l2_shift",
    )


# -------------------------------------------- reciprocal-rank hybrid fusion

RRF_K = 60  # the Cormack/Clarke/Buettcher constant
RRF_POOL = 50  # per-modality candidate pool depth
RRF_TOPK = 5
_RRF_SCALE = 1_000_000_000_000  # integer-scaled 1/(k+r): exact in both engines

from pyspark_for_ebook_classification_spark.operators.textops import (  # noqa: E402
    BM25_CTES,
    BM25_QUERY_MOD,
    _bm25_doc_topk,
)


def _rrf_fused_ctes(k: int = RRF_K) -> str:
    """The lexical-pool → vector-pool → RRF-fusion CTE chain, shared
    verbatim by sim_rrf_hybrid_fusion's oracle, the full serving-stack
    composition's (sim_retrieval_stack_topk), and the r12 rrf_fuse
    library router (which moves ``k`` off the Cormack constant) — one
    source of truth for the fusion SQL, same reuse discipline as
    BM25_CTES itself."""
    return f"""
        lex AS (
            SELECT query_id, neighbor_id, rn AS r_lex
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
                ) AS rn
                FROM bscore
            )
            WHERE rn <= {RRF_POOL}
        ),
        {_SQL_NORMED},
        vq AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
               FROM normed WHERE vec_id % {BM25_QUERY_MOD} = 0),
        vec AS (
            SELECT query_id, neighbor_id, rn AS r_vec
            FROM (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {sql_dot('qe', 'embedding')} / (qn * e.nrm) DESC,
                                    e.vec_id ASC
                       ) AS rn
                FROM vq q JOIN normed e ON e.vec_id <> q.query_id
            )
            WHERE rn <= {RRF_POOL}
        ),
        fused AS (
            SELECT COALESCE(l.query_id, v.query_id) AS query_id,
                   COALESCE(l.neighbor_id, v.neighbor_id) AS neighbor_id,
                   l.r_lex, v.r_vec,
                   COALESCE({_RRF_SCALE} // ({k} + l.r_lex), 0)
                   + COALESCE({_RRF_SCALE} // ({k} + v.r_vec), 0) AS rrf
            FROM lex l
            FULL JOIN vec v
              ON v.query_id = l.query_id AND v.neighbor_id = l.neighbor_id
        )
"""


_RRF_FUSED_CTES = _rrf_fused_ctes()


@query(
    "sim_rrf_hybrid_fusion",
    survey_ref="L3,L4,J2,W4",
    doc="Hybrid retrieval: reciprocal-rank fusion of BM25 lexical ranks "
    "and exact-cosine vector ranks for the shared query set.",
    oracle=f"""
        WITH {BM25_CTES},
        {_RRF_FUSED_CTES}
        SELECT query_id, neighbor_id,
               CAST(rrf AS BIGINT) AS rrf_score,
               CAST(r_lex AS BIGINT) AS lex_rank,
               CAST(r_vec AS BIGINT) AS vec_rank,
               rn AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY rrf DESC, neighbor_id ASC
            ) AS rn
            FROM fused
        )
        WHERE rn <= {RRF_TOPK}
    """,
)
def sim_rrf_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search, the production retrieval stack's final stage:
    reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of a
    LEXICAL ranking (BM25, operators/textops.py — rare-term queries from
    every 97th doc) and a VECTOR ranking (exact cosine over the aligned
    embeddings table) for the same query set. RRF(d) = Σ_modality
    1/(k+rank_m(d)) with k=60 — rank-based, so the two modalities'
    incommensurable score scales never need calibration.

    Determinism without floats: the fusion score is computed as
    ⌊10¹²/(60+r)⌋ integer division summed as BIGINT — bit-exact in both
    engines (the float 1/(k+r) form would hash-diverge); distinct ranks
    give distinct reciprocals at this scale so fusion order is the true
    RRF order, ties broken by neighbor_id.

    Scale shape: both pools are rank-truncated to RRF_POOL=50 per query
    BEFORE the fusion join, so the full-outer join and final top-5
    window run on |Q|×50-row tables — fusion cost is independent of
    corpus size; the corpus-sized work is exactly the two upstream
    retrieval passes (BM25's broadcast probe, brute-force cosine's
    broadcast scan), each already scale-audited on its own."""
    w_f = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("neighbor_id"))
    return (
        _rrf_fused(spark, sf_dir)
        .withColumn("rank", F.row_number().over(w_f))
        .filter(F.col("rank") <= RRF_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rrf").cast("bigint").alias("rrf_score"),
            F.col("r_lex").cast("bigint").alias("lex_rank"),
            F.col("r_vec").cast("bigint").alias("vec_rank"),
            "rank",
        )
    )


def _rrf_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, r_lex, r_vec, rrf) — the UNTRUNCATED
    RRF-fused candidate table for the declared BM25×cosine workload;
    the Spark twin of _RRF_FUSED_CTES, shared by sim_rrf_hybrid_fusion
    (top-5 window over it) and sim_retrieval_stack_topk (top-10 pool →
    MMR diversification)."""
    lex = _lex_ranked(spark, sf_dir).withColumnRenamed("rank", "r_lex")
    vec = _vec_ranked(spark, sf_dir).withColumnRenamed("rank", "r_vec")
    rrf = F.coalesce(
        F.expr(f"{_RRF_SCALE} div ({RRF_K} + r_lex)"), F.lit(0)
    ) + F.coalesce(F.expr(f"{_RRF_SCALE} div ({RRF_K} + r_vec)"), F.lit(0))
    return lex.join(vec, ["query_id", "neighbor_id"], "full").withColumn("rrf", rrf)


def _lex_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, rank) — the BM25 lexical modality's
    RRF_POOL-deep rank list (rank 1 = best), the _RRF_FUSED_CTES ``lex``
    CTE's Spark twin; shared by _rrf_fused and the r12 rrf_fuse router."""
    return _bm25_doc_topk(spark, sf_dir, RRF_POOL).select("query_id", "neighbor_id", "rank")


def _vec_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, rank) — the exact-cosine vector
    modality's RRF_POOL-deep rank list (``ann_topk`` bruteforce over
    every BM25_QUERY_MOD-th vector), the ``vec`` CTE's Spark side;
    shared by _rrf_fused and the r12 rrf_fuse router."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    vq = e.filter(F.col("vec_id") % BM25_QUERY_MOD == 0)
    return ann_topk(e, vq, k=RRF_POOL).select("query_id", "neighbor_id", "rank")


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = RRF_K,
    query_col: str = "query_id",
    item_col: str = "neighbor_id",
    rank_col: str = "rank",
    top: int | None = None,
) -> DataFrame:
    """PRODUCTION reciprocal-rank fusion over ANY number of rankings
    (the declared ``sim_rrf_hybrid_fusion`` fixes two modalities so a
    DuckDB oracle can replay it; a real stack fuses N — lexical, dense,
    sparse-learned, recency, ...). Each input frame carries
    (query_col, item_col, rank_col) with rank 1 = best; an item absent
    from a ranking simply contributes nothing for that modality.

    Returns (query_col, item_col, rrf_score, rank) — rrf_score is the
    integer Σ ⌊10¹²/(k+r)⌋ (bit-exact, reduction-order-free, the same
    scaling as the declared query), rank the per-query fused order with
    item-id tiebreak, truncated to ``top`` when given.

    Input hygiene (r7 ADVICE): a (query, item) pair appearing TWICE
    within one ranking frame is deduped to its BEST (minimum) rank
    before contributing — without this, duplicate rows would silently
    sum two reciprocal contributions for one modality. Ranks must be
    ≥ 1 (rank 0/negative would divide by a zero/negative k+r): enforced
    with a per-row assert_true so malformed input fails loudly at
    execution instead of producing plausible-looking garbage.

    Scale shape: per-ranking min-rank dedup then a union of the
    (already rank-truncated) input tables, one (query, item)-keyed
    partial-aggregated sum, one per-query window — fusion cost is the
    size of the rank lists, never the corpus."""
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    # column-API guard (r8 ADVICE): interpolating rank_col into an expr
    # string broke for names needing backticks (dots, spaces); F.col is
    # the same resolution the rest of the function uses
    guard = F.assert_true(
        F.col(rank_col) >= 1, F.lit("rrf_fuse: rank_col must be >= 1")
    )
    parts = [
        r.filter(guard.isNull())
        .groupBy(query_col, item_col)
        .agg(F.min(rank_col).alias("_best_rank"))
        .select(
            F.col(query_col),
            F.col(item_col),
            F.expr(f"{_RRF_SCALE} div ({k} + _best_rank)").alias("rrf_part"),
        )
        for r in rankings
    ]
    fused = parts[0]
    for p in parts[1:]:
        fused = fused.unionByName(p)
    scored = fused.groupBy(query_col, item_col).agg(
        F.sum("rrf_part").cast("bigint").alias("rrf_score")
    )
    w = Window.partitionBy(query_col).orderBy(
        F.desc("rrf_score"), F.asc(item_col)
    )
    out = scored.withColumn("rank", F.row_number().over(w))
    if top is not None:
        out = out.filter(F.col("rank") <= top)
    return out


# ------------------------- full serving stack: BM25 → RRF → MMR (composed)

_STACK_POOL = 10  # fused candidates entering diversification, per query


def _retrieval_stack_oracle() -> str:
    """DuckDB unroll of the full serving pipeline: the shared BM25 CTEs,
    the shared fusion CTEs, fused-pool truncation + per-query rrf
    normalization, pairwise candidate cosines, then the same 5-step
    greedy-MMR CTE chain _mmr_oracle() uses (relevance = normalized rrf
    instead of raw cosine)."""
    head = f"""WITH {BM25_CTES},
        {_RRF_FUSED_CTES},
        fpool AS MATERIALIZED (
            SELECT query_id, neighbor_id AS cand_id, rrf FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY rrf DESC, neighbor_id ASC
                ) AS rn FROM fused
            ) WHERE rn <= {_STACK_POOL}
        ),
        fmax AS (SELECT query_id, MAX(rrf) AS mx FROM fpool GROUP BY query_id),
        pool AS MATERIALIZED (
            SELECT f.query_id, f.cand_id, f.rrf,
                   f.rrf / CAST(m.mx AS DOUBLE) AS rel,
                   n.embedding, n.nrm
            FROM fpool f
            JOIN fmax m ON m.query_id = f.query_id
            JOIN normed n ON n.vec_id = f.cand_id
        ),
        psim AS MATERIALIZED (
            SELECT p1.query_id, p1.cand_id AS a, p2.cand_id AS b,
                   {sql_dot('p1.embedding', 'p2.embedding')}
                       / (p1.nrm * p2.nrm) AS sim
            FROM pool p1
            JOIN pool p2 ON p1.query_id = p2.query_id
                        AND p1.cand_id <> p2.cand_id
        ),
        pick1 AS (
            SELECT query_id, cand_id, rrf, rel, 0.5 * rel AS mmr, 1 AS rank
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY rel DESC, cand_id
                ) AS rn FROM pool
            ) WHERE rn = 1
        ),
        sel1 AS (SELECT query_id, cand_id FROM pick1)"""
    steps = [head]
    for k in range(2, _MMR_K + 1):
        steps.append(f"""
        score{k} AS (
            SELECT p.query_id, p.cand_id, p.rrf, p.rel,
                   0.5 * p.rel - 0.5 * MAX(ps.sim) AS mmr
            FROM pool p
            JOIN sel{k - 1} s
              ON s.query_id = p.query_id
            JOIN psim ps
              ON ps.query_id = p.query_id AND ps.a = p.cand_id
             AND ps.b = s.cand_id
            WHERE NOT EXISTS (
                SELECT 1 FROM sel{k - 1} x
                WHERE x.query_id = p.query_id AND x.cand_id = p.cand_id
            )
            GROUP BY p.query_id, p.cand_id, p.rrf, p.rel
        ),
        pick{k} AS (
            SELECT query_id, cand_id, rrf, rel, mmr, {k} AS rank
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY mmr DESC, cand_id
                ) AS rn FROM score{k}
            ) WHERE rn = 1
        ),
        sel{k} AS (
            SELECT query_id, cand_id FROM sel{k - 1}
            UNION ALL
            SELECT query_id, cand_id FROM pick{k}
        )""")
    picks = "\n            UNION ALL\n            ".join(
        f"SELECT * FROM pick{k}" for k in range(1, _MMR_K + 1)
    )
    return (
        ",".join(steps)
        + f"""
        SELECT query_id, cand_id,
               CAST(rrf AS BIGINT) AS rrf_score,
               floor(rel * 1000000.0 + 0.5) / 1000000.0 AS relevance,
               floor(mmr * 1000000.0 + 0.5) / 1000000.0 AS mmr_score,
               rank
        FROM (
            {picks}
        )"""
    )


@query(
    "sim_retrieval_stack_topk",
    survey_ref="L3,L4,L6,W4,J2",
    doc="Full serving stack composed end-to-end: BM25 lexical pool + "
    "cosine vector pool -> RRF hybrid fusion -> MMR-diversified top-5 "
    "per query.",
    oracle=_retrieval_stack_oracle(),
)
def sim_retrieval_stack_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED retrieval pipeline a real serving deployment runs
    (r8 verdict task 6 — the sim_ivfpq_adc_topk composition discipline
    applied to the retrieval stack): the three individually-green stages
    chained as ONE declared query. Stage 1: the shared BM25 scorer
    (operators/textops.py _bm25_doc_topk) ranks lexical candidates and the
    exact-cosine pass ranks vector candidates, both pooled at
    {RRF_POOL}/query. Stage 2: reciprocal-rank fusion (the
    sim_rrf_hybrid_fusion integer-scaled form, via the shared _rrf_fused
    helper) and truncation to a {_STACK_POOL}-deep fused pool. Stage 3:
    greedy MMR (``mmr_rerank`` at λ=0.5) diversifies
    the pool to 5 results, with RELEVANCE = the query-normalized fusion
    score rrf/max(rrf) — rank-derived and scale-free, so the λ balance
    against the [−1,1] candidate cosines is meaningful — and the
    diversity term the pairwise candidate cosine.

    Composition is proven against the registered constituents by
    tests/test_r9_semantics2.py: the fused pool's top-5 reproduces
    sim_rrf_hybrid_fusion's exact output rows, and a pure-Python greedy
    MMR over the collected pool + pairwise cosines reproduces every
    pick. Cross-engine: rrf/max are identical BIGINTs so rel is the
    identical double; cosines are the registry's deterministic folds;
    argmaxes tie-break on cand_id; output rounds via the portable floor
    form (mmr can be negative: floor(x·1e6+0.5) is half-up toward +∞ in
    both engines at any sign).

    Scale shape: corpus-sized work is exactly the two upstream retrieval
    passes (BM25's broadcast probe, cosine's broadcast scan) — already
    scale-audited on their own; fusion runs on |Q|×{RRF_POOL} rank rows.
    The MMR tail is one ``mmr_rerank`` call (λ=0.5, k=_MMR_K) over the
    bounded fused pool; its picks take their rrf back from that pool by
    a (query_id, cand_id) join."""
    w_f = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("neighbor_id"))
    fpool = (
        _rrf_fused(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w_f))
        .filter(F.col("rn") <= _STACK_POOL)
        .select("query_id", F.col("neighbor_id").alias("cand_id"), "rrf")
    )
    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("cand_id"), "embedding"
    )
    mx = F.max("rrf").over(Window.partitionBy("query_id"))
    pool = fpool.withColumn("rel", F.col("rrf") / mx.cast("double")).join(
        emb, "cand_id"
    )
    picks = mmr_rerank(pool, lam=0.5, k=_MMR_K)
    return picks.join(fpool, ["query_id", "cand_id"]).select(
        "query_id",
        "cand_id",
        F.col("rrf").cast("bigint").alias("rrf_score"),
        (F.floor(F.col("rel") * 1000000.0 + F.lit(0.5)).cast("double") / 1000000.0)
        .alias("relevance"),
        (F.floor(F.col("mmr") * 1000000.0 + F.lit(0.5)).cast("double") / 1000000.0)
        .alias("mmr_score"),
        "rank",
    )


def mmr_rerank(
    pool: DataFrame,
    lam: float = 0.5,
    k: int = _MMR_K,
    query_col: str = "query_id",
    item_col: str = "cand_id",
    rel_col: str = "rel",
    vec_col: str = "embedding",
) -> DataFrame:
    """PRODUCTION maximal-marginal-relevance re-ranker (the ``rrf_fuse``
    pattern — ``sim_mmr_diversified_topk``, ``sim_mmr_library_topk`` and
    the serving stack call it with fixed pools/λ): greedily diversify ANY
    per-query candidate pool carrying a relevance score and an embedding.
    Step 1 takes the relevance argmax; each later step takes argmax of
    λ·rel − (1−λ)·max cosine-to-selected, ties to the smallest item id.
    Returns (query_col, item_col, rel, mmr, rank) with rank 1..k.

    Entries validated: 0 ≤ λ ≤ 1 and k ≥ 1 (λ outside [0,1] flips the
    diversity term's sign silently — the winnowing w=0 failure class).
    Pools smaller than k simply yield fewer rows per query.

    Scale shape — r14: the k greedy
    steps run as ONE JVM aggregate over the per-query pool array
    (_mmr_greedy_sql), so the whole re-rank is one pool-collecting hash
    aggregate + one codegen projection with no per-step jobs, shuffles
    or checkpoints (the former loop paid one Spark job per step — the
    r10 BENCHNOTES job-floor measurement); MMR cost is independent of
    corpus size. Callers hand in the pool precisely so the expensive
    retrieval stage stays under THEIR plan control."""
    if not (0.0 <= lam <= 1.0):
        raise ValueError(f"mmr_rerank: need 0 <= lam <= 1, got {lam}")
    if k < 1:
        raise ValueError(f"mmr_rerank: need k >= 1, got {k}")
    p = pool.select(
        F.col(query_col).alias("query_id"),
        F.col(item_col).alias("cand_id"),
        F.col(rel_col).cast("double").alias("rel"),
        F.col(vec_col).alias("embedding"),
    ).withColumn("nrm", F.sqrt(spark_dot("embedding", "embedding")))
    picks = (
        p.groupBy("query_id")
        .agg(
            F.collect_list(F.struct("cand_id", "rel", "embedding", "nrm")).alias(
                "cs"
            )
        )
        .select(
            "query_id",
            F.explode(F.expr(_mmr_greedy_sql(lam, k))).alias("pk"),
        )
    )
    return picks.select(
        F.col("query_id").alias(query_col),
        F.col("pk.cand_id").alias(item_col),
        F.col("pk.rel").alias("rel"),
        F.col("pk.mmr").alias("mmr"),
        F.col("pk.rank").alias("rank"),
    )


@query(
    "sim_mmr_library_topk",
    survey_ref="L3,W4,J8,A1",
    doc="The production mmr_rerank entry under the hash gate: the "
    "registered top-20 relevance pool diversified at λ=0.75 through "
    "one library call.",
    oracle=_mmr_oracle(0.75),
)
def sim_mmr_library_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION ``mmr_rerank`` path itself under the driver's hash
    gate (r9 verdict task 6 — library entries never reach the driver, so
    their pins were pytest-only): build the registered top-{_MMR_POOL}
    relevance pool (``_mmr_pool``, shared with sim_mmr_diversified_topk)
    and hand it to ONE ``mmr_rerank`` call — no reimplemented
    greedy loop that could drift from the production code. λ=0.75 (not
    the declared query's 0.5) so the λ/(1−λ) parameter plumbing is what
    the oracle actually checks: 0.75 and 0.25 are exactly representable,
    so F.lit and the SQL literal are the same double. Relevance-heavier
    λ picks a measurably different set than λ=0.5 wherever diversity
    mattered — the λ dial a serving deployment actually turns.

    Scale shape: inherited from mmr_rerank — the corpus-sized work is the
    broadcast-anchor pool scoring stage; the greedy steps run over the
    bounded per-query pool."""
    out = mmr_rerank(_mmr_pool(spark, sf_dir), lam=0.75, k=_MMR_K)
    return out.select(
        "query_id",
        "cand_id",
        F.round("rel", 6).alias("relevance"),
        F.round("mmr", 6).alias("mmr_score"),
        "rank",
    )


# ---------------------------------------------------------------------------
# Production ANN entry point (library API)


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    method: str = "bruteforce",
    *,
    n_tables: int = 4,
    planes_per_table: int = 4,
    grid_bits: int = 8,
    dim: int = 64,
    plane_offset: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """PRODUCTION vector top-k search (the ``neardup_dedup``/
    ``bm25_search`` pattern applied to L3): rank ``corpus`` against
    ``queries`` by cosine over ANY pair of (id, array<float>) frames.
    ``method='bruteforce'`` is the exact baseline; ``method='lsh'`` is
    the scale path — multi-table random-hyperplane LSH candidate
    generation with exact cosine rerank over the candidate union;
    ``method='srp_multiprobe'`` probes a deterministic SRP cell grid at
    Hamming distance ≤ 1. The registered ``sim_topk_bruteforce``,
    ``sim_ann_lsh_bucketed``, ``sim_ann_grid_multiprobe`` and the
    library queries are calls to this function at fixed parameters.

    Returns (query_id, neighbor_id, cosine, rank) with cosine rounded to
    6 places (the registered queries' contract) and rank 1..k per query.
    ``exclude_self`` drops neighbor rows whose id equals the query id
    (the registered workload's convention — queries drawn from the
    corpus); pass False when the id spaces are disjoint.

    Parameter guidance: recall/cost is tuned by (n_tables, planes_per
    _table) — more planes per table sharpen buckets (fewer candidates,
    lower recall per table), more tables union more chances (recall →
    1 − (1 − r_t)^L). ``plane_offset`` selects a disjoint slice of the
    deterministic LCG plane family so stacked LSH uses (IVF cells vs
    candidate tables) never share hyperplanes. Plane weights index into
    a 64-dim family; dims ≤ 64 get independent planes, larger vectors
    reuse weights across planes past index 64 (still valid LSH, weaker
    independence) — regenerate the family before using much larger dims.

    Build once, serve many: when ``corpus`` is persisted, its
    (neighbor_id, ne, nn) table — ids, vectors and norms — is built once
    and reused by every later call for as long as the same Spark cache
    entry backs ``corpus`` (``serving.built_for``, which holds it as one
    partition when small, so the bruteforce top-k window needs no
    exchange); an unpersisted ``corpus`` is normed in the same plan as
    the scoring.

    Scale shape — every method keeps the corpus-sized side shuffle-free
    and broadcasts the query side: bruteforce streams the corpus through
    ONE codegen'd scoring stage + a per-query top-k window; LSH computes
    all L signatures in one pass over each side, joins buckets,
    dedupes candidates BEFORE the exact rerank, and reranks candidates
    only; srp_multiprobe explodes probes on the query side only. No
    method self-joins the corpus."""
    if k < 1:
        raise ValueError(f"ann_topk: need k >= 1, got {k}")
    if method not in ("bruteforce", "lsh", "srp_multiprobe"):
        raise ValueError(f"ann_topk: unknown method {method!r}")
    if method == "lsh" and (n_tables < 1 or planes_per_table < 1):
        raise ValueError(
            f"ann_topk: need n_tables >= 1 and planes_per_table >= 1, "
            f"got ({n_tables}, {planes_per_table})"
        )
    if method == "srp_multiprobe" and not (1 <= grid_bits <= 62):
        raise ValueError(f"ann_topk: need 1 <= grid_bits <= 62, got {grid_bits}")

    en = built_for(
        corpus,
        ("ann_topk", id_col, vec_col),
        lambda: corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("ne"),
        ).withColumn("nn", F.sqrt(spark_dot("ne", "ne"))),
    )
    qn = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qe"),
    ).withColumn("qn", F.sqrt(spark_dot("qe", "qe")))

    if method == "bruteforce":
        scored = en.crossJoin(F.broadcast(qn))
        if exclude_self:
            scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
        scored = scored.select(
            "query_id",
            "neighbor_id",
            (spark_dot("qe", "ne") / (F.col("qn") * F.col("nn"))).alias("cos"),
        )
    elif method == "srp_multiprobe":
        # corpus rows get an integer SRP cell code; each query probes its
        # home cell plus every Hamming-1 flip (boundary-straddling
        # neighbors disagree on few hyperplane signs), scoring
        # ~(grid_bits+1)/2^grid_bits of the corpus per query.
        enc = en.withColumn(
            "code", spark_srp_code("ne", grid_bits, dim, plane_offset)
        )
        qc = qn.withColumn(
            "qcode", spark_srp_code("qe", grid_bits, dim, plane_offset)
        )
        probe_cells = F.array(
            F.col("qcode"),
            *[F.col("qcode").bitwiseXOR(F.lit(1 << i)) for i in range(grid_bits)],
        )
        probes = qc.select(
            "query_id", "qe", "qn", F.explode(probe_cells).alias("cell")
        )
        pside = F.broadcast(probes)
        scored = enc.join(pside, enc["code"] == pside["cell"])
        if exclude_self:
            scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
        scored = scored.select(
            "query_id",
            "neighbor_id",
            (spark_dot("qe", "ne") / (F.col("qn") * F.col("nn"))).alias("cos"),
        )
    else:
        def _tables(df: DataFrame, idc: str, vc: str) -> DataFrame:
            # all L signatures in ONE pass over the vector (the declared
            # query's stack() discipline), then exploded to the long form
            entries = F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table_id"),
                        spark_lsh_bucket(
                            vc,
                            planes_per_table,
                            dim,
                            plane_offset + t * planes_per_table,
                        ).alias("bucket"),
                    )
                    for t in range(n_tables)
                ]
            )
            return df.select(F.col(idc), F.explode(entries).alias("e")).select(
                idc, F.col("e.table_id").alias("table_id"), F.col("e.bucket").alias("bucket")
            )

        ct = _tables(en, "neighbor_id", "ne")
        qt = _tables(qn, "query_id", "qe")
        cand = ct.join(F.broadcast(qt), ["table_id", "bucket"]).select(
            "query_id", "neighbor_id"
        )
        if exclude_self:
            cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
        cand = cand.distinct()
        scored = (
            cand.join(F.broadcast(qn), "query_id")
            .join(en, "neighbor_id")
            .select(
                "query_id",
                "neighbor_id",
                (spark_dot("qe", "ne") / (F.col("qn") * F.col("nn"))).alias("cos"),
            )
        )

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 6).alias("cosine"),
            F.col("rn").alias("rank"),
        )
    )


def semdedup(
    vectors: DataFrame,
    tau: float = _SEMDEDUP_TAU,
    *,
    target_cell: int = _SEMDEDUP_TARGET_CELL,
    max_refine: int = _SEMDEDUP_MAX_REFINE,
    plane_offset: int = _SEMDEDUP_PLANE_OFFSET,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = "label",
) -> DataFrame:
    """PRODUCTION SemDeDup (Abbas et al. 2023 — the embedding-space pass
    that completes the dedup trio: ``exact_dedup`` for byte-identical,
    ``neardup_dedup`` for token-level near-dups, this for paraphrases
    and re-encodings that embed to nearly the same point) over ANY
    (id, array<float>) frame with caller-chosen cosine threshold and
    cell sizing. The registered ``dedup_semantic_embedding`` is this
    function at its defaults on the labeled embeddings table.

    Returns one row per vector: (id_col, cell, keep, max_lower_cos) —
    a vector is dropped iff some LOWER-id vector in its cell is within
    ``tau`` by cosine (the deterministic one-shot policy: a conservative
    superset of the chained greedy's removals, computed in one pass),
    so ``filter("keep")`` is the semantically deduplicated set.
    ``label_col=None`` cells purely by SRP prefix (unlabeled corpora).

    Parameter guidance: ``target_cell`` bounds EXPECTED cell population
    — refinement bits are added until n ≤ n_labels·target·2^bits, so
    per-cell pairwise cost stays O(target²·d) at any corpus size;
    ``max_refine`` caps the depth (each bit is one inline SRP plane; 32
    bits covers ~10¹³ vectors). Raising tau drops more aggressively
    (tau is a cosine floor, not a distance). Recall at cell boundaries
    behaves like SemDeDup's k-means cells: a cos≈0.95 pair co-locates
    per bit with p≈0.90.

    Scale shape: one broadcast 1-row stats aggregate feeds the
    exact-integer bits ladder (no log2, no driver collect), one
    cell-keyed shuffle for the pairwise join (the streamed side
    repartitioned BEFORE the compute-amplifying stage — without it the
    per-cell dot products ran at input-split parallelism, one task at
    sf0.1, 4.4 s vs 1.4 s), one id-keyed partial-agg MAX, one left join
    back. Total pairwise work is O(n·target·d) — linear in corpus size."""
    if not (0.0 < tau <= 1.0):
        raise ValueError(f"semdedup: need 0 < tau <= 1, got {tau}")
    if target_cell < 1:
        raise ValueError(f"semdedup: need target_cell >= 1, got {target_cell}")
    if not (0 <= max_refine <= 30):
        raise ValueError(f"semdedup: need 0 <= max_refine <= 30, got {max_refine}")

    label = F.col(label_col) if label_col else F.lit("all")
    e = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        label.alias("label"),
    ).withColumn("nrm", F.sqrt(spark_dot("embedding", "embedding")))
    stats = F.broadcast(
        e.agg(F.count("*").alias("n"), F.count_distinct("label").alias("nl"))
    )
    bits_expr = (
        "CASE "
        + " ".join(
            f"WHEN n <= nl * {target_cell * (1 << b)} THEN {b}"
            for b in range(max_refine + 1)
        )
        + f" ELSE {max_refine} END"
    )
    cell_expr = f"concat(CAST(label AS STRING), '|', substring(sig, 1, {bits_expr}))"
    sig = (
        spark_lsh_bucket("embedding", max_refine, dim, plane_offset)
        if max_refine > 0
        else F.lit("")  # depth 0: cells are labels alone
    )
    celled = (
        e.crossJoin(stats)
        .withColumn("sig", sig)
        .withColumn("cell", F.expr(cell_expr))
    )
    a = celled.repartition("vec_id").select(
        "cell",
        F.col("vec_id").alias("vid_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = celled.select(
        "cell",
        F.col("vec_id").alias("vid_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = spark_dot("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b"))
    lower_max = (
        a.join(b, "cell")
        .filter(F.col("vid_a") < F.col("vid_b"))
        .select(F.col("vid_b").alias("vec_id"), cos.alias("cos"))
        .groupBy("vec_id")
        .agg(F.max("cos").alias("mx"))
    )
    return celled.join(lower_max, "vec_id", "left").select(
        F.col("vec_id").alias(id_col),
        "cell",
        (F.col("mx").isNull() | (F.col("mx") < tau)).alias("keep"),
        F.round("mx", 6).alias("max_lower_cos"),
    )


# ---------------------------------------------------------------------------
# r11: the production ANN / SemDeDup entry points under the driver's hash
# gate at parameters the registered default-parameter queries do NOT
# use, so the oracle checks the parameter plumbing and not just the
# default path.

#: sim_ann_library_lsh banding — deliberately NOT the registered twin's
#: (L=4, r=4): 5 tables × 3 planes changes every bucket boundary, so a
#: hash-green verdict proves (n_tables, planes_per_table) reach the
#: signature builder.
_LIB_LSH_TABLES = 5
_LIB_LSH_PLANES = 3

#: sim_ann_library_srp probing — 6-bit grid at plane family 56..61
#: (disjoint from the ANN tables 0–15, SemDeDup 32–39 / 40–47, and the
#: registered grid 48–55).
_LIB_GRID_BITS = 6
_LIB_GRID_OFFSET = 56


def _sql_lib_lsh_tables(src: str) -> str:
    """Oracle rendering of ann_topk's parameterized multi-table
    signatures at the library-query banding (plane t*r+p, the same
    layout ann_topk derives from plane_offset + t * planes_per_table)."""
    selects = []
    for t in range(_LIB_LSH_TABLES):
        bucket = sql_lsh_bucket(
            "embedding", _LIB_LSH_PLANES, 64, t * _LIB_LSH_PLANES
        )
        selects.append(
            f"SELECT vec_id, embedding, nrm, {t} AS table_id, "
            f"{bucket} AS bucket FROM {src}"
        )
    return "\n            UNION ALL\n            ".join(selects)


@query(
    "sim_ann_library_lsh",
    survey_ref="L3,J1,W4",
    doc="The production ann_topk(method='lsh') entry under the hash "
    "gate at a banding the registered twin never uses (5 tables x 3 "
    "planes): multi-table LSH candidates, exact cosine rerank, top-k.",
    oracle=f"""
        WITH {_SQL_NORMED},
        tabs AS (
            {_sql_lib_lsh_tables('normed')}
        ),
        qtabs AS (SELECT vec_id AS query_id, table_id, bucket FROM tabs
                  WHERE vec_id < {N_QUERIES}),
        cand AS (
            SELECT DISTINCT q.query_id, t.vec_id AS neighbor_id
            FROM tabs t
            JOIN qtabs q ON t.table_id = q.table_id AND t.bucket = q.bucket
             AND t.vec_id <> q.query_id
        ),
        scored AS (
            SELECT c.query_id, c.neighbor_id,
                   {sql_dot('qn.embedding', 'en.embedding')} / (qn.nrm * en.nrm) AS cos
            FROM cand c
            JOIN normed qn ON qn.vec_id = c.query_id
            JOIN normed en ON en.vec_id = c.neighbor_id
        )
        SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rn AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id
            ) AS rn
            FROM scored
        )
        WHERE rn <= {TOP_K}
    """,
)
def sim_ann_library_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION ``ann_topk`` LSH path itself under the driver's
    hash gate (r10 verdict task 2): the registered corpus/query split
    handed to ONE ``ann_topk(method='lsh')`` call — no reimplemented
    candidate generation that could drift from the production code. The
    banding is (5 tables × 3 planes), NOT the registered twin's (4 × 4),
    so every bucket boundary moves and the oracle genuinely checks that
    ``n_tables``/``planes_per_table`` reach the signature builder — the
    recall/cost dial an ANN deployment actually turns (wider tables =
    higher per-table recall, more candidates).

    Scale shape — inherited from ann_topk: all 5 signatures per row in
    one pass over each side, query side broadcast into the bucket join,
    candidates deduped BEFORE the exact rerank, rerank over candidates
    only. The corpus never self-joins."""
    return ann_topk(
        *_ann_workload(spark, sf_dir),
        k=TOP_K,
        method="lsh",
        n_tables=_LIB_LSH_TABLES,
        planes_per_table=_LIB_LSH_PLANES,
    )


@query(
    "sim_ann_library_srp",
    survey_ref="L3,J1,W4",
    doc="The production ann_topk(method='srp_multiprobe') entry under "
    "the hash gate on a 6-bit grid at plane family 56..61 — Hamming-1 "
    "multi-probe, exact rerank, top-k.",
    oracle=f"""
        WITH {_SQL_NORMED},
        coded AS (
            SELECT vec_id, embedding, nrm,
                   {sql_srp_code('embedding', _LIB_GRID_BITS, 64, _LIB_GRID_OFFSET)} AS code
            FROM normed
        ),
        q AS (
            SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, code AS qcode
            FROM coded WHERE vec_id < {N_QUERIES}
        ),
        probes AS (
            SELECT query_id, qe, qn,
                   CASE WHEN f = -1 THEN qcode
                        ELSE xor(qcode, CAST(1 << f AS BIGINT)) END AS cell
            FROM q CROSS JOIN range(-1, {_LIB_GRID_BITS}) t(f)
        ),
        scored AS (
            SELECT p.query_id,
                   c.vec_id AS neighbor_id,
                   {sql_dot('p.qe', 'c.embedding')} / (p.qn * c.nrm) AS cos
            FROM probes p
            JOIN coded c ON c.code = p.cell
            WHERE c.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rn AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id
            ) AS rn
            FROM scored
        )
        WHERE rn <= {TOP_K}
    """,
)
def sim_ann_library_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION ``ann_topk`` grid-multi-probe path under the hash
    gate (r10 verdict task 2): one ``ann_topk(method='srp_multiprobe')``
    call on a 6-bit grid (64 cells, each query probing its home cell +
    6 Hamming-1 flips ≈ 11% of the corpus in expectation) at plane
    family 56..61 — both the cell count AND the plane family differ
    from the registered 8-bit/48-offset twin, so the verdict proves
    ``grid_bits`` and ``plane_offset`` reach the integer SRP encoder.

    Scale shape — inherited from ann_topk: one integer code per corpus
    row, probes exploded on the (broadcast) query side only, scoring
    confined to probed cells, per-query top-k window."""
    return ann_topk(
        *_ann_workload(spark, sf_dir),
        k=TOP_K,
        method="srp_multiprobe",
        grid_bits=_LIB_GRID_BITS,
        plane_offset=_LIB_GRID_OFFSET,
    )


#: dedup_semdedup_library parameters — every dial moved off the
#: registered defaults (tau 0.3, target 32, planes 32..39): tau 0.25 is
#: exactly representable so F.lit and the SQL literal are the same
#: double; target 16 halves expected cell population (one extra
#: refinement bit on the same corpus); planes 40..47 are a disjoint
#: slice of the LCG family.
_LIB_SEM_TAU = 0.25
_LIB_SEM_TARGET = 16
_LIB_SEM_OFFSET = 40

_LIB_SEM_BITS = (
    "CASE "
    + " ".join(
        f"WHEN n <= nl * {_LIB_SEM_TARGET * (1 << b)} THEN {b}"
        for b in range(_SEMDEDUP_MAX_REFINE + 1)
    )
    + f" ELSE {_SEMDEDUP_MAX_REFINE} END"
)


@query(
    "dedup_semdedup_library",
    survey_ref="L2,L3,J8,A1",
    doc="The production semdedup entry under the hash gate at "
    "non-default dials (tau 0.25, target cell 16, plane family 40..47): "
    "corpus-adaptive cells, per-cell lower-id cosine max, keep verdict.",
    oracle=f"""
        WITH {_SQL_NORMED},
        stats AS (
            SELECT count(*) AS n, count(DISTINCT label) AS nl FROM normed
        ),
        sigged AS (
            SELECT vec_id, embedding, label, nrm,
                   {sql_lsh_bucket('embedding', _SEMDEDUP_MAX_REFINE, 64, _LIB_SEM_OFFSET)} AS sig
            FROM normed
        ),
        celled AS (
            SELECT vec_id, embedding, label, nrm,
                   concat(CAST(label AS STRING), '|', substring(sig, 1, {_LIB_SEM_BITS})) AS cell
            FROM sigged CROSS JOIN stats
        ),
        lower_max AS (
            SELECT b.vec_id,
                   MAX({sql_dot('a.embedding', 'b.embedding')}
                       / (a.nrm * b.nrm)) AS mx
            FROM celled a
            JOIN celled b ON a.cell = b.cell AND a.vec_id < b.vec_id
            GROUP BY b.vec_id
        )
        SELECT c.vec_id,
               c.cell,
               (lm.mx IS NULL OR lm.mx < {_LIB_SEM_TAU}) AS keep,
               round(lm.mx, 6) AS max_lower_cos
        FROM celled c
        LEFT JOIN lower_max lm ON lm.vec_id = c.vec_id
    """,
)
def dedup_semdedup_library(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION ``semdedup`` entry itself under the driver's hash
    gate (r10 verdict task 2 — it was pinned only by pytest equality at
    the registered defaults): ONE ``semdedup`` call on the embeddings
    table with every dial moved — tau 0.25 (vs 0.3), target_cell 16 (vs
    32, adding one refinement bit at any corpus size where the ladder
    crosses), plane family 40..47 (vs 32..39, moving every cell
    boundary). A hash-green verdict therefore proves tau, target_cell,
    and plane_offset all reach the production cell/threshold logic.

    Scale shape — semdedup's, unchanged: broadcast 1-row stats feed the
    exact-integer bits ladder, one cell-keyed shuffle for the pairwise
    join (streamed side repartitioned before the compute-amplifying
    stage), one id-keyed partial-agg MAX, one left join back; pairwise
    work O(n·target·d), linear in corpus size."""
    e = load(spark, sf_dir, "embeddings")
    return semdedup(
        e,
        tau=_LIB_SEM_TAU,
        target_cell=_LIB_SEM_TARGET,
        plane_offset=_LIB_SEM_OFFSET,
    )


# ------------------- r12: rrf_fuse library router under the hash gate

_LIB_RRF_K = 10  # k moved off the Cormack/Clarke/Buettcher 60
_LIB_RRF_TOP = 7  # truncation moved off the registered top-5


@query(
    "sim_rrf_library_fuse",
    survey_ref="L3,L4,J2,W4",
    doc="The production rrf_fuse library entry routed through the hash "
    "gate at k=10 / top=7 over genuine per-modality rank frames (the "
    "registered fusion fixes the Cormack k=60 and top-5) — the oracle "
    "checks the k and truncation parameters reach the plan.",
    oracle=f"""
        WITH {BM25_CTES},
        {_rrf_fused_ctes(_LIB_RRF_K)}
        SELECT query_id, neighbor_id,
               CAST(rrf AS BIGINT) AS rrf_score,
               rn AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY rrf DESC, neighbor_id ASC
            ) AS rn
            FROM fused
        )
        WHERE rn <= {_LIB_RRF_TOP}
    """,
)
def sim_rrf_library_fuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE ``rrf_fuse`` call at never-registered dials (r11 verdict
    task 4): the registered ``sim_rrf_hybrid_fusion`` computes the
    fusion inline at the Cormack k=60 / top-5; THIS query hands the
    SAME two modality rank lists (BM25 lexical + exact-cosine vector,
    via the shared ``_lex_ranked``/``_vec_ranked`` builders) to the
    production list-of-rankings entry point with k=10 and top=7 — a
    smaller k reweights deep ranks hard enough to reorder fusions, so
    a k that silently failed to reach the reciprocal would hash-diverge
    immediately. The oracle shares ``_rrf_fused_ctes`` with the
    registered query (parameterized over k, r12).

    Scale shape — rrf_fuse's own: per-ranking min-rank dedup over the
    already RRF_POOL-truncated lists, one (query, item)-keyed partial
    agg, one per-query window; fusion cost independent of corpus size."""
    lex = _lex_ranked(spark, sf_dir)
    vec = _vec_ranked(spark, sf_dir)
    return rrf_fuse([lex, vec], k=_LIB_RRF_K, top=_LIB_RRF_TOP)
