"""Mergeable-sketch operators (SURVEY.md §2 A3 family, oracle-checked).

The repo's HLL entries (`agg_approx_count_distinct`,
`agg_hll_mergeable_sketch`) are rows-only because Spark's HLL++ cell
layout is engine-private. The sketches here are different: their whole
state is *integer* arithmetic over md5-derived positions, so the exact
same construction runs on DuckDB and the driver's value-hash gate applies
in full — approximate DATA STRUCTURES with exact, deterministic parity.
One per estimation problem: membership (Bloom), frequency (Count-Min),
cardinality (KMV + theta set algebra), quantiles (fixed-bin histogram).

Why they matter at 100 TB:

  * Bloom semi-join reduction — the canonical way to cut a fact-table
    shuffle: build a bits-only summary of the dim-side key set (here 4096
    bits = 128 bigint words — constant size regardless of key count),
    broadcast it, and drop fact rows map-side before any expensive
    downstream join/shuffle. Spark's own runtime-filter feature
    (`spark.sql.optimizer.runtime.bloomFilter.enabled`) does exactly
    this inside AQE; this operator makes the mechanism explicit,
    measurable (it reports the false-positive count) and portable.
  * KMV distinct-count — cardinality from the k smallest hash values
    per group: O(k) state forever, merged across shards by re-taking the
    k smallest of the union. The oracle-exact stand-in for HLL wherever
    cross-engine verifiability matters more than the last 2× of sketch
    compactness.
  * Count-Min heavy hitters — frequency estimates from a fixed
    d×w counter grid (4×256 cells here). The grid is built with one
    partial-aggregating groupBy, is linearly mergeable across corpus
    shards (cell-wise +), and its one-sided error (estimate >= truth) is
    exactly what corpus token-frequency guards want. The report joins the
    estimates against exact counts so the overcount is visible.

All of them stay entirely in whole-stage codegen: md5 + conv + bitwise
ops are JVM built-ins; no Python, no UDF, no collect. The only full
sorts are the exact-comparison columns that measure the sketches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_for_ebook_classification_spark.functions.ranks import with_global_rank
from pyspark_for_ebook_classification_spark.plans.registry import query
from pyspark_for_ebook_classification_spark.sources.io import load

# ------------------------------------------------------------------ bloom
#: filter geometry: m = 4096 bits as 128 × 32-bit words (words live in
#: BIGINT so no set bit ever touches the sign bit — portable shifts),
#: k = 3 hash functions from the md5 universal family used by minhash.
#: ~13 bits/key at sf0.01's ~300 BUILDING customers — production sizing
#: (~1% fill-rate³ false positives), not a toy fill level.
_BLOOM_BITS = 4096
_BLOOM_WORD = 32
_BLOOM_SEEDS = ("0", "1", "2")


def _spark_pos(seed: str, key: str) -> str:
    """Bit position of ``key`` under hash ``seed`` (SQL-expr string)."""
    return (
        f"CAST(conv(substring(md5(concat('{seed}:', CAST({key} AS STRING))), 1, 15),"
        f" 16, 10) AS BIGINT) % {_BLOOM_BITS}"
    )


def _sql_pos(seed: str, key: str) -> str:
    return (
        f"CAST(('0x' || substring(md5('{seed}:' || CAST({key} AS VARCHAR)), 1, 15))"
        f" AS BIGINT) % {_BLOOM_BITS}"
    )


def _sql_bloom_probe() -> str:
    """Oracle CTE chain: bitmap build + 3 word lookups per order."""
    joins = "\n".join(
        f"            LEFT JOIN bitmap b{t} ON p.p{t} // {_BLOOM_WORD} = b{t}.word_idx"
        for t in range(3)
    )
    hits = " AND ".join(
        f"(COALESCE(b{t}.word, 0) & (CAST(1 AS BIGINT) << CAST(p.p{t} % {_BLOOM_WORD} AS INT))) <> 0"
        for t in range(3)
    )
    pos_cols = ",\n".join(
        f"                   {_sql_pos(s, 'o_custkey')} AS p{t}"
        for t, s in enumerate(_BLOOM_SEEDS)
    )
    return f"""
        keys AS (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        ),
        seeds AS (SELECT * FROM (VALUES ('0'), ('1'), ('2')) s(seed)),
        bits AS (
            SELECT CAST(('0x' || substring(md5(seed || ':' ||
                       CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
                   % {_BLOOM_BITS} AS pos
            FROM keys, seeds
        ),
        bitmap AS (
            SELECT pos // {_BLOOM_WORD} AS word_idx,
                   bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_WORD} AS INT)) AS word
            FROM bits GROUP BY 1
        ),
        p AS (
            SELECT o_orderkey, o_custkey,
{pos_cols}
            FROM orders
        ),
        tested AS (
            SELECT p.o_orderkey, p.o_custkey,
                   ({hits}) AS bloom_pass,
                   k.c_custkey IS NOT NULL AS is_member
            FROM p
{joins}
            LEFT JOIN (SELECT DISTINCT c_custkey FROM keys) k
                   ON p.o_custkey = k.c_custkey
        )
"""


@query(
    "sketch_bloom_semijoin",
    survey_ref="A3,J3,J4,F7",
    doc="Bloom-filter semi-join reduction: 4096-bit filter over BUILDING "
    "customers probed map-side by every order; reports exact vs bloom "
    "pass counts (false positives measured, zero false negatives).",
    oracle=f"""
        WITH {_sql_bloom_probe()}
        SELECT COUNT(*) AS n_orders,
               CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bloom_pass,
               CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_exact_match,
               CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_false_pos
        FROM tested
    """,
)
def sketch_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build: 3 md5 positions per BUILDING customer → <=128-row (word, bits)
    bitmap via ``bit_or`` partial agg. Probe: each order computes its 3
    positions as COLUMNS (no row expansion) and picks up the matching
    words through 3 broadcast joins against the <=128-row bitmap — i.e. a
    pure map-side membership test, which is the whole point: at 100 TB
    the fact side never shuffles, never explodes, and rows failing the
    filter die before any downstream join. The summary row quantifies
    the trade: ``n_false_pos`` of ``n_bloom_pass`` probes survive
    spuriously (tunable via m/k), while ``n_exact_match`` rows can never
    be lost (no-false-negative property is asserted in
    tests/test_property.py)."""
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    bits = (
        cust.select(
            F.explode(F.array(*[F.lit(s) for s in _BLOOM_SEEDS])).alias("seed"),
            "c_custkey",
        )
        .select(
            F.expr(
                f"CAST(conv(substring(md5(concat(seed, ':', CAST(c_custkey AS STRING))),"
                f" 1, 15), 16, 10) AS BIGINT) % {_BLOOM_BITS}"
            ).alias("pos")
        )
    )
    bitmap = (
        bits.select(
            F.expr(f"pos div {_BLOOM_WORD}").alias("word_idx"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD} AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )

    probed = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    hit_cols = []
    for t, s in enumerate(_BLOOM_SEEDS):
        probed = probed.withColumn(f"p{t}", F.expr(_spark_pos(s, "o_custkey")))
        bm = bitmap.select(
            F.col("word_idx").alias(f"bw{t}"), F.col("word").alias(f"wv{t}")
        )
        probed = probed.join(
            F.broadcast(bm),
            F.expr(f"p{t} div {_BLOOM_WORD}") == F.col(f"bw{t}"),
            "left",
        )
        hit_cols.append(
            F.expr(
                f"(COALESCE(wv{t}, CAST(0 AS BIGINT)) &"
                f" shiftleft(CAST(1 AS BIGINT), CAST(p{t} % {_BLOOM_WORD} AS INT))) <> 0"
            )
        )
    bloom_pass = hit_cols[0] & hit_cols[1] & hit_cols[2]

    members = cust.distinct().withColumn("is_member", F.lit(True))
    tested = probed.join(
        F.broadcast(members), probed.o_custkey == members.c_custkey, "left"
    ).select(
        bloom_pass.alias("bloom_pass"),
        F.coalesce("is_member", F.lit(False)).alias("is_member"),
    )
    return tested.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_bloom_pass"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact_match"),
        F.sum(F.when(F.col("bloom_pass") & ~F.col("is_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
    )


# -------------------------------------------------------------- count-min
_CM_DEPTH = 4  # hash rows
_CM_WIDTH = 256  # buckets per row
_CM_TOPK = 20

_CM_BUCKET = (
    f"CAST(conv(substring(md5(concat(CAST(t AS STRING), ':', token)), 1, 15),"
    f" 16, 10) AS BIGINT) % {_CM_WIDTH}"
)


def cm_token_counts(documents: DataFrame) -> DataFrame:
    """(token, exact_cnt): the vocabulary-collapsing first groupBy."""
    tok = documents.select(
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("token")
    )
    return tok.groupBy("token").agg(F.count(F.lit(1)).alias("exact_cnt"))


def cm_cells(cnt: DataFrame) -> DataFrame:
    """The 4×256 counter grid from per-token counts. Linear in its input:
    grids from disjoint corpus shards merge by cell-wise addition
    (asserted in tests/test_sketches.py)."""
    seeded = cnt.select(
        "token",
        "exact_cnt",
        F.explode(F.array(*[F.lit(t) for t in range(_CM_DEPTH)])).alias("t"),
    ).withColumn("bucket", F.expr(_CM_BUCKET))
    return seeded.groupBy("t", "bucket").agg(
        F.sum("exact_cnt").cast("bigint").alias("cell")
    )


@query(
    "sketch_countmin_topk",
    survey_ref="A3,L6,F7",
    doc="Count-Min sketch (4×256 grid) frequency estimates for the exact "
    "top-20 corpus tokens, reported next to true counts (est >= truth).",
    oracle=f"""
        WITH tok AS (
            SELECT unnest(list_filter(string_split(text, ' '), t -> t <> ''))
                AS token
            FROM documents
        ),
        cnt AS (SELECT token, COUNT(*) AS exact_cnt FROM tok GROUP BY token),
        seeds AS (
            SELECT * FROM (VALUES (0), (1), (2), (3)) s(t)
        ),
        cells AS (
            SELECT t,
                   CAST(('0x' || substring(md5(CAST(t AS VARCHAR) || ':' || token),
                        1, 15)) AS BIGINT) % {_CM_WIDTH} AS bucket,
                   CAST(SUM(exact_cnt) AS BIGINT) AS cell
            FROM cnt, seeds
            GROUP BY 1, 2
        ),
        top AS (
            SELECT token, exact_cnt
            FROM (
                SELECT token, exact_cnt,
                       row_number() OVER (ORDER BY exact_cnt DESC, token) AS rn
                FROM cnt
            )
            WHERE rn <= {_CM_TOPK}
        ),
        probes AS (
            SELECT top.token, top.exact_cnt, seeds.t,
                   CAST(('0x' || substring(md5(CAST(seeds.t AS VARCHAR) || ':' ||
                        top.token), 1, 15)) AS BIGINT) % {_CM_WIDTH} AS bucket
            FROM top, seeds
        )
        SELECT p.token,
               p.exact_cnt,
               CAST(MIN(c.cell) AS BIGINT) AS cm_estimate,
               CAST(MIN(c.cell) - p.exact_cnt AS BIGINT) AS overcount
        FROM probes p
        JOIN cells c ON p.t = c.t AND p.bucket = c.bucket
        GROUP BY p.token, p.exact_cnt
    """,
)
def sketch_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min over corpus tokens, evaluated against exact counts.

    Build order matters at scale: token occurrences are first collapsed
    to exact per-token counts by ONE partial-aggregating groupBy (the
    shuffle moves |vocab| rows, not the token stream), then the 4-seed
    expansion happens on the collapsed vocabulary and folds straight into
    the 4×256 grid — a second groupBy whose output is 1,024 rows
    regardless of corpus size. The grid is the mergeable artifact: two
    corpus shards' grids add cell-wise (same property `count_min_sketch`'s
    binary buffers have — see tests/test_scale.py — but here the state is
    plain rows, so DuckDB can build the identical grid and the driver's
    value-hash gate covers the whole construction).

    Estimates = min over the 4 probed cells; the one-sided error
    (``cm_estimate >= exact_cnt``, i.e. ``overcount >= 0``) is asserted
    as a property test. Candidates are the exact top-20 (deterministic
    tie-break on token) so the report is reproducible; a production
    heavy-hitter pass would track candidates with a bounded heap instead."""
    cnt = cm_token_counts(load(spark, sf_dir, "documents"))
    cells = cm_cells(cnt)

    # deterministic top-20: sort+limit compiles to TakeOrderedAndProject
    # (per-partition top-20 then a 20-row merge on the driver side of the
    # exchange — never a single-partition global window).
    top = cnt.orderBy(F.col("exact_cnt").desc(), F.col("token")).limit(_CM_TOPK)
    probes = top.select(
        "token",
        "exact_cnt",
        F.explode(F.array(*[F.lit(t) for t in range(_CM_DEPTH)])).alias("t"),
    ).withColumn("bucket", F.expr(_CM_BUCKET))
    return (
        probes.join(cells, ["t", "bucket"])
        .groupBy("token", "exact_cnt")
        .agg(F.min("cell").cast("bigint").alias("cm_estimate"))
        .withColumn(
            "overcount", (F.col("cm_estimate") - F.col("exact_cnt")).cast("bigint")
        )
    )


# ------------------------------------------------------------------- KMV
_KMV_K = 64
_KMV_RANGE = 1 << 52  # md5 13-hex-char prefix: uniform in [0, 2^52)
# 52 bits, not 60: the estimator multiplies (k-1) * RANGE, and 63 * 2^60
# overflows int64 (Spark 4 runs ANSI mode and raises); 63 * 2^52 fits
# with two orders of magnitude to spare. Collisions at 52 bits over the
# key counts involved are ~0.

_KMV_HASH_SPARK = (
    "CAST(conv(substring(md5(concat('k:', CAST(o_custkey AS STRING))), 1, 13),"
    " 16, 10) AS BIGINT)"
)
_KMV_HASH_SQL = (
    "CAST(('0x' || substring(md5('k:' || CAST(o_custkey AS VARCHAR)), 1, 13))"
    " AS BIGINT)"
)


@query(
    "sketch_kmv_distinct",
    survey_ref="A3,A2,W4,F7",
    doc="KMV (k-minimum-values) distinct-count sketch per order priority: "
    "64 smallest md5 hashes estimate distinct customers; reported next to "
    "the exact count.",
    oracle=f"""
        WITH hashed AS (
            SELECT DISTINCT o_orderpriority, o_custkey,
                   {_KMV_HASH_SQL} AS h
            FROM orders
        ),
        ranked AS (
            SELECT o_orderpriority, h,
                   row_number() OVER (
                       PARTITION BY o_orderpriority ORDER BY h, o_custkey
                   ) AS rn,
                   COUNT(*) OVER (PARTITION BY o_orderpriority) AS n_exact
            FROM hashed
        ),
        kept AS (
            SELECT o_orderpriority, n_exact, MAX(h) AS kth, COUNT(*) AS n_kept
            FROM ranked WHERE rn <= {_KMV_K}
            GROUP BY o_orderpriority, n_exact
        )
        SELECT o_orderpriority,
               CAST(n_exact AS BIGINT) AS n_exact,
               CAST(CASE WHEN n_kept < {_KMV_K} THEN n_kept
                         ELSE ({_KMV_K} - 1) * {_KMV_RANGE} // kth
                    END AS BIGINT) AS kmv_estimate
        FROM kept
    """,
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customers per order priority, twice: exactly, and from a
    KMV sketch — the third mergeable sketch (membership → bloom,
    frequency → count-min, cardinality → this), and the oracle-checked
    complement to the rows-only HLL entries: the whole sketch state is
    the 64 smallest 52-bit md5 values, so DuckDB builds the identical
    sketch and the estimate ``(k-1) * 2^52 div kth_min`` is one integer
    division — deterministic in both engines (operands are nonnegative,
    where Spark's ``div`` and DuckDB's ``//`` agree; neither value can
    go negative here, which keeps truncate-vs-floor semantics out of
    play).

    Scale shape: one distinct-collapse shuffle on (group, key), then the
    per-group 64-minimum via a rank window — Spark compiles the rn<=k
    filter to WindowGroupLimit, so every map task keeps only its local
    64 smallest before the exchange; state per group is O(k) forever.
    Sketches from disjoint shards merge by re-taking the 64 smallest of
    the union (asserted in tests/test_sketches.py). Below k distinct
    keys the sketch IS the exact distinct set (estimate = count)."""
    hashed = (
        load(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_custkey")
        .distinct()
        .withColumn("h", F.expr(_KMV_HASH_SPARK))
    )
    from pyspark.sql import Window

    # exact count as a separate group-count joined back (5 rows) — folding
    # it into the rank select as count() OVER the whole partition would
    # block the WindowGroupLimit pushdown, since the rn <= k filter could
    # then no longer drop rows before the full-partition window runs.
    # The broadcast hint fixes the build side: both join sides are a few
    # rows, and without it AQE builds on whichever side's stage finished
    # first, so repeated runs alternate between two generated-code plans.
    n_exact = F.broadcast(
        hashed.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_exact"))
    )
    w_rank = Window.partitionBy("o_orderpriority").orderBy("h", "o_custkey")
    ranked = hashed.select(
        "o_orderpriority", "h", F.row_number().over(w_rank).alias("rn")
    )
    kept = (
        ranked.filter(F.col("rn") <= _KMV_K)
        .groupBy("o_orderpriority")
        .agg(F.max("h").alias("kth"), F.count(F.lit(1)).alias("n_kept"))
    )
    return kept.join(n_exact, "o_orderpriority").select(
        "o_orderpriority",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.when(F.col("n_kept") < _KMV_K, F.col("n_kept"))
        .otherwise(F.expr(f"({_KMV_K} - 1) * {_KMV_RANGE}L div kth"))
        .cast("bigint")
        .alias("kmv_estimate"),
    )


# ------------------------------------------------------- theta set overlap
_THETA_SETS = (("a", "1-URGENT"), ("b", "2-HIGH"))


def _theta_sql() -> str:
    per_set = []
    for tag, prio in _THETA_SETS:
        per_set.append(
            f"""
        keys_{tag} AS (
            SELECT DISTINCT o_custkey, {_KMV_HASH_SQL} AS h
            FROM orders WHERE o_orderpriority = '{prio}'
        ),
        sk_{tag} AS (
            SELECT o_custkey, h
            FROM (SELECT o_custkey, h,
                         row_number() OVER (ORDER BY h, o_custkey) AS rn
                  FROM keys_{tag})
            WHERE rn <= {_KMV_K}
        ),
        th_{tag} AS (
            SELECT CASE WHEN (SELECT COUNT(*) FROM keys_{tag}) < {_KMV_K}
                        THEN {_KMV_RANGE}
                        ELSE (SELECT MAX(h) FROM sk_{tag}) END AS theta
        )"""
        )
    return (
        "WITH"
        + ",".join(per_set)
        + f""",
        th AS (SELECT LEAST(th_a.theta, th_b.theta) AS theta FROM th_a, th_b),
        below_a AS (SELECT o_custkey FROM sk_a, th WHERE h < theta),
        below_b AS (SELECT o_custkey FROM sk_b, th WHERE h < theta),
        inter AS (
            SELECT COUNT(*) AS n FROM below_a JOIN below_b USING (o_custkey)
        ),
        uni AS (
            SELECT COUNT(*) AS n FROM (
                SELECT o_custkey FROM below_a UNION SELECT o_custkey FROM below_b
            )
        ),
        exact AS (
            SELECT
                (SELECT COUNT(*) FROM keys_a) AS n_exact_a,
                (SELECT COUNT(*) FROM keys_b) AS n_exact_b,
                (SELECT COUNT(*) FROM keys_a JOIN keys_b USING (o_custkey))
                    AS n_exact_inter
        )
        SELECT CAST(n_exact_a AS BIGINT) AS n_exact_a,
               CAST(n_exact_b AS BIGINT) AS n_exact_b,
               CAST(n_exact_inter AS BIGINT) AS n_exact_inter,
               CAST(inter.n * {_KMV_RANGE} // th.theta AS BIGINT)
                   AS est_inter,
               CAST(uni.n * {_KMV_RANGE} // th.theta AS BIGINT) AS est_union
        FROM exact, inter, uni, th"""
    )


@query(
    "sketch_theta_set_overlap",
    survey_ref="A3,A2,U2,F7",
    doc="Theta-sketch set operations: estimated intersection and union of "
    "URGENT-order vs HIGH-order customer sets from two 64-value KMV "
    "sketches, next to the exact counts.",
    oracle=_theta_sql(),
)
def sketch_theta_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capability that separates theta/KMV sketches from HLL: set
    ALGEBRA on sketches. Each side keeps its 64 smallest hashes; theta =
    min of the two 64th-smallest values; every retained hash below theta
    is a uniform 1-in-(RANGE/theta) sample of its set, so
    ``|sample ∩| * RANGE div theta`` estimates the intersection (same
    for union) — pure integer arithmetic, engine-exact, with the exact
    counts alongside for honesty about the error.

    At 100 TB: audience-overlap questions ("how many customers are in
    BOTH segments?") otherwise need a distinct-shuffle of both key sets
    every time they're asked; two O(k) sketches answer any number of
    overlap queries after one pass each, and sketches from shards merge
    before comparing. Build shape per set is the KMV one
    ; the per-set k-min is ``orderBy(h).limit(k)``, which compiles to
    TakeOrderedAndProject — each map task keeps its local 64 smallest
    and a 64-row merge finishes it, so no global-window single partition
    ever sees the full key set (plan-asserted). The overlap math then
    runs on ≤64-row single-row aggregates stitched with broadcast
    crossJoins — fully lazy, no driver-side collect anywhere in the
    plan."""
    sks = {}
    ths = {}
    exact_keys = {}
    for tag, prio in _THETA_SETS:
        keys = (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority") == prio)
            .select("o_custkey")
            .distinct()
            .withColumn("h", F.expr(_KMV_HASH_SPARK))
        )
        exact_keys[tag] = keys
        sk = keys.orderBy("h", "o_custkey").limit(_KMV_K).select("o_custkey", "h")
        sks[tag] = sk
        # per-set theta as a ONE-ROW frame: RANGE while the set still fits
        # in the sketch, else the kth smallest hash
        ths[tag] = (
            sk.agg(F.max("h").alias("kth"), F.count(F.lit(1)).alias("n_kept"))
            .select(
                F.when(F.col("n_kept") < _KMV_K, F.lit(_KMV_RANGE).cast("bigint"))
                .otherwise(F.col("kth"))
                .alias(f"theta_{tag}")
            )
        )

    theta = (
        ths["a"]
        .crossJoin(ths["b"])
        .select(F.least("theta_a", "theta_b").alias("theta"))
    )
    below = {
        tag: sks[tag]
        .crossJoin(F.broadcast(theta))
        .filter(F.col("h") < F.col("theta"))
        .select("o_custkey")
        for tag, _ in _THETA_SETS
    }
    inter = below["a"].join(below["b"], "o_custkey").agg(
        F.count(F.lit(1)).alias("n_inter")
    )
    uni = (
        below["a"].union(below["b"]).distinct().agg(F.count(F.lit(1)).alias("n_union"))
    )
    exact = (
        exact_keys["a"]
        .agg(F.count(F.lit(1)).alias("n_exact_a"))
        .crossJoin(exact_keys["b"].agg(F.count(F.lit(1)).alias("n_exact_b")))
        .crossJoin(
            exact_keys["a"]
            .select("o_custkey")
            .join(exact_keys["b"].select("o_custkey"), "o_custkey")
            .agg(F.count(F.lit(1)).alias("n_exact_inter"))
        )
    )
    return (
        exact.crossJoin(inter)
        .crossJoin(uni)
        .crossJoin(F.broadcast(theta))
        .select(
            F.col("n_exact_a").cast("bigint").alias("n_exact_a"),
            F.col("n_exact_b").cast("bigint").alias("n_exact_b"),
            F.col("n_exact_inter").cast("bigint").alias("n_exact_inter"),
            F.expr(f"CAST(n_inter * {_KMV_RANGE}L div theta AS BIGINT)").alias(
                "est_inter"
            ),
            F.expr(f"CAST(n_union * {_KMV_RANGE}L div theta AS BIGINT)").alias(
                "est_union"
            ),
        )
    )


# ------------------------------------------------- histogram quantiles
_HG_BINS = 256
_HG_QS = ("0.50", "0.90", "0.99")  # decimal literals shared by both engines


@query(
    "sketch_histogram_quantiles",
    survey_ref="A3,A7,W3,F3",
    doc="Equi-width 256-bin histogram quantile estimates of order totals "
    "(P50/P90/P99) next to the exact rank-based quantiles.",
    oracle=f"""
        WITH ext AS (
            SELECT CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
                   CAST(MAX(o_totalprice) AS DOUBLE) AS hi,
                   COUNT(*) AS n
            FROM orders
        ),
        binned AS (
            SELECT LEAST({_HG_BINS - 1}, CAST(floor(
                       (CAST(o_totalprice AS DOUBLE) - ext.lo)
                       * CAST({_HG_BINS} AS DOUBLE) / (ext.hi - ext.lo)
                   ) AS INT)) AS bin
            FROM orders, ext
        ),
        hist AS (
            SELECT bin, COUNT(*) AS cnt FROM binned GROUP BY bin
        ),
        cum AS (
            SELECT bin, cnt,
                   SUM(cnt) OVER (ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
            FROM hist
        ),
        qs AS (
            SELECT CAST(q AS DOUBLE) AS q,
                   CAST(ceil(CAST(q AS DECIMAL(10,2)) * ext.n) AS BIGINT)
                       AS target
            FROM (VALUES ({_HG_QS[0]}), ({_HG_QS[1]}), ({_HG_QS[2]})) v(q), ext
        ),
        est AS (
            SELECT q, target, MIN(bin) AS qbin
            FROM qs JOIN cum ON cum.cw >= qs.target
            GROUP BY q, target
        ),
        ranked AS (
            SELECT o_totalprice,
                   row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
            FROM orders
        )
        SELECT est.q,
               round(ext.lo + (ext.hi - ext.lo) * (est.qbin + 1) / {_HG_BINS}, 6)
                   AS est_upper_edge,
               r.o_totalprice AS exact_value
        FROM est, ext
        JOIN ranked r ON r.rn = est.target
    """,
)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from a fixed 256-cell histogram — the fourth classic
    sketch next to Bloom/Count-Min/KMV: approximate QUANTILES with O(bins)
    state, mergeable by cell-wise addition, reported against the exact
    rank-based (type-1) quantile so the bin-width error is visible. This
    is the oracle-exact reference shape for what production systems serve
    from t-digest/KLL sketches (`approx_percentile` stays rows-only for
    the same reason HLL does — engine-private buffers).

    Estimator: the reported value is the upper edge of the first bin
    whose cumulative count reaches ceil(q·N) — a deterministic one-sided
    bound (estimate >= exact, asserted in tests) rather than an in-bin
    interpolation, so every arithmetic step is a single IEEE op on
    identical operands in both engines.

    Scale shape: one pass for global extent (two-value agg, broadcast
    back), one partial-aggregating groupBy into ≤256 cells, then all
    quantile math runs on the 256-row histogram. The exact comparison
    column is the only full sort — it exists to measure the sketch, not
    as part of it."""
    o = load(spark, sf_dir, "orders")
    ext = o.agg(
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    # all bin arithmetic explicitly in DOUBLE on both engines: if the
    # column ever ships as DECIMAL in a future testdata generation,
    # decimal-vs-double quotient rounding could flip a boundary value
    # into a different bin and break parity — the casts pin the types.
    binned = o.crossJoin(F.broadcast(ext)).select(
        F.least(
            F.lit(_HG_BINS - 1),
            F.floor(
                (F.col("o_totalprice").cast("double") - F.col("lo").cast("double"))
                * F.lit(_HG_BINS).cast("double")
                / (F.col("hi").cast("double") - F.col("lo").cast("double"))
            ).cast("int"),
        ).alias("bin")
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window

    cum = hist.select(
        "bin",
        F.sum("cnt")
        .over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cw"),
    )
    qs = (
        spark.createDataFrame([(q,) for q in _HG_QS], "q string")
        .crossJoin(F.broadcast(ext.select("n")))
        .select(
            F.col("q").cast("double").alias("q"),
            F.ceil(F.col("q").cast("decimal(10,2)") * F.col("n"))
            .cast("bigint")
            .alias("target"),
        )
    )
    est = (
        qs.join(F.broadcast(cum), F.col("cw") >= F.col("target"))
        .groupBy("q", "target")
        .agg(F.min("bin").alias("qbin"))
    )
    ranked = with_global_rank(
        o.select("o_totalprice", "o_orderkey"),
        ["o_totalprice", "o_orderkey"],
        out="rn",
    ).select("o_totalprice", "rn")
    return (
        est.crossJoin(F.broadcast(ext.select("lo", "hi")))
        .join(ranked, F.col("rn") == F.col("target"))
        .select(
            "q",
            F.round(
                F.col("lo")
                + (F.col("hi") - F.col("lo")) * (F.col("qbin") + 1) / _HG_BINS,
                6,
            ).alias("est_upper_edge"),
            F.col("o_totalprice").alias("exact_value"),
        )
    )


# ------------------------------------------------------------------- HLL
#: HyperLogLog geometry: p = 6 → m = 64 registers, alpha_64 = 0.709.
#: The 60-bit md5 hash splits as (register = low 6 bits, w = high 54
#: bits); rho = leading-zeros-of-w + 1 = 55 - bitlength(w), so every
#: register value is pure integer/string arithmetic both engines define
#: identically (bin() + length()) — unlike Spark's private HLL++ cells
#: (agg_approx_count_distinct stays rows-only for exactly that reason).
_HLL_M = 64
_HLL_RHO_MAX = 55  # 54-bit w: rho in [1, 55]; empty register = 0
_HLL_NUMER = "0.709 * 4096 * 36028797018963968"  # alpha * m^2 * 2^55

_HLL_HASH_SPARK = (
    "CAST(conv(substring(md5(concat('h:', CAST(c_custkey AS STRING))), 1, 15),"
    " 16, 10) AS BIGINT)"
)
_HLL_HASH_SQL = (
    "CAST(('0x' || substring(md5('h:' || CAST(c_custkey AS VARCHAR)), 1, 15))"
    " AS BIGINT)"
)
_RHO_SQL = f"CASE WHEN w = 0 THEN {_HLL_RHO_MAX} ELSE {_HLL_RHO_MAX} - length(bin(w)) END"


@query(
    "sketch_hll_registers",
    survey_ref="A3,A1,F7",
    doc="HyperLogLog register table (m=64) over customer keys, built as a "
    "two-level shard merge — the mergeable-sketch dataflow with exact "
    "cross-engine parity.",
    oracle=f"""
        WITH hashed AS (SELECT {_HLL_HASH_SQL} AS v FROM customer),
        parts AS (SELECT v % {_HLL_M} AS reg, v // {_HLL_M} AS w FROM hashed),
        regs AS (
            SELECT reg, MAX({_RHO_SQL}) AS mx
            FROM parts GROUP BY reg
        )
        SELECT CAST(g.i AS BIGINT) AS register_idx,
               CAST(COALESCE(mx, 0) AS BIGINT) AS rho
        FROM generate_series(0, {_HLL_M - 1}) g(i)
        LEFT JOIN regs ON regs.reg = g.i
    """,
)
def sketch_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL sketch AS DATA: one row per register with its max rho.

    The Spark side deliberately computes it in two stages — per-shard
    register maxima (shard = custkey % 2) then a cell-wise MAX merge —
    while the oracle computes registers directly over the whole table.
    Equality of the two (the driver's value-hash) is precisely HLL's
    merge-invariance: sketch(A ∪ B) = merge(sketch(A), sketch(B)).
    That is the property that makes the sketch usable at 100 TB — each
    corpus shard aggregates locally (map-side combine does the shard
    level for free) and the final reduce is 64 BIGINT max() cells, a
    constant-size shuffle regardless of key count. The empty-register
    spine (spark.range(m)) keeps the sketch total so downstream merges
    and the estimator see all m cells."""
    c = load(spark, sf_dir, "customer")
    parts = c.select(
        (F.col("c_custkey") % 2).alias("shard"),
        F.expr(_HLL_HASH_SPARK).alias("v"),
    ).select(
        "shard",
        (F.col("v") % _HLL_M).alias("reg"),
        F.expr(f"v div {_HLL_M}").alias("w"),
    )
    rho = F.when(F.col("w") == 0, _HLL_RHO_MAX).otherwise(
        _HLL_RHO_MAX - F.length(F.expr("bin(w)"))
    )
    shard_regs = parts.select("shard", "reg", rho.alias("rho")).groupBy(
        "shard", "reg"
    ).agg(F.max("rho").alias("mx"))
    merged = shard_regs.groupBy("reg").agg(F.max("mx").alias("mx"))
    spine = spark.range(_HLL_M).select(F.col("id").alias("register_idx"))
    return spine.join(
        merged, spine.register_idx == merged.reg, "left"
    ).select(
        F.col("register_idx").cast("bigint").alias("register_idx"),
        F.coalesce("mx", F.lit(0)).cast("bigint").alias("rho"),
    )


@query(
    "sketch_hll_estimate",
    survey_ref="A3,A2,A1,F7",
    doc="HLL cardinality estimate per market segment (m=64, with the "
    "linear-counting small-range correction) next to the exact count.",
    oracle=f"""
        WITH hashed AS (
            SELECT c_mktsegment, {_HLL_HASH_SQL} AS v FROM customer
        ),
        parts AS (
            SELECT c_mktsegment, v % {_HLL_M} AS reg, v // {_HLL_M} AS w
            FROM hashed
        ),
        regs AS (
            SELECT c_mktsegment, reg, MAX({_RHO_SQL}) AS rho
            FROM parts GROUP BY c_mktsegment, reg
        ),
        spine AS (
            SELECT s.c_mktsegment, g.i AS reg
            FROM (SELECT DISTINCT c_mktsegment FROM customer) s,
                 generate_series(0, {_HLL_M - 1}) g(i)
        ),
        cells AS (
            SELECT sp.c_mktsegment, COALESCE(r.rho, 0) AS rho
            FROM spine sp LEFT JOIN regs r
              ON r.c_mktsegment = sp.c_mktsegment AND r.reg = sp.reg
        ),
        summed AS (
            SELECT c_mktsegment,
                   SUM(CAST(1 AS BIGINT) << CAST({_HLL_RHO_MAX} - rho AS INT))
                       AS s_scaled,
                   SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS n_zero
            FROM cells GROUP BY c_mktsegment
        ),
        exact AS (
            SELECT c_mktsegment, COUNT(DISTINCT c_custkey) AS n_exact
            FROM customer GROUP BY c_mktsegment
        )
        SELECT e.c_mktsegment,
               CAST(n_exact AS BIGINT) AS n_exact,
               CAST(n_zero AS BIGINT) AS n_zero_registers,
               round(CASE
                   WHEN ({_HLL_NUMER}) / CAST(s_scaled AS DOUBLE)
                            <= 2.5 * {_HLL_M} AND n_zero > 0
                   THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE) / n_zero)
                   ELSE ({_HLL_NUMER}) / CAST(s_scaled AS DOUBLE)
               END, 6) AS hll_estimate
        FROM summed s JOIN exact e USING (c_mktsegment)
    """,
)
def sketch_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic-mean HLL estimator with small-range correction.

    Exactness trick: Σ 2^(−rho) over the 64 registers is kept as the
    INTEGER Σ 2^(55−rho) (max 64·2^55 < 2^62 — no overflow), so the
    denominator is exact and the estimate is a single deterministic
    double division; the only libm call is ln() in the linear-counting
    branch, rounded per the registry contract. The register build is
    the same constant-size two-shuffle dataflow as
    sketch_hll_registers, here keyed by segment (sketch-per-group —
    the GROUP BY form a 100 TB profiler actually runs)."""
    c = load(spark, sf_dir, "customer")
    parts = c.select(
        "c_mktsegment", F.expr(_HLL_HASH_SPARK).alias("v")
    ).select(
        "c_mktsegment",
        (F.col("v") % _HLL_M).alias("reg"),
        F.expr(f"v div {_HLL_M}").alias("w"),
    )
    rho = F.when(F.col("w") == 0, _HLL_RHO_MAX).otherwise(
        _HLL_RHO_MAX - F.length(F.expr("bin(w)"))
    )
    regs = parts.select("c_mktsegment", "reg", rho.alias("rho")).groupBy(
        "c_mktsegment", "reg"
    ).agg(F.max("rho").alias("rho"))
    segs = c.select("c_mktsegment").distinct()
    spine = segs.crossJoin(
        F.broadcast(spark.range(_HLL_M).select(F.col("id").alias("reg")))
    )
    cells = spine.join(regs, ["c_mktsegment", "reg"], "left").select(
        "c_mktsegment", F.coalesce("rho", F.lit(0)).alias("rho")
    )
    summed = cells.groupBy("c_mktsegment").agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_RHO_MAX} - rho AS INT))")
        ).alias("s_scaled"),
        F.sum(F.when(F.col("rho") == 0, 1).otherwise(0)).alias("n_zero"),
    )
    exact = c.groupBy("c_mktsegment").agg(
        F.countDistinct("c_custkey").alias("n_exact")
    )
    raw = F.expr(f"({_HLL_NUMER}) / CAST(s_scaled AS DOUBLE)")
    lc = F.expr(f"{_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE) / n_zero)")
    return summed.join(exact, "c_mktsegment").select(
        "c_mktsegment",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("n_zero").cast("bigint").alias("n_zero_registers"),
        F.round(
            F.when((raw <= 2.5 * _HLL_M) & (F.col("n_zero") > 0), lc).otherwise(raw),
            6,
        ).alias("hll_estimate"),
    )


# ---------------------------------------------------------------------------
# Bloom FPR calibration — realized vs bitmap-predicted false-positive rate.


def _sql_bloom_fpr() -> str:
    hits = " AND ".join(
        f"(COALESCE(b{t}.word, 0) & (CAST(1 AS BIGINT) <<"
        f" CAST(p.p{t} % {_BLOOM_WORD} AS INT))) <> 0"
        for t in range(3)
    )
    joins = "\n".join(
        f"            LEFT JOIN bitmap b{t} ON p.p{t} // {_BLOOM_WORD} = b{t}.word_idx"
        for t in range(3)
    )
    pos_cols = ",\n".join(
        f"                   {_sql_pos(s, 'c_custkey')} AS p{t}"
        for t, s in enumerate(_BLOOM_SEEDS)
    )
    fill = f"(CAST(bits_set AS DOUBLE) / {_BLOOM_BITS})"
    return f"""
        WITH keys AS (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        ),
        seeds AS (SELECT * FROM (VALUES ('0'), ('1'), ('2')) s(seed)),
        bits AS (
            SELECT CAST(('0x' || substring(md5(seed || ':' ||
                       CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
                   % {_BLOOM_BITS} AS pos
            FROM keys, seeds
        ),
        bitmap AS (
            SELECT pos // {_BLOOM_WORD} AS word_idx,
                   bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_WORD} AS INT))
                       AS word
            FROM bits GROUP BY pos // {_BLOOM_WORD}
        ),
        stats AS (
            SELECT CAST(SUM(bit_count(word)) AS BIGINT) AS bits_set FROM bitmap
        ),
        bsize AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_build FROM keys),
        p AS (
            SELECT c_custkey,
{pos_cols}
            FROM customer WHERE c_mktsegment <> 'BUILDING'
        ),
        tested AS (
            SELECT ({hits}) AS bloom_pass
            FROM p
{joins}
        )
        SELECT n_build, bits_set,
               round({fill}, 6) AS fill_ratio,
               CAST(COUNT(*) AS BIGINT) AS n_probes,
               CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_false_pos,
               round(CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS fpr_realized,
               round({fill} * {fill} * {fill}, 6) AS fpr_predicted
        FROM tested CROSS JOIN stats CROSS JOIN bsize
        GROUP BY n_build, bits_set
    """


@query(
    "sketch_bloom_fpr_calibration",
    survey_ref="A3,L8,F7,F3",
    doc="Bloom false-positive calibration: probe a disjoint non-member "
    "universe, compare realized FPR to the bitmap's own (fill)^k "
    "prediction — the rollout-acceptance number for bloom pre-filters.",
    oracle=_sql_bloom_fpr(),
)
def sketch_bloom_fpr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch honesty for the bloom family (the same role
    dedup_minhash_estimate_error plays for MinHash): build the
    registered 4096-bit/3-hash filter over BUILDING customers, probe
    every NON-member customer (ids disjoint by construction — every
    pass is a false positive), and report realized FPR beside the
    bitmap's own prediction fill³, where fill = bits_set/m is measured
    from the realized bitmap (bit_count over the ≤128 words). For
    independent uniform hashes P(false positive) = fill^k exactly, so
    realized ≈ predicted is the acceptance check a 100 TB bloom
    pre-filter rollout needs before trusting the filter to gate a
    shuffle. Probe side is the same map-side 3-broadcast-word lookup as
    sketch_bloom_semijoin — no row expansion, no fact shuffle; the
    doubles are exact-integer ratios composed identically in both
    engines (fill³ spelled as x·x·x, no pow)."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    keys = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bits = keys.select(
        F.explode(F.array(*[F.lit(s) for s in _BLOOM_SEEDS])).alias("seed"),
        "c_custkey",
    ).select(
        F.expr(
            f"CAST(conv(substring(md5(concat(seed, ':', CAST(c_custkey AS STRING))),"
            f" 1, 15), 16, 10) AS BIGINT) % {_BLOOM_BITS}"
        ).alias("pos")
    )
    bitmap = (
        bits.select(
            F.expr(f"pos div {_BLOOM_WORD}").alias("word_idx"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD} AS INT))"
            ).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )
    stats = bitmap.agg(
        F.sum(F.bit_count("word")).cast("bigint").alias("bits_set")
    )
    bsize = keys.agg(F.count(F.lit(1)).cast("bigint").alias("n_build"))
    probed = cust.filter(F.col("c_mktsegment") != "BUILDING").select("c_custkey")
    hit_cols = []
    for t, s in enumerate(_BLOOM_SEEDS):
        probed = probed.withColumn(f"p{t}", F.expr(_spark_pos(s, "c_custkey")))
        bm = bitmap.select(
            F.col("word_idx").alias(f"bw{t}"), F.col("word").alias(f"wv{t}")
        )
        probed = probed.join(
            F.broadcast(bm),
            F.expr(f"p{t} div {_BLOOM_WORD}") == F.col(f"bw{t}"),
            "left",
        )
        hit_cols.append(
            F.expr(
                f"(COALESCE(wv{t}, CAST(0 AS BIGINT)) &"
                f" shiftleft(CAST(1 AS BIGINT), CAST(p{t} % {_BLOOM_WORD} AS INT))) <> 0"
            )
        )
    tested = probed.select(
        (hit_cols[0] & hit_cols[1] & hit_cols[2]).alias("bloom_pass")
    )
    fill = F.col("bits_set").cast("double") / _BLOOM_BITS
    return (
        tested.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(bsize))
        .groupBy("n_build", "bits_set")
        .agg(
            F.round(fill, 6).alias("fill_ratio"),
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            F.count_if(F.col("bloom_pass")).cast("bigint").alias("n_false_pos"),
            F.round(
                F.count_if(F.col("bloom_pass")).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("fpr_realized"),
            F.round(fill * fill * fill, 6).alias("fpr_predicted"),
        )
        .select(
            "n_build",
            "bits_set",
            "fill_ratio",
            "n_probes",
            "n_false_pos",
            "fpr_realized",
            "fpr_predicted",
        )
    )
