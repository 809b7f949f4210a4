"""Physical-plan assertions (SURVEY.md §4): the 100 TB-relevant plan shape
is part of correctness here — a plan that reads all columns or shuffles a
dim table would still pass the value gate but fail at scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_for_ebook_classification_spark.plans.explain import (
    audit,
    executed_plan_string,
)
from pyspark_for_ebook_classification_spark.plans.registry import all_queries
from pyspark_for_ebook_classification_spark.sources.io import load


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") == 42).select(
        "l_orderkey", "l_quantity"
    )
    rep = audit(li)
    assert rep["pushed_filters"], rep["plan"]
    assert rep["read_schema_columns"] == 2, rep["plan"]


def test_flagship_prunes_columns(spark, sf_dir):
    q = all_queries()["agg_pricing_summary"]
    rep = audit(q.fn(spark, sf_dir))
    # 7 referenced columns of 11 in lineitem
    assert rep["read_schema_columns"] == 7, rep["plan"]
    assert rep["pushed_filters"], rep["plan"]
    assert rep["partial_agg"], "no map-side combine before the shuffle"
    # codegen only materializes in the FINAL adaptive plan, post-execution;
    # '*(n)' prefixes mark whole-stage-codegen'd operators
    import re

    final = executed_plan_string(q.fn(spark, sf_dir))
    assert re.search(r"\*\(\d+\)", final), final


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    q = all_queries()["join_broadcast_star_revenue"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["broadcast_joins"] == 3, rep["plan"]
    assert rep["sortmerge_joins"] == 0, rep["plan"]
    assert rep["cartesian"] == 0


def test_topk_uses_take_ordered(spark, sf_dir):
    q = all_queries()["topk_global_lineitems"]
    plan = audit(q.fn(spark, sf_dir))["plan"]
    assert "TakeOrderedAndProject" in plan, plan


def test_q5_star_plan_broadcasts_every_dim(spark, sf_dir):
    """TPC-H Q5 shape: all five dim joins broadcast; the only Exchange is
    the final group-by — the plan a 1000-executor cluster needs (fact rows
    shuffle once, dims never move)."""
    q = all_queries()["sql_local_supplier_volume_q5"]
    rep = audit(q.fn(spark, sf_dir))
    # bounds, not exact counts (see q9 note below)
    assert rep["broadcast_joins"] >= 4, rep["plan"]
    assert rep["sortmerge_joins"] == 0, rep["plan"]
    assert rep["shuffles"] <= 2, rep["plan"]


def test_stratified_sample_is_scan_only(spark, sf_dir):
    """Hash-stratified sampling must stay a pure map-side filter: zero
    Exchange nodes, filter pushed to the scan, only referenced columns read."""
    q = all_queries()["data_stratified_sample"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["shuffles"] == 0, rep["plan"]
    assert rep["pushed_filters"], rep["plan"]
    assert rep["read_schema_columns"] == 4, rep["plan"]


def test_q19_disjunctive_join_broadcasts_part(spark, sf_dir):
    """Q19 shape: the part side broadcasts and per-side conjuncts are
    extracted below the join (pushed filters on the scans)."""
    q = all_queries()["filter_disjunctive_bands_q19"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["broadcast_joins"] == 1, rep["plan"]
    assert rep["pushed_filters"], rep["plan"]
    assert rep["cartesian"] == 0


def test_no_query_plans_cartesian_product(spark, sf_dir):
    """Cross joins must always have a broadcast side (BNLJ), never a
    CartesianProduct over two big inputs."""
    for name, q in all_queries().items():
        rep = audit(q.fn(spark, sf_dir))
        assert rep["cartesian"] == 0, f"{name} plans CartesianProduct:\n{rep['plan']}"


def test_builtin_queries_stay_jvm_side(spark, sf_dir):
    """Only the explicitly-Python surface (UDF module, multimodal codecs,
    the Python Data Source connector, ML pipelines) may cross into Python
    workers; every other operator must stay in JVM whole-stage codegen
    territory."""
    for name, q in all_queries().items():
        if name.startswith(
            ("ml_", "multimodal_", "udf_", "udtf_", "scan_python_datasource")
        ):
            continue
        rep = audit(q.fn(spark, sf_dir))
        assert rep["python_workers"] == 0, f"{name} runs Python in the hot path"


def test_inner_revenue_join_broadcasts_customer(spark, sf_dir):
    """Fact⋈fact⋈dim chain: the customer dim must reach the fact stream
    via broadcast (hash join), never a sort-merge — the lineitem⋈orders
    orderkey exchange is the only permissible fact shuffle plus the final
    group-by. (r2 bench flagged a +27% regression here; the plan was and
    is broadcast — pin it so a real planner regression is caught.)"""
    q = all_queries()["join_inner_revenue_by_customer"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["broadcast_joins"] >= 1, rep["plan"]
    assert rep["sortmerge_joins"] == 0, rep["plan"]
    assert rep["shuffles"] <= 2, rep["plan"]


def test_simhash_vocab_join_not_mandatory_broadcast(spark, sf_dir):
    """The simhash vocabulary is corpus-dependent and unbounded, so the
    occurrence⋈vocab join must NOT carry a mandatory broadcast hint: with
    the auto-broadcast threshold disabled (simulating a vocab too big to
    fit), the plan must fall back to a shuffle join instead of forcing a
    broadcast that would OOM at 100 TB. AQE still promotes it when small."""
    q = all_queries()["dedup_simhash_groups"]
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        rep = audit(q.fn(spark, sf_dir))
        assert rep["broadcast_joins"] == 0, rep["plan"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The eval-suite gram set must broadcast: sort-merging it would
    shuffle the 100 TB train gram stream on a string key for nothing."""
    q = all_queries()["data_decontaminate_ngram"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["broadcast_joins"] >= 1, rep["plan"]
    assert rep["sortmerge_joins"] == 0, rep["plan"]


def test_quantize_broadcasts_dim_stats(spark, sf_dir):
    """Per-dimension codebook (64 rows at any corpus size) broadcasts;
    the exploded vector stream joins it map-side."""
    q = all_queries()["sim_quantize_int8"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["broadcast_joins"] >= 1, rep["plan"]
    assert rep["sortmerge_joins"] == 0, rep["plan"]


def test_chunk_dedup_shuffles_twice_only(spark, sf_dir):
    """Keep-first needs the chunk_text exchange, reassembly the doc_id
    exchange — anything more is waste (n_chunks must ride the explode,
    not a third window shuffle)."""
    q = all_queries()["dedup_chunk_global"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["shuffles"] <= 2, rep["plan"]


def test_keyword_topk_broadcasts_df_and_count(spark, sf_dir):
    """df(token) is vocabulary-sized — deliberately NO mandatory broadcast
    hint (unbounded at web scale), but AQE must still promote it to a
    broadcast at runtime when it measures small, and the one-row n_docs
    total rides a broadcast nested-loop; no cartesian anywhere."""
    q = all_queries()["text_keyword_topk"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["cartesian"] == 0, rep["plan"]
    assert rep["bnl_joins"] >= 1, rep["plan"]  # the 1-row count broadcast
    final = executed_plan_string(q.fn(spark, sf_dir))
    assert "BroadcastHashJoin" in final, final  # AQE-promoted vocab join


def test_partitioned_write_prunes_partitions(spark, sf_dir):
    """lang=en filter over a partitionBy('lang') layout must land in
    PartitionFilters (directory pruning), not post-scan filtering."""
    from pyspark_for_ebook_classification_spark.plans.explain import formatted_plan

    q = all_queries()["scan_partitioned_pruned_roundtrip"]
    plan = formatted_plan(q.fn(spark, sf_dir))
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1), plan


def test_q9_profit_star_broadcasts_all_dims(spark, sf_dir):
    """Q9 shape: part/supplier/nation broadcast and orders' join is AQE-
    broadcastable at test scale — lineitem shuffles exactly once (the
    final nation×year group-by). No sort-merge anywhere."""
    q = all_queries()["sql_product_profit_q9"]
    rep = audit(q.fn(spark, sf_dir))
    # bounds, not exact counts: AQE heuristics / Spark versions may merge
    # or add an exchange without the plan actually regressing — what must
    # hold is "dims broadcast, fact never sort-merges, ≤2 shuffles"
    assert rep["broadcast_joins"] >= 3, rep["plan"]
    assert rep["sortmerge_joins"] == 0, rep["plan"]
    assert rep["shuffles"] <= 2, rep["plan"]
    assert rep["cartesian"] == 0


def test_q21_semi_anti_share_orderkey_shuffle(spark, sf_dir):
    """Q21 shape: the EXISTS/NOT EXISTS self-correlations must plan as
    hash semi/anti joins on l_orderkey — never a per-row subquery or a
    cartesian — and the dims stay broadcast."""
    q = all_queries()["sql_waiting_suppliers_q21"]
    rep = audit(q.fn(spark, sf_dir))
    plan = rep["plan"]
    assert rep["cartesian"] == 0, plan
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert rep["broadcast_joins"] >= 3, plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir):
    """100 TB layout guarantee: a fact table partitioned on the join key
    must get DYNAMIC partition pruning when joined to a filtered dim —
    the scan's PartitionFilters carry a dynamicpruning subquery, so only
    the dim-selected directories are ever listed."""
    import re

    from pyspark.sql import functions as F

    from pyspark_for_ebook_classification_spark.sources.io import scratch_dir

    path = scratch_dir("dpp_lineitem")
    li = load(spark, sf_dir, "lineitem")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("R", "returned"), ("A", "accepted"), ("N", "none")], "flag string, label string"
    ).filter(F.col("label") == "returned")
    joined = fact.join(dim.hint("broadcast"), fact.l_returnflag == dim.flag).groupBy(
        "label"
    ).agg(F.sum("l_quantity").alias("qty"))
    plan = joined._jdf.queryExecution().toString()
    assert re.search(r"PartitionFilters: \[.*dynamicpruning", plan), plan[-3000:]


def test_topn_window_gets_group_limit_pushdown(spark, sf_dir):
    """rank() <= N must plan as WindowGroupLimit on BOTH sides of the
    exchange (partial before the shuffle, final after): each map task
    keeps only its local top-N, so the shuffle moves O(N·groups) rows,
    not the whole fact — the difference between a working and an OOM
    top-N at 100 TB."""
    q = all_queries()["window_topn_revenue_per_segment"]
    plan = audit(q.fn(spark, sf_dir))["plan"]
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_reservoir_sample_pushes_group_limit(spark, sf_dir):
    """data_reservoir_per_source's rank<=10 must plan as WindowGroupLimit
    (partial + final): map tasks keep 10 rows per source BEFORE the
    shuffle, so the exchange never carries the corpus."""
    q = all_queries()["data_reservoir_per_source"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["plan"].count("WindowGroupLimit") >= 2, rep["plan"]


def test_pq_codebook_broadcasts_dim_stats(spark, sf_dir):
    """sim_product_quantization's per-dimension stats table (64 rows at
    any corpus size) must reach the encode via broadcast, and the encode
    itself must stay partial-aggregated."""
    q = all_queries()["sim_product_quantization"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["broadcast_joins"] >= 1, rep["plan"]
    assert rep["sortmerge_joins"] == 0, rep["plan"]
    assert rep["partial_agg"], rep["plan"]


def test_containment_joins_stay_hash_based(spark, sf_dir):
    """The shared-shingle pair join and the df-gate join must be hash
    joins (shuffle or broadcast) — a nested-loop fallback would mean the
    sparse-join premise is broken."""
    q = all_queries()["text_minhash_containment"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0, rep["plan"]
    assert rep["partial_agg"], rep["plan"]


def test_sessionize_uses_single_user_exchange(spark, sf_dir):
    """Both windows and the per-session aggregate share ONE shuffle on
    user_id (plus at most the AQE final coalesce) — the lag, the running
    sum and the groupBy all reuse the same (user_id, ts) sort order."""
    q = all_queries()["window_sessionize_gap"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["shuffles"] <= 2, rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]


def test_contrastive_pairs_broadcast_count_no_python(spark, sf_dir):
    """The corpus-size row and candidate fan-out must be map-side
    (broadcast), with the only data-sized joins being rank lookup and
    payload attach — and nothing drops to Python."""
    q = all_queries()["data_contrastive_pairs"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["cartesian"] == 0, rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]


def test_dataset_card_single_scan(spark, sf_dir):
    """GROUPING SETS must expand to one aggregation over ONE scan of
    documents — four separate GROUP BYs would read the corpus 4x."""
    q = all_queries()["data_dataset_card_stats"]
    rep = audit(q.fn(spark, sf_dir))
    # formatted plans list each node twice (tree line + detail header)
    assert rep["plan"].count("Scan parquet") == 2, rep["plan"]
    assert "Expand" in rep["plan"], rep["plan"]  # grouping-sets expansion
    assert rep["partial_agg"], rep["plan"]


def test_quality_model_is_pure_projection(spark, sf_dir):
    """The learned gate must compile to scan+project only: no shuffle,
    no join, no Python — model inference as codegen arithmetic."""
    q = all_queries()["data_quality_model_score"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["shuffles"] == 0, rep["plan"]
    assert rep["broadcast_joins"] == 0 and rep["sortmerge_joins"] == 0, rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]


def test_global_rank_single_materialization(spark, sf_dir):
    """with_global_rank pins its nondeterministic repartitionByRange +
    spark_partition_id() subplan with localCheckpoint(eager=True): the
    counts pipeline and the final join must BOTH read the checkpointed
    RDD, never re-evaluate the range exchange. If the exchange appeared
    in the downstream plan, a second (differently-sampled) partitioning
    could silently corrupt every rank consumer (RFM, Pareto deciles,
    curriculum order, deterministic shuffle, histogram quantiles)."""
    from pyspark_for_ebook_classification_spark.functions.ranks import (
        with_global_rank,
    )

    df = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = with_global_rank(df, [F.col("o_totalprice"), F.col("o_orderkey")])
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    # the range exchange ran once at build time; downstream both branches
    # scan the checkpointed RDD — no range partitioning left in the plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count("Scan ExistingRDD") >= 2, plan
    # and the ranks themselves are an exact 1..N permutation
    n = df.count()
    got = ranked.agg(
        F.count("global_pos").alias("c"),
        F.countDistinct("global_pos").alias("d"),
        F.min("global_pos").alias("lo"),
        F.max("global_pos").alias("hi"),
    ).collect()[0]
    assert (got.c, got.d, got.lo, got.hi) == (n, n, 1, n)


def test_ngram_pairs_single_corpus_shuffle(spark, sf_dir):
    """The r5 bucket-expansion rebuild's contract: candidate generation
    shuffles the corpus-sized exploded shingle table exactly ONCE (the
    co-occurrence groupBy). Everything after operates on pair-sized data
    — the pair-count groupBy and the two size joins are bounded by the
    candidate set, and AQE may broadcast the pair side. No cartesian, no
    Python, map-side combine on every aggregate."""
    q = all_queries()["dedup_ngram_jaccard"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0, rep["plan"]
    assert rep["partial_agg"], rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]
    # one corpus shuffle (shingle groupBy) + one pair-count shuffle +
    # at most two pair-sized join exchanges and AQE coalesces
    assert rep["shuffles"] <= 6, rep["plan"]


def test_containment_triangular_no_selfjoin(spark, sf_dir):
    """text_minhash_containment's rebuilt plan must contain no join at
    all on the corpus side — pairs come from in-bucket expansion, and
    the only joins left are the pair-vs-sizes attach (hash, never
    nested-loop). The union of the two directions happens ABOVE the
    aggregation, so exactly one pair-count shuffle exists."""
    q = all_queries()["text_minhash_containment"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0, rep["plan"]
    assert rep["partial_agg"], rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]


def test_semantic_dedup_cell_keyed_join(spark, sf_dir):
    """dedup_semantic_embedding: the pairwise stage is a hash join keyed
    on the cell id (never a cartesian/nested-loop over the corpus), the
    lower-max aggregate combines map-side, and nothing drops to Python —
    the cosine is codegen'd F.aggregate arithmetic. The only permitted
    nested-loop joins are the 1-row (n, n_labels) stats broadcasts that
    feed the corpus-adaptive refinement depth (one per `celled` use
    site) — never a corpus×corpus loop."""
    q = all_queries()["dedup_semantic_embedding"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["cartesian"] == 0, rep["plan"]
    assert rep["bnl_joins"] <= 3, rep["plan"]
    assert rep["partial_agg"], rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]


def test_semantic_dedup_cell_population_bounded(spark, sf_dir):
    """The r5-verdict scale fix, pinned: cell count must scale with the
    corpus (refinement active — strictly more cells than labels) and the
    EXPECTED population invariant n <= n_labels · 2^bits · TARGET must
    hold for the realized refinement depth, so per-cell pairwise cost
    stays O(TARGET²·d) at any corpus size. Realized max population gets
    2× slack for SRP split imbalance (measured 1.25–2.0× across
    sf0.001–sf0.1)."""
    from pyspark_for_ebook_classification_spark.operators.similarity import (
        _SEMDEDUP_TARGET_CELL,
    )

    q = all_queries()["dedup_semantic_embedding"]
    cells = q.fn(spark, sf_dir).groupBy("cell").count().collect()
    n = sum(r["count"] for r in cells)
    labels = {r["cell"].split("|")[0] for r in cells}
    bits = {len(r["cell"].split("|")[1]) for r in cells}
    assert len(bits) == 1, f"inconsistent refinement depth: {bits}"
    b = bits.pop()
    assert b >= 1 and len(cells) > len(labels), "refinement inactive"
    assert n <= len(labels) * (1 << b) * _SEMDEDUP_TARGET_CELL
    assert max(r["count"] for r in cells) <= 2 * _SEMDEDUP_TARGET_CELL


def test_hard_negative_mining_single_pass_no_checkpoint(spark, sf_dir):
    """sim_hard_negative_mining: the r5 ADVICE fix pinned — the corpus
    is scored once into ONE salted exchange (plus the trivially small
    stage-2 exchange), the only nested-loop is the broadcast of the
    |Q|-row anchor set, and nothing is checkpointed (a localCheckpoint
    would surface as an ExistingRDD scan and a corpus-proportional
    executor-disk materialization)."""
    q = all_queries()["sim_hard_negative_mining"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["cartesian"] == 0, rep["plan"]
    assert rep["bnl_joins"] == 1, rep["plan"]
    assert rep["shuffles"] <= 2, rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]
    assert "ExistingRDD" not in rep["plan"], rep["plan"]


def test_substring_spans_combines_anchor_counts(spark, sf_dir):
    """dedup_substring_spans: the anchor-frequency stage must be a
    groupBy with map-side partial aggregation (hot boilerplate k-grams
    combine before the wire — the reason it isn't a count-over-window),
    the duplicate-anchor join stays hash-based, nothing is cartesian or
    Python, and the whole pipeline needs at most: one anchor shuffle,
    one join-back exchange, one doc-keyed window exchange (both island
    groupBys reuse the window's doc_id partitioning)."""
    q = all_queries()["dedup_substring_spans"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0, rep["plan"]
    assert rep["partial_agg"], rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]
    assert rep["shuffles"] <= 5, rep["plan"]


def test_phash_neardup_bucketed_no_cartesian(spark, sf_dir):
    """multimodal_phash_neardup: candidate pairs come from in-bucket
    triangular expansion over the banded signatures — never a media×media
    join. The bucket groupBy partial-aggregates, and the signature table
    is checkpointed so the Arrow kernel runs once, not once per verify
    join (the audited plan reads the materialized signatures)."""
    q = all_queries()["multimodal_phash_neardup"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0, rep["plan"]
    assert rep["partial_agg"], rep["plan"]
    assert rep["shuffles"] <= 6, rep["plan"]


def test_skew_audit_partial_aggregates_every_key(spark, sf_dir):
    """data_skew_audit: each audited key's count runs as ONE
    partial-aggregated groupBy on that key (the audit must be strictly
    cheaper than the production job it de-risks); the scalar rollups and
    the 6-row union add no corpus-sized work, no cartesian, no Python."""
    q = all_queries()["data_skew_audit"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0, rep["plan"]
    assert rep["partial_agg"], rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]


def test_ivfpq_no_corpus_shuffle_before_candidates(spark, sf_dir):
    """sim_ivfpq_adc_topk: the probe list and the per-query ADC lookup
    table broadcast (both constant in corpus size); the corpus reaches
    the candidate set through broadcast hash joins — no corpus-keyed
    exchange exists below the candidate-sized aggregate + top-k window.
    The codebook stats groupBy partial-aggregates."""
    q = all_queries()["sim_ivfpq_adc_topk"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["cartesian"] == 0, rep["plan"]
    assert rep["partial_agg"], rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]
    assert rep["broadcast_joins"] >= 3, rep["plan"]


def test_prefix_rerank_pool_carries_no_vectors(spark, sf_dir):
    """sim_prefix_rerank_topk: queries broadcast into the corpus stream
    (no corpus-keyed exchange before the pool window), and the pool
    window's input rows are ids + score only — the 64-float embedding
    payload must NOT ride the corpus-sized exchange (it re-joins
    candidate-sized in stage 2). No cartesian over two big sides, no
    Python."""
    q = all_queries()["sim_prefix_rerank_topk"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["cartesian"] == 0, rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]
    assert rep["broadcast_joins"] >= 2, rep["plan"]
    # the query_id-keyed window exchanges must not shuffle vector
    # payloads: formatted-mode Exchange sections list their Input
    # columns, so parse the detail blocks (the one-line tree entry
    # doesn't carry columns — an earlier regex on it was vacuous)
    blocks = [
        b
        for b in rep["plan"].split("\n\n")
        if b.splitlines()
        and ") Exchange" in b.splitlines()[0]
        and "hashpartitioning(query_id" in b
    ]
    assert blocks, rep["plan"]  # the check must actually see an exchange
    for b in blocks:
        assert "embedding" not in b and "qe#" not in b, b


def test_substring_removal_linear_stages(spark, sf_dir):
    """dedup_substring_removal: anchor groupBy partial-aggregates (count
    + packed-min combine map-side), the covered-position explode joins
    the token stream by (doc, pos) hash keys — nothing corpus-squared,
    no cartesian, no Python, and the rebuild groupBy combines map-side."""
    q = all_queries()["dedup_substring_removal"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0, rep["plan"]
    assert rep["partial_agg"], rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]


def test_source_overlap_bounded_expansion(spark, sf_dir):
    """text_source_overlap_grams: pair expansion happens strictly inside
    the per-gram DISTINCT-source set (bounded by OVERLAP_SRC_MAX, never
    a source×source or corpus-sized join), every aggregate combines
    map-side, nothing is cartesian or Python."""
    q = all_queries()["text_source_overlap_grams"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0, rep["plan"]
    assert rep["partial_agg"], rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]


def test_dsir_resample_plan_shape(spark, sf_dir):
    """data_importance_resample: the bucket-score table is bounded by a
    constant (_DSIR_BUCKETS) so both its builds stay broadcast; global
    selection is top-k (TakeOrderedAndProject), never a global sort; and
    nothing plans a cartesian product."""
    q = all_queries()["data_importance_resample"]
    rep = audit(q.fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in rep["plan"], rep["plan"]
    assert rep["cartesian"] == 0, rep["plan"]
    assert rep["sortmerge_joins"] == 0, rep["plan"]
    assert rep["broadcast_joins"] >= 2, rep["plan"]


def test_privacy_audit_plan_shape(spark, sf_dir):
    """data_privacy_kl_audit: the nation dim broadcasts (never shuffles)
    and the QI aggregate partial-combines map-side before its one
    shuffle."""
    q = all_queries()["data_privacy_kl_audit"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["broadcast_joins"] >= 1, rep["plan"]
    assert rep["sortmerge_joins"] == 0, rep["plan"]
    assert rep["partial_agg"], rep["plan"]
    assert rep["cartesian"] == 0


def test_novelty_curve_plan_shape(spark, sf_dir):
    """text_novelty_curve: one gram-keyed partial aggregate is the only
    corpus-scale shuffle; the ≤10-row bucket tables broadcast into the
    closing joins; nothing is cartesian or Python-side. (The scalar
    denom cross-joins are broadcast-nested-loop by construction — a
    1-row build side — so bnl_joins is not asserted zero here.)"""
    q = all_queries()["text_novelty_curve"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["cartesian"] == 0, rep["plan"]
    assert rep["sortmerge_joins"] == 0, rep["plan"]
    assert rep["partial_agg"], rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]


def test_dp_noisy_counts_plan_shape(spark, sf_dir):
    """data_dp_noisy_counts: one partial-agg groupBy over the scan; the
    noise is pure projection arithmetic — no joins, no Python, nothing
    cartesian."""
    q = all_queries()["data_dp_noisy_counts"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["partial_agg"], rep["plan"]
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0, rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]


def test_embedding_hygiene_plan_shape(spark, sf_dir):
    """sim_embedding_hygiene_gate: per-row array folds map-side, one
    label-keyed partial aggregate, per-label stats broadcast back."""
    q = all_queries()["sim_embedding_hygiene_gate"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["broadcast_joins"] >= 1, rep["plan"]
    assert rep["sortmerge_joins"] == 0, rep["plan"]
    assert rep["partial_agg"], rep["plan"]
    assert rep["cartesian"] == 0
    assert rep["python_workers"] == 0, rep["plan"]


def test_chunker_is_map_side_only(spark, sf_dir):
    """text_chunk_sliding: chunking is a pure map-side Generate over the
    checkpointed arrays — zero exchanges, zero joins, zero Python."""
    q = all_queries()["text_chunk_sliding"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["shuffles"] == 0, rep["plan"]
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0
    assert rep["python_workers"] == 0, rep["plan"]


def test_epoch_allocation_is_config_sized(spark, sf_dir):
    """data_epoch_allocation: one partial-agg groupBy; window totals and
    epoch arithmetic run over the ≤ n_sources aggregate — no joins, no
    Python, nothing cartesian."""
    q = all_queries()["data_epoch_allocation"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["partial_agg"], rep["plan"]
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0
    assert rep["python_workers"] == 0, rep["plan"]


def test_fertility_is_one_aggregate(spark, sf_dir):
    """text_tokenizer_fertility: map-side per-doc counters, one lang-keyed
    partial aggregate, no joins, no Python."""
    q = all_queries()["text_tokenizer_fertility"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["partial_agg"], rep["plan"]
    assert rep["shuffles"] <= 1, rep["plan"]
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0
    assert rep["python_workers"] == 0, rep["plan"]


def test_rolling_corr_single_window_pass(spark, sf_dir):
    """window_rolling_corr: all six moment sums share ONE window frame —
    one exchange+sort, no joins, no Python."""
    q = all_queries()["window_rolling_corr"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["shuffles"] <= 1, rep["plan"]
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0
    assert rep["python_workers"] == 0, rep["plan"]
    # a single Window node computes all six aggregates
    assert rep["plan"].count("Window") <= 2, rep["plan"]


def test_shard_plan_uses_checkpointed_cumsum(spark, sf_dir):
    """data_shard_token_balanced: the global prefix sum is the two-pass
    range-partition dance with ONE pinned materialization — no residual
    range exchange in the executed plan (same invariant as
    with_global_rank), no unpartitioned data-sized window, no Python."""
    q = all_queries()["data_shard_token_balanced"]
    df = q.fn(spark, sf_dir)
    rep = audit(df)
    assert "rangepartitioning" not in rep["plan"].lower(), rep["plan"]
    assert rep["cartesian"] == 0
    assert rep["python_workers"] == 0, rep["plan"]
    final = executed_plan_string(q.fn(spark, sf_dir))
    assert final.count("Scan ExistingRDD") >= 2, final


def test_peak_concurrency_one_day_exchange(spark, sf_dir):
    """window_peak_concurrency: the boundary union, the sweep window and
    the per-day max all share the day partitioning — at most two
    exchanges, one Window node, no joins at all."""
    q = all_queries()["window_peak_concurrency"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["shuffles"] <= 2, rep["plan"]
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0
    assert rep["broadcast_joins"] == 0 and rep["sortmerge_joins"] == 0
    assert rep["python_workers"] == 0, rep["plan"]


def test_basket_affinity_broadcasts_marginals(spark, sf_dir):
    """agg_basket_affinity: both marginal tables and the 1-row total join
    in via broadcast (the pair table never re-shuffles for them); the
    basket self-join is the only data-sized join and it is keyed on the
    order key — never a cartesian."""
    q = all_queries()["agg_basket_affinity"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["broadcast_joins"] >= 3, rep["plan"]
    assert rep["cartesian"] == 0, rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]


def test_event_transitions_partitioned_windows(spark, sf_dir):
    """window_event_transitions: the lead() window is user-partitioned and
    the normalizing window runs over the domain²-bounded pair table —
    nothing unpartitioned+data-sized; the bigram aggregate combines
    map-side."""
    q = all_queries()["window_event_transitions"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["shuffles"] <= 3, rep["plan"]
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0
    assert rep["partial_agg"], rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]


def test_burstiness_two_token_shuffles(spark, sf_dir):
    """text_term_burstiness: explode → (term,doc) partial-count → term
    moment agg; both aggregates partial-combine and only token-keyed
    exchanges appear."""
    q = all_queries()["text_term_burstiness"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["shuffles"] <= 2, rep["plan"]
    assert rep["partial_agg"], rep["plan"]
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0
    assert rep["python_workers"] == 0, rep["plan"]


def test_gini_uses_scalable_rank(spark, sf_dir):
    """agg_gini_revenue: the ascending rank is the checkpointed two-pass
    with_global_rank — no residual range exchange, no unpartitioned
    data-sized window, no Python; the final reduce is one aggregate."""
    q = all_queries()["agg_gini_revenue"]
    rep = audit(q.fn(spark, sf_dir))
    assert "rangepartitioning" not in rep["plan"].lower(), rep["plan"]
    assert rep["cartesian"] == 0
    assert rep["python_workers"] == 0, rep["plan"]


def test_centroid_drift_domain_bounded_join(spark, sf_dir):
    """sim_centroid_shift_drift: the only data-sized stage is the
    posexplode partial agg; the half-pair join and final agg run over
    labels×dims tables. Partial aggregation must be on, and nothing
    cartesian/Python appears."""
    q = all_queries()["sim_centroid_shift_drift"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["partial_agg"], rep["plan"]
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0
    assert rep["python_workers"] == 0, rep["plan"]


def test_link_prediction_bounded_wedges(spark, sf_dir):
    """graph_jaccard_link_prediction: candidates come from the shared
    checkpointed strong-tie backbone (one Scan ExistingRDD feeding the
    wedge join, the anti-join, and both degree joins) — no cartesian,
    no Python, partial aggregation on the wedge GROUP BY."""
    q = all_queries()["graph_jaccard_link_prediction"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0
    assert rep["partial_agg"], rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]
    final = executed_plan_string(q.fn(spark, sf_dir))
    assert "Scan ExistingRDD" in final, final


def test_cusum_series_partitioned_windows(spark, sf_dir):
    """window_cusum_alarm: daily pre-agg collapses facts before any
    window; both running windows and the final agg share the supplier
    partitioning — bounded shuffles, no joins wider than the broadcastable
    totals join, no Python."""
    q = all_queries()["window_cusum_alarm"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["shuffles"] <= 3, rep["plan"]
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0
    assert rep["partial_agg"], rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]


def test_packing_report_explodes_histogram_not_corpus(spark, sf_dir):
    """data_packing_efficiency_report: the Generate must sit ABOVE the
    token-length histogram aggregate (docs collapse first; only the
    domain-bounded histogram fans out ×|grid|) — structurally immune to
    the projection-beside-explode recompute hazard."""
    q = all_queries()["data_packing_efficiency_report"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["python_workers"] == 0, rep["plan"]
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0
    import re

    # in the top-down tree, the Generate's immediate child must be the
    # histogram HashAggregate (docs collapsed BEFORE the ctx fan-out)
    assert re.search(
        r"Generate(?: explode)?[^\n]*\n\s*\+- (\*\(\d+\) )?HashAggregate",
        rep["plan"],
    ), rep["plan"]


def test_q10_top20_take_ordered(spark, sf_dir):
    """sql_returned_items_q10: the global top-20 plans as
    TakeOrderedAndProject, never a full global sort."""
    q = all_queries()["sql_returned_items_q10"]
    plan = audit(q.fn(spark, sf_dir))["plan"]
    assert "TakeOrderedAndProject" in plan, plan


def test_psi_banding_is_map_side(spark, sf_dir):
    """data_psi_drift: band assignment must be a map-side expression
    against a broadcast 1-row edge array — no per-doc shuffle; the rank
    pipeline is the checkpointed two-pass (no residual range exchange)."""
    q = all_queries()["data_psi_drift"]
    rep = audit(q.fn(spark, sf_dir))
    assert "rangepartitioning" not in rep["plan"].lower(), rep["plan"]
    assert rep["partial_agg"], rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]
    assert rep["cartesian"] == 0, rep["plan"]
    # exchanges: the band-domain count agg, the tot agg, and the tiny
    # edge/cut plumbing — never a doc_id-keyed data shuffle
    assert "hashpartitioning(doc_id" not in rep["plan"], rep["plan"]


def test_zorder_single_scan_two_aggs(spark, sf_dir):
    """data_zorder_layout: both layouts' stats come from ONE data scan
    plus the 1-row min/max stats scan (two scan nodes total — the
    explode carries layout membership inside its argument, so there is
    no UNION-ALL subtree duplication), bounded exchanges, no Python."""
    import re

    q = all_queries()["data_zorder_layout"]
    rep = audit(q.fn(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", rep["plan"])) == 2, rep["plan"]
    assert rep["shuffles"] <= 3, rep["plan"]
    assert rep["partial_agg"], rep["plan"]
    assert rep["cartesian"] == 0 and rep["python_workers"] == 0, rep["plan"]


def test_banding_sweep_single_signature_pass(spark, sf_dir):
    """dedup_banding_sweep: all five configs' band rows fan out of ONE
    explode over the checkpointed signature (Scan ExistingRDD) — no
    per-config rescan, partial-combined bucket aggregate, no Python."""
    q = all_queries()["dedup_banding_sweep"]
    rep = audit(q.fn(spark, sf_dir))
    assert "Scan ExistingRDD" in rep["plan"], rep["plan"]
    assert rep["plan"].count("Generate") <= 2, rep["plan"]
    assert rep["partial_agg"], rep["plan"]
    assert rep["cartesian"] == 0 and rep["python_workers"] == 0


def test_funnel_ttc_reuses_user_exchange(spark, sf_dir):
    """window_funnel_time_to_convert: user-keyed aggregates and joins
    only — no cartesian, no Python; final stats group into two rows."""
    q = all_queries()["window_funnel_time_to_convert"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["cartesian"] == 0 and rep["bnl_joins"] == 0
    assert rep["partial_agg"], rep["plan"]
    assert rep["python_workers"] == 0, rep["plan"]


def test_bm25_broadcasts_query_terms(spark, sf_dir):
    """BM25's scale contract: the corpus-sized tf table is PROBED by a
    broadcast of the tiny query-term table (never shuffled to meet it),
    the 8-term and top-5 windows push group limits, and no Python
    worker or cartesian appears."""
    q = all_queries()["text_bm25_topk"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["broadcast_joins"] >= 2, rep["plan"]  # df-gate + qt probe
    assert rep["sortmerge_joins"] == 0, rep["plan"]
    assert rep["cartesian"] == 0
    assert rep["python_workers"] == 0
    plan = rep["plan"]
    assert "WindowGroupLimit" in plan, plan


def test_rrf_fuses_pool_sized_tables(spark, sf_dir):
    """RRF's scale contract: both modality pools are rank-truncated
    (WindowGroupLimit at 50) BEFORE fusion, so the one sort-merge join
    (Spark can't broadcast a FULL OUTER) runs on |Q|x50-row tables; no
    Python workers."""
    q = all_queries()["sim_rrf_hybrid_fusion"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["sortmerge_joins"] == 1, rep["plan"]  # the pool fusion only
    assert rep["python_workers"] == 0
    assert rep["plan"].count("WindowGroupLimit") >= 6, rep["plan"]


def test_incremental_gate_is_streaming_shaped(spark, sf_dir):
    """The streamable gate's whole point: the band join broadcasts the
    index side against the batch (never sort-merge — a stream cannot
    sort), no cartesian, and the single aggregation combines map-side.
    r14: the per-band join union collapsed to ONE exploded
    (band_idx, key) equi-join so the batch-side MinHash projection is
    computed once, not once per band — exactly one broadcast join (was
    >= 2), still zero sort-merge."""
    q = all_queries()["dedup_incremental_gate"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["broadcast_joins"] >= 1, rep["plan"]
    assert rep["sortmerge_joins"] == 0, rep["plan"]
    assert rep["cartesian"] == 0
    assert rep["partial_agg"], rep["plan"]
    # the r14 single-pass shape: the plan carries ONE band equi-join
    # (a literal band-index explode on both sides), not one join per band
    assert rep["plan"].lower().count("explode") >= 2, rep["plan"]


def test_decontaminate_library_broadcasts_eval_grams(spark, sf_dir):
    """The library router must keep the registered query's shape: the
    eval gram set broadcasts; the train gram stream never sorts."""
    q = all_queries()["data_decontaminate_library"]
    rep = audit(q.fn(spark, sf_dir))
    assert rep["broadcast_joins"] >= 1, rep["plan"]
    assert rep["sortmerge_joins"] == 0, rep["plan"]


def test_ann_library_routers_broadcast_query_side(spark, sf_dir):
    """ann_topk at both library bandings keeps the corpus shuffle-free:
    the query side broadcasts into the bucket/cell join and the rerank;
    no sort-merge join anywhere."""
    for name in ("sim_ann_library_lsh", "sim_ann_library_srp"):
        rep = audit(all_queries()[name].fn(spark, sf_dir))
        assert rep["broadcast_joins"] >= 1, (name, rep["plan"])
        assert rep["sortmerge_joins"] == 0, (name, rep["plan"])


#: one registry query per relational family (the olap_mix set): together
#: they generate about 120 classes, more than Spark's default 100-entry
#: codegen cache holds
_CODEGEN_REUSE_SET = (
    "scan_parquet_checksum",
    "join_inner_revenue_by_customer",
    "agg_pricing_summary",
    "window_sessionize_gap",
    "topk_global_lineitems",
    "sketch_kmv_distinct",
    "graph_jaccard_link_prediction",
    "stream_tumbling_hourly_twin",
)


def test_repeated_queries_reuse_generated_code(spark, sf_dir):
    """A second pass over a working set larger than Spark's default
    codegen cache compiles no new class. Guards the session's cache cap
    against a revert or a working set that outgrows it. The stage id is
    left out of class names for the test's duration: AQE numbers stages
    in the order they finish, so with it a second pass may compile one
    more copy of the graph query's classes, cap or no cap."""
    qs = all_queries()
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass() -> int:
        before = compiles.getCount()
        for name in _CODEGEN_REUSE_SET:
            qs[name].fn(spark, sf_dir).collect()
        return compiles.getCount() - before

    key = "spark.sql.codegen.useIdInClassName"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        one_pass()
        second = one_pass()
    finally:
        spark.conf.set(key, saved)
    assert second == 0
