"""Scale-mechanism tests (SURVEY.md §4): salting and bucketing are
physical-layout tools — these tests pin (a) result-identity and (b) the
plan property each exists for.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_for_ebook_classification_spark.functions.skew import salted_join
from pyspark_for_ebook_classification_spark.plans.explain import audit
from pyspark_for_ebook_classification_spark.sources.io import load, write_bucketed
from tests.compare import assert_frames_match


def test_salted_join_equals_plain_join(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    plain = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    salted = (
        salted_join(li, o, li.l_orderkey == o.o_orderkey, n_salts=8)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    assert_frames_match(salted, plain, "salted_vs_plain")


def test_salted_join_left_outer_preserves_unmatched(spark):
    fact = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d")], "k int, v string"
    )
    dim = spark.createDataFrame([(1, "one"), (2, "two")], "k2 int, name string")
    out = salted_join(fact, dim, fact.k == dim.k2, n_salts=4, how="left").toPandas()
    assert len(out) == 4
    assert out[out.v == "d"]["name"].isna().all()


def test_salted_join_rejects_dim_preserving_how(spark):
    """right / full joins would emit each unmatched dim row once per salt
    replica — salted_join must refuse them rather than silently duplicate."""
    fact = spark.createDataFrame([(1, "a")], "k int, v string")
    dim = spark.createDataFrame([(1, "one"), (9, "nine")], "k2 int, name string")
    for how in ("right", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="salted_join does not support"):
            salted_join(fact, dim, fact.k == dim.k2, n_salts=4, how=how)


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """The point of bucketing: co-located join with ZERO Exchange nodes."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_bucketed", "l_orderkey", 8, path=str(tmp_path / "li"))
    write_bucketed(o, "o_bucketed", "o_orderkey", 8, path=str(tmp_path / "o"))
    try:
        a = spark.table("li_bucketed")
        b = spark.table("o_bucketed")
        joined = a.join(b, a.l_orderkey == b.o_orderkey)
        rep = audit(joined)
        assert rep["shuffles"] == 0, rep["plan"]
        # and it still computes the right thing
        assert joined.count() == li.join(o, li.l_orderkey == o.o_orderkey).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS o_bucketed")


def test_hll_sketch_estimate_accuracy(spark, sf_dir):
    """Merged HLL estimates stay within 5% of exact distinct counts (at
    test scale they are typically exact — sparse-mode sketches)."""
    from pyspark_for_ebook_classification_spark.plans.registry import all_queries

    pdf = all_queries()["agg_hll_mergeable_sketch"].fn(spark, sf_dir).toPandas()
    assert (pdf["c_mktsegment"] == "__ALL__").sum() == 1
    rel_err = (pdf["est_distinct"] - pdf["exact_distinct"]).abs() / pdf["exact_distinct"]
    assert (rel_err < 0.05).all(), pdf


def test_observe_metrics_ride_the_query(spark, sf_dir):
    """Production instrumentation at scale: df.observe() collects named
    accumulator metrics DURING the normal pass (no second scan — at
    100 TB a separate count() for monitoring doubles the I/O bill).
    The observed row count/sum must equal a direct aggregate."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pyspark_for_ebook_classification_spark.sources.io import load

    obs = Observation("ingest_health")
    li = load(spark, sf_dir, "lineitem").observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col("l_quantity").cast("decimal(28,6)")).cast("double").alias("qty_seen"),
    )
    out = li.groupBy("l_returnflag").count()
    out.collect()  # materializes the pass; metrics become available
    direct = load(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(28,6)")).cast("double").alias("q"),
    ).first()
    got = obs.get
    assert got["rows_seen"] == direct["n"]
    assert got["qty_seen"] == direct["q"]


def test_aqe_splits_skewed_join_partition(spark):
    """The OTHER skew weapon (besides manual salting, test above): AQE
    must detect the hot key's oversized shuffle partition at runtime and
    split it across tasks — final plan shows SortMergeJoin(skew=true)
    over an 'AQEShuffleRead coalesced and skewed'. At 100 TB this is the
    no-code-change answer to organic key skew."""
    import re

    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        # shrink thresholds so the hot key's ~3 MB partition counts as skewed
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ

        hot = spark.range(200_000).select(
            F.lit(0).alias("k"), F.col("id").alias("v")
        )
        tail = spark.range(9_900).select(
            (F.col("id") % 99 + 1).alias("k"), F.col("id").alias("v")
        )
        dim = spark.range(100).select(
            F.col("id").alias("k"),
            F.concat(F.lit("d"), F.col("id")).alias("label"),
        )
        j = hot.unionAll(tail).join(dim, "k")
        assert len(j.collect()) == 209_900
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert re.search(r"SortMergeJoin\(skew=true\)", plan), plan[:2000]
        assert "skewed" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_count_min_sketch_is_merge_order_invariant(spark, sf_dir):
    """Sketch aggregates are the 100 TB frequency-estimation workhorse;
    their scale contract is that partial-aggregate MERGES commute. The
    CMS counters are sums, so the serialized sketch must be byte-identical
    no matter how the input is partitioned — verified across three
    different partitionings (1, 7, 32)."""
    from pyspark.sql import functions as F

    from pyspark_for_ebook_classification_spark.sources.io import load

    o = load(spark, sf_dir, "orders")
    def sketch(df):
        return df.agg(
            F.count_min_sketch(
                "o_orderpriority", F.lit(0.01), F.lit(0.95), F.lit(42)
            ).alias("s")
        ).first()["s"]

    base = sketch(o.coalesce(1))
    assert sketch(o.repartition(7)) == base
    assert sketch(o.repartition(32, "o_orderkey")) == base
    assert len(base) > 0


def test_incremental_neardup_band_index_at_rest(spark, sf_dir, tmp_path):
    """Substantiates dedup_incremental_neardup's production claim: the
    standing corpus's band table written bucketed on band_hash joins an
    arriving batch's live bands with NO corpus-side exchange — only the
    (tiny) batch side and the final distinct shuffle. Proven
    comparatively: the identical join against an UNBUCKETED copy of the
    same table needs one more Exchange (the corpus shuffle the at-rest
    index removes forever). Broadcast is disabled so the bucketed
    mechanism — not AQE's small-side broadcast — is what's measured;
    with broadcast on, a small batch gets an even cheaper plan, which is
    the query's own path. Also reconciles candidates: the at-rest join
    (uncapped) covers every cross pair the capped generator emits."""
    from pyspark_for_ebook_classification_spark.operators.dedup import (
        _band_rows,
        _lsh_candidate_pairs,
        _shingle_sig,
    )

    d = load(spark, sf_dir, "documents")
    corpus_bands = _band_rows(_shingle_sig(d.filter(F.col("doc_id") % 4 != 0)))
    batch_bands = (
        _band_rows(_shingle_sig(d.filter(F.col("doc_id") % 4 == 0)))
        .withColumnRenamed("doc_id", "new_id")
    )

    spark.sql("DROP TABLE IF EXISTS band_index")
    spark.sql("DROP TABLE IF EXISTS band_flat")
    write_bucketed(
        corpus_bands, "band_index", ["band_id", "band_hash"], 8,
        path=str(tmp_path / "band_index"),
    )
    corpus_bands.write.mode("overwrite").option(
        "path", str(tmp_path / "band_flat")
    ).format("parquet").saveAsTable("band_flat")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def pairs_vs(table):
            at_rest = spark.table(table).withColumnRenamed("doc_id", "old_id")
            return (
                batch_bands.join(at_rest, ["band_id", "band_hash"])
                .select("new_id", "old_id")
                .distinct()
            )

        bucketed_x = audit(pairs_vs("band_index"))["shuffles"]
        flat_x = audit(pairs_vs("band_flat"))["shuffles"]
        assert bucketed_x == flat_x - 1, (bucketed_x, flat_x)

        got = {(r["new_id"], r["old_id"]) for r in pairs_vs("band_index").collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS band_index")
        spark.sql("DROP TABLE IF EXISTS band_flat")

    all_pairs = _lsh_candidate_pairs(_band_rows(_shingle_sig(d)))
    want = set()
    for r in all_pairs.collect():
        a, b = r["doc_a"], r["doc_b"]
        if (a % 4 == 0) != (b % 4 == 0):
            new, old = (a, b) if a % 4 == 0 else (b, a)
            want.add((new, old))
    # the at-rest join has no MAX_BUCKET cap, so it must cover every
    # cross pair the capped generator emits
    assert want <= got, sorted(want - got)[:5]
