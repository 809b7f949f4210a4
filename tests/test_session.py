"""get_spark's partitioning: a frame built from a Python list is one
slice (one Python worker task), while every SQL leaf and AQE's shuffle
coalescing keep one partition per core, as when the RDD default
parallelism was the core count."""

from __future__ import annotations

import os

_LEAF = "spark.sql.leafNodeDefaultParallelism"


def _cores(spark) -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if cpus == "*":
        return spark._jvm.java.lang.Runtime.getRuntime().availableProcessors()
    return int(cpus)


def _parts(df) -> int:
    return df.rdd.getNumPartitions()


def test_list_frames_are_one_slice(spark):
    rows = [(i, f"doc {i}") for i in range(5)]
    assert _parts(spark.createDataFrame(rows, "doc_id long, text string")) == 1


def test_sql_leaves_keep_one_partition_per_core(spark, tmp_path):
    cores = _cores(spark)
    assert spark.conf.get(_LEAF) == str(cores)
    # AQE coalesces a shuffle into no fewer partitions than the core count
    shuffled = spark.sql("SELECT id, id * 3 AS v FROM range(0, 3000000, 1, 4) DISTRIBUTE BY id")
    assert _parts(shuffled) >= cores
    assert _parts(spark.range(1000)) == cores
    assert _parts(spark.range(0, 1000, 1, 3)) == 3
    assert _parts(spark.sql("SELECT * FROM range(1000)")) == cores
    values = ", ".join(f"({i})" for i in range(16))
    assert _parts(spark.sql(f"SELECT * FROM VALUES {values} AS t(v)")) == min(16, cores)

    # eight small files: the scan packs them into splits sized by the
    # minimum partition count, which the parent's sessions took from the
    # core count; spark.sql.files.minPartitionNum reproduces that sizing
    path = str(tmp_path / "eight_files")
    spark.sql("SELECT id, id * 2 AS v FROM range(800)").repartition(8).write.parquet(path)
    scanned = _parts(spark.read.parquet(path))
    saved = spark.conf.get("spark.sql.files.minPartitionNum", None)
    try:
        spark.conf.set("spark.sql.files.minPartitionNum", str(cores))
        assert scanned == _parts(spark.read.parquet(path))
        spark.conf.set("spark.sql.files.minPartitionNum", "1")
        if cores > 1:
            assert _parts(spark.read.parquet(path)) < scanned
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.files.minPartitionNum")
        else:
            spark.conf.set("spark.sql.files.minPartitionNum", saved)
