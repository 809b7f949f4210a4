"""SparkSession factory.

Scale stance (SURVEY.md §4): AQE on (runtime re-plan, skew-join splitting,
partition coalescing), Arrow on (any pandas boundary is batched), session
timezone pinned to UTC (oracle parity — DuckDB timestamps are UTC-naive),
shuffle partitions sized to cores for local mode (on a real cluster this is
set to ~2-3× total cores / targeting ~128-256 MB shuffle blocks).

Generated code is compiled once per JVM and then reused. Spark keeps the
classes it generates (Janino-compiled, then JIT-compiled by HotSpot) in a
JVM-wide LRU cache, 100 entries by default. The engine's working set is
far larger: one pass of the eight olap_mix benchmark queries alone
generates about 120 distinct classes, so at the default every repeated
query missed and paid compilation again. ``CODEGEN_CACHE_ENTRIES`` sizes
the cache to the whole registry.

One kind of miss stays: a whole-stage class name carries its stage id,
which AQE assigns in the order stages finish, so a plan whose stages
finish in a new order (nb_classify, the graph queries) compiles one more
copy of its classes, once per order. Leaving the id out
(``spark.sql.codegen.useIdInClassName=false``) removed those misses but
made the first run of new bulk work slower: the curation ingest took
15-20% longer in each of four paired runs, and in a one-conf-at-a-time
check only that conf did it.

A frame built from a driver-side Python list runs as one Python task.
``spark.createDataFrame(list, schema)`` parallelizes the list into
``sc.defaultParallelism`` slices, and each slice is one task in a PySpark
worker. Such a task costs 0.22-0.25 CPU-s before it reads a row: the
worker calls ``importlib.invalidate_caches()`` once per task, and under
Python 3.11 that re-reads the directory of ``pyspark.zip`` for each of
the worker's 16 zip importers (0.84 of the 0.88 s of one profiled task).
At one slice per core a 4-core session paid that four times for every
request frame. ``RDD_DEFAULT_PARALLELISM`` makes it one slice, and the
confs in ``CORE_SIZED_CONFS`` are pinned to the core count, so every SQL
leaf (Parquet scan splits, ``range`` and ``VALUES`` relations) and AQE's
coalescing floor keep the partitions they had. PySpark's
``spark.range(n)`` alone passes ``sc.defaultParallelism`` itself, so the
session's ``range`` takes the leaf default instead, as the JVM API's
does. The one Python task per list frame (about 0.22 CPU-s) remains: its
cost lies in the installed PySpark and Python 3.11, not in the engine.
"""

from __future__ import annotations

import functools
import os
import re

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

#: Cap of Spark's JVM-wide generated-class cache (static conf
#: ``spark.sql.codegen.cache.maxEntries``, default 100). Sized to the
#: largest working set measured, without eviction: a full oracle sweep
#: (scripts/drive_entry.py, all 335 registry queries at sf0.01) compiles
#: 4,226 distinct classes; a perfbench olap_mix run 130, an
#: online_requests run 247. 10,000 holds the sweep with about 2x
#: headroom. An entry holds its source and bytecode: after one pass of
#: the registry (about 3,500 entries) the heap held 250 MB more after GC than
#: at the default cap, metaspace 27 MB and the code cache 16 MB more.
CODEGEN_CACHE_ENTRIES = 10_000

#: Slices of an RDD built on the driver (static conf
#: ``spark.default.parallelism``; unset, it is the core count). The
#: engine's only such RDDs are frames made from Python lists: request
#: payloads and test fixtures, small by construction, so one slice loses
#: no parallelism and saves a Python worker task (0.22-0.25 CPU-s each)
#: per extra core. Spark also gives this count to an RDD shuffle that
#: names none (MLlib's internals); the engine's own plans are DataFrames.
#: Bulk data keeps its parallelism through ``CORE_SIZED_CONFS``.
RDD_DEFAULT_PARALLELISM = 1

#: Runtime confs that default to ``sc.defaultParallelism`` and that
#: get_spark sets to the core count instead: the partition count of SQL
#: leaves (scan splits, ``range``, ``VALUES``) and the floor of AQE's
#: shuffle coalescing (unset, Spark 4.1.2 takes it from the context: a
#: 3-million-row bigint shuffle then coalesced to 1 partition, not 5).
CORE_SIZED_CONFS = (
    "spark.sql.leafNodeDefaultParallelism",
    "spark.sql.adaptive.coalescePartitions.minPartitionNum",
)


def _leaf_range(spark, start, end=None, step=1, numPartitions=None):
    """``SparkSession.range`` that, without ``numPartitions``, makes one
    partition per SQL leaf slot, as SQL ``range`` and the JVM API do;
    PySpark's own default is ``sc.defaultParallelism``, 1 in a get_spark
    session."""
    if numPartitions is None:
        numPartitions = spark._jsparkSession.leafNodeDefaultParallelism()
    return SparkSession.range(spark, start, end, step, numPartitions)


def get_spark(
    app_name: str = "pyspark_for_ebook_classification_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned local SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, then ``*`` (all cores).
    Note: if a session already exists in this JVM, static confs
    (master, driver memory) are inherited from it.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    shuffle = str(
        shuffle_partitions
        or os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        or DEFAULT_SHUFFLE_PARTITIONS
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 4g, deliberately NOT sized to the machine: with a 16g G1 heap the
        # md5/explode-heavy queries showed erratic 20-60s GC spikes
        # (measured); the sf0.1 working set is tens of MB and 4g is stable.
        # Override with SPARK_GRAFT_DRIVER_MEMORY for bigger local runs.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "4g"))
        .config("spark.ui.enabled", "false")
        # local mode: shuffle spills to local disk; keep broadcast threshold
        # generous so every dim table in the star schema broadcasts.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # some driver testdata generations ship events.ts as INT64
        # TIMESTAMP(NANOS), which the parquet reader rejects without this;
        # set once at session build so sources/io.load never has to mutate
        # session conf mid-query (foreign sessions get a guarded fallback).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # static: takes effect only if this session is the first in the
        # JVM to generate code
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # static, like the codegen cache cap
        .config("spark.default.parallelism", str(RDD_DEFAULT_PARALLELISM))
    )
    spark = builder.getOrCreate()
    # read from the live master: a session that already existed keeps its own
    local = re.fullmatch(r"local\[(\d+|\*)\]", spark.sparkContext.master)
    if local:
        cores = local.group(1)
        if cores == "*":
            cores = spark._jvm.java.lang.Runtime.getRuntime().availableProcessors()
        for key in CORE_SIZED_CONFS:
            spark.conf.set(key, str(cores))
    spark.range = functools.partial(_leaf_range, spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark
