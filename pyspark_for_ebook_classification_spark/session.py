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
"""

from __future__ import annotations

import os

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
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
