"""Structured Streaming runners (SURVEY.md §2.10: ST1–ST7).

Each runner drives the SAME transformation function as its declared batch
twin (streaming/twins.py) through a real streaming query: parquet file
source → transformation → memory sink, `availableNow` trigger (process
everything, then stop — the batch-equivalent streaming mode). On a real
deployment the source/sink swap for Kafka/Delta and the trigger for
continuous micro-batches; the transformations are unchanged.

Watermarks: every aggregation runner sets one. With availableNow over
static files the watermark never drops rows (all data is "on time"), so
stream output == batch twin exactly; the late-data *drop* behavior is
exercised separately in tests/test_streaming.py with a two-batch file
sequence.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_for_ebook_classification_spark.streaming import twins

def _events_raw_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Streaming sources need an explicit schema; derive it from one batch
    read so both testdata generations of ``events.ts`` (INT64-nanos via
    nanosAsLong, or plain timestamp[us] → TIMESTAMP_NTZ) work unchanged."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema


def _as_stream_dir(sf_dir: str) -> str:
    """Spark's file stream source requires a DIRECTORY; the driver tables
    are single parquet files. Expose the file through a per-sf temp dir
    with a symlink (no data copy)."""
    src = os.path.join(sf_dir, "events.parquet")
    stream_dir = os.path.join(
        "/tmp", "spark_engine_streams", sf_dir.strip("/").replace("/", "_"), "events"
    )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    # Same dangling-link repair as _docs_stream_dir (r11 ADVICE).
    if os.path.islink(link) and os.path.realpath(link) != os.path.realpath(src):
        os.remove(link)
    if not os.path.exists(link):
        os.symlink(src, link)
    return stream_dir


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: file-source stream of the events table with the same ns→µs
    timestamp normalization as the batch loader."""
    schema = _events_raw_schema(spark, sf_dir)
    raw = spark.readStream.schema(schema).parquet(_as_stream_dir(sf_dir))
    if isinstance(schema["ts"].dataType, T.LongType):
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _run_to_memory(result: DataFrame, mode: str = "complete") -> DataFrame:
    """Execute a streaming frame to completion via availableNow + memory
    sink; returns a batch DataFrame of the sink table."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        result.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return result.sparkSession.table(name)


def run_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 + ST4: watermarked tumbling-window aggregation."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return _run_to_memory(twins.tumbling_hourly(ev))


def run_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2: sliding-window aggregation."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return _run_to_memory(twins.sliding_hourly(ev))


def run_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3: session-window aggregation (stateful merge of gaps)."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return _run_to_memory(twins.session_windows(ev))


def run_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5: stateful streaming dedup sharing stream_dedup_twin's batch
    semantics — keep the EARLIEST event per (user_id, event_type) by
    (ts, event_id) event-time order.

    ``dropDuplicatesWithinWatermark`` can't express this: it keeps the
    first-ARRIVING row, which across micro-batches (or shuffled file
    splits) is arbitrary. Instead the dedup is an arbitrary-stateful op
    (applyInPandasWithState) whose per-key state is the current minimum
    (ts, event_id); update mode re-emits a key whenever a new minimum
    arrives, so the last emission per key equals the batch twin exactly."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def keep_earliest(key, pdfs, state: GroupState):
        best_ts, best_eid = state.get if state.exists else (None, None)
        changed = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "event_id"])
            ts_ns = int(pdf["ts"].astype("int64").iloc[0])
            eid = int(pdf["event_id"].iloc[0])
            if best_ts is None or (ts_ns, eid) < (best_ts, best_eid):
                best_ts, best_eid, changed = ts_ns, eid, True
        if changed:
            state.update((best_ts, best_eid))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "event_type": [key[1]],
                    "event_id": [best_eid],
                    "ts": [pd.to_datetime(best_ts)],
                }
            )

    ev = events_stream(spark, sf_dir)
    deduped = ev.groupBy("user_id", "event_type").applyInPandasWithState(
        keep_earliest,
        outputStructType="user_id long, event_type string, event_id long, ts timestamp",
        stateStructType="ts_ns long, event_id long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(deduped, "update")


def run_dedup_by_id_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5 primitive surface: ``dropDuplicatesWithinWatermark`` keyed on the
    unique event_id — exactly-once-style dedup of a replayed/at-least-once
    source. State for an id is evictable once the watermark passes it;
    which physical row survives is arbitrary, so this runner keys on a
    UNIQUE id (any surviving row is THE row) — for business-key dedup with
    deterministic survivors use run_dedup_stream instead."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    deduped = ev.dropDuplicatesWithinWatermark(["event_id"])
    return _run_to_memory(deduped.select("event_id", "user_id", "event_type"), "append")


def run_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7: stream ⋈ static dim (the static side broadcasts per micro-batch)."""
    from pyspark_for_ebook_classification_spark.sources.io import load

    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    customer = load(spark, sf_dir, "customer")
    return _run_to_memory(twins.enrich_with_customer(ev, customer))


def run_tws_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 (Spark 4.x API): ``transformWithStateInPandas`` — the successor
    to applyInPandasWithState, with typed per-key state handles. Counts
    events and sums values per (user_id, event_type); the final state per
    key equals the batch groupBy, which is what the row-count test pins.

    State is a single ValueState tuple; update-mode emissions per batch.
    On a real cluster this runs on RocksDB state stores with changelog
    checkpointing — nothing in the transformation changes.

    Requires ``google.protobuf`` (the transformWithState state-server
    wire protocol); raises ImportError with guidance where absent —
    run_stateful_running_max is the dependency-free equivalent."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise ImportError(
            "transformWithStateInPandas needs the protobuf package for its "
            "state-server protocol; use run_stateful_running_max "
            "(applyInPandasWithState) in environments without it"
        ) from exc
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class CountSum(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "acc", "n_events BIGINT, sum_value DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, sv = (self._state.get() or (0, 0.0)) if self._state.exists() else (0, 0.0)
            for pdf in rows:
                n += int(len(pdf))
                sv += float(pdf["value"].sum())
            self._state.update((n, sv))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "event_type": [key[1]],
                    "n_events": [n],
                    "sum_value": [sv],
                }
            )

        def close(self) -> None:
            pass

    ev = events_stream(spark, sf_dir)
    result = ev.groupBy("user_id", "event_type").transformWithStateInPandas(
        CountSum(),
        outputStructType="user_id long, event_type string, n_events long, sum_value double",
        outputMode="Update",
        timeMode="None",
    )
    return _run_to_memory(result, "update")


def run_stateful_running_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6: arbitrary stateful op via applyInPandasWithState — running max
    event value per user, emitted once per user at stream end."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track_max(key, pdfs, state: GroupState):
        mx = state.get[0] if state.exists else float("-inf")
        n = state.get[1] if state.exists else 0
        for pdf in pdfs:
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
                n += int(len(pdf))
        state.update((mx, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "max_value": [mx], "n_events": [n]}
        )

    ev = events_stream(spark, sf_dir)
    result = ev.groupBy("user_id").applyInPandasWithState(
        track_max,
        outputStructType="user_id long, max_value double, n_events long",
        stateStructType="max_value double, n_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(result, "update")


def run_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST8: watermarked stream-stream interval join — two streaming reads
    of the events source (clicks, purchases), joined on user_id with a
    30-minute event-time bound. Both sides carry watermarks, so the
    symmetric hash join can evict click state at watermark − 30min and
    purchase state at the watermark; without the interval predicate the
    join would buffer both streams forever (the canonical unbounded-state
    mistake). Append mode: matches emit once both watermarks pass."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
    )
    return _run_to_memory(twins.click_purchase_pairs(clicks, purchases), "append")


def run_chained_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST9: chained windowed aggregation — hourly counts re-aggregated to
    daily peaks inside ONE streaming query (two stateful operators back to
    back; the watermark threads through the first window's struct)."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return _run_to_memory(twins.chained_daily_peak(ev), mode="append")


def run_countmin_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST + sketch synthesis: the Count-Min grid as streaming aggregation
    state. Each micro-batch folds its events' 4 hash cells into the
    running 1,024-cell grid (complete mode emits the merged sketch after
    every batch — the memory sink's final table is the stream's sketch).
    At 100 TB/day this is how frequency guards run: O(cells) state, no
    per-key state growth, mergeable with any batch-built grid."""
    return _run_to_memory(twins.countmin_user_grid(events_stream(spark, sf_dir)))


def run_hourly_topk_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST10: windowed top-k. The stream maintains only the hourly
    count state (bounded at hours × event types); the top-k rank runs
    over the completed sink table — ranking mid-stream would need the
    hour to be closed, which is exactly what the sink table represents
    after availableNow drains. Same split a production job uses with a
    Delta/Kafka sink and a reporting query on top."""
    counts = twins.hourly_type_counts(events_stream(spark, sf_dir))
    sink = _run_to_memory(counts)
    return twins.topk_types_per_hour(sink)


def run_custom_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 flagship: a CUSTOM gap-based sessionizer as an arbitrary
    stateful processor (applyInPandasWithState) — the operator you write
    when session_window's semantics aren't yours (here: the same 6h gap
    rule as the batch islands query, so the two are comparable
    row-for-row).

    Per-user state = the OPEN session (last_ts, session_idx, n_events,
    start, decimal value-sum). Each batch's events are processed in
    (ts, event_id) order: a gap > 6h closes the open session — closed
    sessions are emitted immediately (append semantics), the new one
    replaces the state. State survives across micro-batches, so a
    session spanning batch boundaries is stitched correctly; at stream
    end exactly one session per user remains open (and unemitted) —
    tests compare against the batch twin minus each user's final
    session. Value sums accumulate in quantized Decimal replicating
    functions/numeric.dsum exactly, so the comparison is bit-exact.
    State is O(1) per user forever — the unbounded-state trap a naive
    collect-then-split sessionizer would hit."""
    import decimal

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    Q6 = decimal.Decimal("0.000001")

    def sessionize(key, pdfs, state: GroupState):
        if state.exists:
            last_us, idx, n, start_us, val_str = state.get
            val = decimal.Decimal(val_str)
        else:
            last_us = None
            idx, n, start_us, val = 0, 0, 0, decimal.Decimal(0)
        out = []
        # applyInPandasWithState delivers a group's batch as MULTIPLE
        # Arrow chunks in no guaranteed order (chunking at
        # arrow.maxRecordsPerBatch): concatenate and sort ONCE — memory
        # is bounded by the user's events in this micro-batch, not by
        # history (which lives compressed in the O(1) state)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            allpdf = pd.concat(chunks).sort_values(["ts", "event_id"])
            for ts_ns, v in zip(allpdf["ts"].astype("int64"), allpdf["value"]):
                ts_us = int(ts_ns) // 1000
                # gap compared on floor-second unix timestamps, exactly the
                # batch twin's unix_timestamp(ts) - unix_timestamp(lag(ts))
                if last_us is None or (
                    ts_us // 1_000_000 - last_us // 1_000_000 > 21_600
                ):
                    if last_us is not None:
                        # duration = floor(end_s) - floor(start_s), matching
                        # the batch twin's per-second truncation semantics
                        out.append((
                            key[0], idx, n, start_us,
                            last_us // 1_000_000 - start_us // 1_000_000,
                            val,
                        ))
                    idx += 1
                    n, start_us, val = 0, ts_us, decimal.Decimal(0)
                n += 1
                last_us = ts_us
                val += decimal.Decimal(repr(float(v))).quantize(
                    Q6, rounding=decimal.ROUND_HALF_UP
                )
        state.update((last_us, idx, n, start_us, str(val)))
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [r[0] for r in out],
                    "session_idx": [r[1] for r in out],
                    "n_events": [r[2] for r in out],
                    "session_start": [pd.to_datetime(r[3] * 1000) for r in out],
                    "duration_s": [r[4] for r in out],
                    "session_value": [float(r[5]) for r in out],
                }
            )

    ev = events_stream(spark, sf_dir).select("user_id", "event_id", "ts", "value")
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType=(
            "user_id long, session_idx long, n_events long,"
            " session_start timestamp, duration_s long, session_value double"
        ),
        stateStructType=(
            "last_us long, idx long, n long, start_us long, val string"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(sessions, "append")


def _docs_stream_dir(sf_dir: str) -> str:
    """documents-table variant of _as_stream_dir (symlink, no copy)."""
    src = os.path.join(sf_dir, "documents.parquet")
    stream_dir = os.path.join(
        "/tmp",
        "spark_engine_streams",
        sf_dir.strip("/").replace("/", "_"),
        "documents",
    )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "documents.parquet")
    # r11 ADVICE: a regenerated testdata tree leaves a dangling (or
    # stale) link behind — re-point it instead of failing every later
    # streaming-gate run until /tmp is cleaned by hand.
    if os.path.islink(link) and os.path.realpath(link) != os.path.realpath(src):
        os.remove(link)
    if not os.path.exists(link):
        os.symlink(src, link)
    return stream_dir


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: file-source stream of the documents table (the arriving-crawl
    shape the incremental gate ingests)."""
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    return spark.readStream.schema(schema).parquet(_docs_stream_dir(sf_dir))


def run_incremental_gate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7 + L2: the ingest-time near-dup gate as a REAL streaming query
    — the declared ``dedup_incremental_gate`` plan with the batch side
    swapped for a file stream. Projection-only MinHash on the stream
    (array HOFs — a stream cannot chain an aggregation before a join),
    two stream-static band equi-joins against the standing corpus index
    (pair-exact union), exact-Jaccard verify as a projection, and the
    single per-doc verdict aggregation under a complete-mode memory
    sink. tests/test_streaming.py asserts the output equals the
    declared batch query row for row."""
    from pyspark.sql import functions as SF

    from pyspark_for_ebook_classification_spark.operators.dedup import (
        _gate_sig_cols,
        _shingle_sets,
        gate_score,
        gate_static_index,
    )
    from pyspark_for_ebook_classification_spark.sources.io import load

    d = load(spark, sf_dir, "documents")
    index = gate_static_index(d.filter(SF.col("doc_id") % 4 != 0))
    # the standing index is static state: materialize it once (in
    # production it is AT REST on disk, bucketed by band hash) so each
    # micro-batch joins a settled frame instead of replanning the
    # corpus-side window cap per trigger
    index = index.localCheckpoint(eager=True)
    stream = _shingle_sets(documents_stream(spark, sf_dir).filter(SF.col("doc_id") % 4 == 0))
    return _run_to_memory(gate_score(_gate_sig_cols(stream), index))


def run_gopher_gate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 + L4: the production quality gate as a REAL streaming query —
    the declared ``text_gopher_library_gate`` parameters applied by the
    SAME ``gopher_gate`` library call to a file stream of the documents
    table. The gate is one stateless projection (every feature is a
    codegen'd higher-order function over the token array), so it runs
    under an APPEND-mode sink with zero state — the ingest-time shape a
    crawler actually deploys (score each arriving doc once, route on
    ``keep``). tests/test_streaming.py asserts the streamed output
    equals the declared hash-green query row for row, putting a second
    S6 runner transitively under the driver's oracle gate (the r11
    incremental-gate precedent, applied to the quality stage)."""
    from pyspark_for_ebook_classification_spark.operators.textops import gopher_gate

    out = gopher_gate(
        documents_stream(spark, sf_dir),
        min_words=30,
        max_words=85,
        min_mean_word_len=4.3,
        max_mean_word_len=4.72,
        max_symbol_per_word=0.05,
        min_alpha_word_ratio=0.9,
        min_distinct_stopwords=2,
    )
    return _run_to_memory(out, "append")


def run_watermark_close_stream(
    spark: SparkSession,
    sf_dir: str,
    *,
    batches: int = twins.WM_BATCHES,
    delay_min: int = twins.WM_DELAY_MIN,
    straggler_every: int = twins.WM_STRAGGLER_EVERY,
    straggler_min: int = twins.WM_STRAGGLER_MIN,
    jitter_mod: int = twins.WM_JITTER_MOD,
) -> DataFrame:
    """ST4 as a REAL streaming query with DETERMINISTIC micro-batches:
    write the arrival log (twins.watermark_batched — bulk near-order +
    rare 7-day stragglers) as one parquet file per micro-batch with
    strictly increasing mod-times, then stream it back with
    ``maxFilesPerTrigger=1`` + ``withWatermark`` + tumbling hourly
    aggregation under an APPEND-mode sink. Because the batch sequence
    is deterministic, the watermark trajectory — including the
    one-batch propagation lag and the final no-data emission batch —
    is a pure function of the data, and the declared hash-green
    ``stream_watermark_close_twin`` computes exactly it;
    tests/test_streaming.py asserts the two are row-identical, putting
    ST4's late-drop + closed-window-emission semantics transitively
    under the driver's oracle gate (the S6 runner precedent, applied to
    the last behavioral-only §2 row). The dial kwargs mirror
    twins.watermark_replay's, so the equality test also runs at the
    library router's non-default dials. The staging writes are fixture
    plumbing: production's micro-batches arrive pre-sequenced from the
    ingest layer."""
    import glob
    import shutil
    import tempfile
    import time as _time

    from pyspark_for_ebook_classification_spark.sources.io import load

    ev = twins.watermark_batched(
        load(spark, sf_dir, "events"),
        batches=batches,
        straggler_every=straggler_every,
        straggler_min=straggler_min,
        jitter_mod=jitter_mod,
    )
    d = tempfile.mkdtemp(prefix="spark_graft_wm_stream_")
    try:
        base = int(_time.time()) - 10 * batches
        for b in range(1, batches + 1):
            stage = os.path.join(d, f"_stage{b}")
            (
                ev.filter(F.col("batch_id") == b)
                .select("event_id", "ts", "value")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(stage)
            )
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            dst = os.path.join(d, f"b{b:02d}.parquet")
            shutil.move(part, dst)
            shutil.rmtree(stage)
            os.utime(dst, (base + b, base + b))

        from pyspark_for_ebook_classification_spark.functions.numeric import dsum

        stream = (
            spark.readStream.schema("event_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
            .withWatermark("ts", f"{delay_min} minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
            .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
        )
        return _run_to_memory(stream, "append")  # memory sink holds the rows
    finally:
        shutil.rmtree(d, ignore_errors=True)
