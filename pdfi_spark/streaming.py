"""Structured Streaming surface.

The reference is strictly batch-synchronous (SURVEY.md §2.9), so this
module is a deliberate Spark-native extension: the same per-document
extraction runs under ``readStream`` (micro-batch), and the events
table gets watermarked tumbling-window aggregation — the two shapes a
continuously-ingesting crawl pipeline needs.

Determinism note: every query here is driven with
``trigger(availableNow=True)`` against static input, so results equal
the batch equivalents exactly (the watermark never drops rows within a
single available-now run) — which is what makes them oracle-checkable.
"""
from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .datagen import DOCUMENTS_SCHEMA
from .ops._scan import read
from .pipeline import extract_text


def scratch_dir(prefix: str) -> str:
    """mkdtemp that self-cleans at interpreter exit. Streaming helpers
    materialize per-invocation input splits and checkpoints; repeated
    driver/oracle runs must not accumulate those on disk."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def run_available_now(df: DataFrame, query_name: str, output_mode: str,
                      checkpoint_prefix: str,
                      checkpoint_dir: str | None = None) -> DataFrame:
    """Run the streaming frame ``df`` as one available-now pass into a
    memory sink named ``query_name`` and return the sink's table. The
    checkpoint goes to ``checkpoint_dir``, or else to a fresh
    self-cleaning ``scratch_dir`` with ``checkpoint_prefix``."""
    (
        df.writeStream.queryName(query_name)
        .format("memory")
        .outputMode(output_mode)
        .option("checkpointLocation",
                checkpoint_dir or scratch_dir(prefix=checkpoint_prefix))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return df.sparkSession.table(query_name)


def extract_stream(spark: SparkSession, input_dir: str,
                   query_name: str = "extract_stream",
                   checkpoint_dir: str | None = None) -> DataFrame:
    """Streaming twin of the batch pipeline: readStream(parquet) ->
    mapInPandas extraction -> memory sink, one available-now pass.

    In production the sink is an Iceberg table and the checkpoint dir
    makes the stream resume-exactly-once; here the memory sink keeps the
    result inspectable and the checkpoint is still exercised."""
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(input_dir)
    return run_available_now(
        extract_text(stream, payload_col="html"), query_name, "append",
        "pdfi_stream_ckpt_", checkpoint_dir,
    )


def windowed_event_counts(spark: SparkSession, sf_dir: str,
                          window: str = "1 hour",
                          watermark: str = "10 minutes",
                          query_name: str = "windowed_event_counts") -> DataFrame:
    """Watermarked tumbling-window aggregation over the events stream:
    count + sum(value) per (window, event_type). The watermark bounds
    state at scale; with available-now input it drops nothing, so the
    result equals the batch GROUP BY (the DuckDB oracle)."""
    # the streaming file source needs a directory: stream the sf_dir with
    # a glob filter selecting just the events file
    # Watermarks require an LTZ event-time column, and NTZ-parquet -> LTZ
    # reinterpretation depends on the session timezone. Pin it to UTC for
    # exactly the duration of this run (restored in finally — no permanent
    # session mutation) and emit window_start as TIMESTAMP_NTZ *inside*
    # the query, so the materialized result is a pure function of the
    # stored wall-clock values on any host timezone.
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        events = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, "
                "value double, props string"
            )
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .withWatermark("ts", watermark)
        )
        agg = (
            events.groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 6).alias("sum_value"),
            )
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )
        return run_available_now(
            agg, query_name, "complete", "pdfi_stream_ckpt_"
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def streaming_dedup_state(spark: SparkSession, sf_dir: str,
                          query_name: str = "streaming_dedup_state",
                          n_input_files: int = 4) -> DataFrame:
    """CUSTOM STATEFUL streaming operator (applyInPandasWithState): a
    first-seen dedup ledger keyed on the 5-word-prefix dedup key. Each
    micro-batch updates per-key GroupState (running count + smallest
    doc_id); the input is split into several files with
    maxFilesPerTrigger=1, so state genuinely persists ACROSS micro-batches
    (an availableNow run executes n_input_files sequential batches).
    The final ledger equals the batch dedup_exact aggregate — which is
    what makes this oracle-checkable. State is bounded by distinct keys;
    at crawl scale a TTL timeout (GroupStateTimeout) ages out cold keys."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    docs = read(spark, f"{sf_dir}/documents.parquet").select(
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 5)).alias("dedup_key"),
        "doc_id",
    )
    input_dir = scratch_dir(prefix="pdfi_dedup_state_in_")
    docs.repartition(n_input_files).write.mode("overwrite").parquet(input_dir)

    stream = (
        spark.readStream.schema("dedup_key string, doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )

    def update(key, pdfs, state):
        if state.exists:
            count, min_id = state.get
        else:
            count, min_id = 0, None
        for pdf in pdfs:
            count += len(pdf)
            batch_min = int(pdf["doc_id"].min())
            min_id = batch_min if min_id is None else min(min_id, batch_min)
        state.update((count, min_id))
        yield pd.DataFrame(
            [{"dedup_key": key[0], "n_dups": count, "keep_id": min_id}]
        )

    updates = stream.groupBy("dedup_key").applyInPandasWithState(
        update,
        outputStructType="dedup_key string, n_dups long, keep_id long",
        stateStructType="count long, min_id long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    ledger = run_available_now(
        updates, query_name, "update", "pdfi_dedup_state_ckpt_"
    )
    # the memory sink holds one row per key PER BATCH that touched it;
    # the final ledger row per key is the max count / min keep_id
    return (
        ledger.groupBy("dedup_key")
        .agg(F.max("n_dups").alias("n_dups"), F.min("keep_id").alias("keep_id"))
    )


def url_dedup_streaming(spark: SparkSession, sf_dir: str,
                        query_name: str = "url_dedup_streaming",
                        n_input_files: int = 4) -> DataFrame:
    """Continuous crawl-ingest dedup: the codegen canonical_url chain
    applied INSIDE a stream (expression chains work unchanged on
    streaming DataFrames), feeding the same first-seen GroupState
    ledger as streaming_dedup_state but keyed on the canonical URL —
    what a live crawler runs to skip re-fetched resources. Input split
    across files with maxFilesPerTrigger=1 so state persists across
    micro-batches; the final ledger equals the batch url_dedup_counts
    aggregate (the oracle). At crawl scale the ledger gets a
    GroupStateTimeout TTL; here keys are bounded."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .ops.webtext import _raw_url_expr, canonical_url

    docs = read(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    input_dir = scratch_dir(prefix="pdfi_url_dedup_in_")
    docs.repartition(n_input_files).write.mode("overwrite").parquet(input_dir)

    stream = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    canon = stream.select(
        "doc_id", canonical_url(_raw_url_expr()).alias("canon_url")
    )

    def update(key, pdfs, state):
        if state.exists:
            count, min_id = state.get
        else:
            count, min_id = 0, None
        for pdf in pdfs:
            count += len(pdf)
            batch_min = int(pdf["doc_id"].min())
            min_id = batch_min if min_id is None else min(min_id, batch_min)
        state.update((count, min_id))
        yield pd.DataFrame(
            [{"canon_url": key[0], "n_docs": count, "keep_id": min_id}]
        )

    updates = canon.groupBy("canon_url").applyInPandasWithState(
        update,
        outputStructType="canon_url string, n_docs long, keep_id long",
        stateStructType="count long, min_id long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    ledger = run_available_now(
        updates, query_name, "update", "pdfi_url_dedup_ckpt_"
    )
    # one row per key per touching batch -> final ledger row per key
    return (
        ledger.groupBy("canon_url")
        .agg(F.max("n_docs").alias("n_docs"), F.min("keep_id").alias("keep_id"))
    )


def frontier_schedule_streaming(spark: SparkSession, sf_dir: str,
                                query_name: str = "frontier_stream",
                                n_input_files: int = 4) -> DataFrame:
    """Continuous politeness scheduler: the streaming twin of
    ops.webtext.frontier_schedule. Robots-allowed pages arrive in
    micro-batches; per-host GroupState keeps the running fetch counter,
    so fetch_order/scheduled_sec keep advancing ACROSS batches (a live
    frontier never restarts its per-host clock). Crawl-delays come from
    the same core.robots fixtures (driver-computed dict, closed over by
    the Arrow UDF — production would broadcast the robots dimension).

    Unlike the dedup ledgers (order-insensitive count/min), this
    operator's semantics are ORDER-SENSITIVE, so arrival order is
    pinned two ways: input files are written as doc_id RANGE splits in
    separate sequential jobs (strictly increasing mtimes — the file
    stream source processes oldest-first, maxFilesPerTrigger=1), and
    rows are sorted by doc_id inside each batch's group. The final
    table then equals the batch operator exactly — which is what makes
    it oracle-checkable against the same SQL."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .core.robots import ROBOTS_TXT, crawl_delay
    from .ops.webtext import robots_filter

    delays = {h: float(crawl_delay(t) or 1.0) for h, t in ROBOTS_TXT.items()}

    allowed = robots_filter(spark, sf_dir).filter(F.col("allowed")).select(
        "doc_id", "host"
    ).localCheckpoint(eager=True)
    # driver-side scalar, FIXTURE SETUP ONLY (the documented exception
    # to the no-driver-collects rule, same class as the embedded
    # count-star scalars): the max doc_id just sizes the range splits of
    # the synthetic input files; production frontiers stream from a real
    # source and never run this block
    hi = allowed.agg(F.max("doc_id")).first()[0] or 0
    span = hi // n_input_files + 1
    input_dir = scratch_dir(prefix="pdfi_frontier_in_")
    for i in range(n_input_files):  # sequential jobs: increasing mtimes
        allowed.filter(
            (F.col("doc_id") >= i * span) & (F.col("doc_id") < (i + 1) * span)
        ).coalesce(1).write.mode("append").parquet(input_dir)

    stream = (
        spark.readStream.schema("doc_id long, host string")
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )

    def update(key, pdfs, state):
        host = key[0]
        delay = delays.get(str(host), 1.0)
        start = state.get[0] if state.exists else 0
        rows = []
        for pdf in pdfs:
            for doc_id in sorted(int(d) for d in pdf["doc_id"]):
                rows.append({
                    "doc_id": doc_id, "host": str(host),
                    "fetch_order": start,
                    "scheduled_sec": round(start * delay, 3),
                })
                start += 1
        state.update((start,))
        yield pd.DataFrame(
            rows, columns=["doc_id", "host", "fetch_order", "scheduled_sec"]
        )

    updates = stream.groupBy("host").applyInPandasWithState(
        update,
        outputStructType=(
            "doc_id long, host string, fetch_order long, scheduled_sec double"
        ),
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # each doc is emitted exactly once (in the batch that delivered it)
    return run_available_now(
        updates, query_name, "update", "pdfi_frontier_ckpt_"
    )


def session_window_events(spark: SparkSession, sf_dir: str,
                          gap: str = "30 minutes",
                          watermark: str = "10 minutes",
                          query_name: str = "session_window_events") -> DataFrame:
    """NATIVE streaming session windows (F.session_window): Spark's
    merging-window state machine, vs sessionize_events' batch
    lag/cumsum formulation of the same sessions. Window semantics are
    half-open — an event exactly `gap` after the previous one starts a
    NEW session (the DuckDB oracle mirrors with `diff >= gap`).
    Timezone handling matches windowed_event_counts: pin UTC for the
    run, emit NTZ columns."""
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        events = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, "
                "value double, props string"
            )
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .withWatermark("ts", watermark)
        )
        agg = (
            events.groupBy("user_id", F.session_window("ts", gap).alias("w"))
            .agg(
                F.count("*").alias("n_events"),
                F.min("event_id").alias("first_event"),
            )
            .select(
                "user_id",
                F.col("w.start").cast("timestamp_ntz").alias("session_start"),
                "n_events",
                "first_event",
            )
        )
        return run_available_now(
            agg, query_name, "complete", "pdfi_sesswin_ckpt_"
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def sessionize_events(spark: SparkSession, sf_dir: str,
                      gap_minutes: int = 30) -> DataFrame:
    """Session windows via the lag -> gap-flag -> running-sum pattern
    (batch DataFrame; the same sessionization the reference's layout
    clustering uses per document, SURVEY.md §2.7, applied cross-row).
    Scale note: partitioned by user_id, so the shuffle is one exchange
    and sessions never span partitions."""
    from pyspark.sql import Window

    # ts is TIMESTAMP_NTZ: derive epoch seconds NTZ-to-NTZ so the value is
    # a pure function of the stored wall clock — no session-tz mutation,
    # no DST edge cases on non-UTC hosts
    events = read(spark, f"{sf_dir}/events.parquet")
    tsec = F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = tsec - F.lag(tsec).over(w)
    flagged = events.withColumn(
        "new_session",
        # half-open boundary (gap >= timeout starts a NEW session),
        # matching the native session_window operator exactly
        F.when(gap.isNull() | (gap >= gap_minutes * 60), 1).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_seq", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    )
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
    )
