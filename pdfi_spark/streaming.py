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
Every stream starts in ``run_available_now``, which names its own
memory sink and checkpoint, so no operator takes a sink name.
"""
from __future__ import annotations

import atexit
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .datagen import DOCUMENTS_SCHEMA
from .ops._scan import read
from .pipeline import extract_text

# the tumbling event-time window and the watermark that bounds window
# state; one session gap serves the native session windows and the
# batch lag/cumsum sessionizer alike
WINDOW = "1 hour"
WATERMARK = "10 minutes"
SESSION_GAP_MINUTES = 30
# a split scratch input is this many files, delivered one per micro-batch
N_INPUT_FILES = 4


def scratch_dir(prefix: str) -> str:
    """mkdtemp that self-cleans at interpreter exit. Streaming helpers
    materialize per-invocation input splits and checkpoints; repeated
    driver/oracle runs must not accumulate those on disk."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def run_available_now(df: DataFrame, output_mode: str,
                      checkpoint_dir: str | None = None) -> DataFrame:
    """Run the streaming frame ``df`` as one available-now pass into a
    memory sink and return the sink's table. The sink name and the
    checkpoint prefix come from one unique label, so two runs in one
    session never share a sink and a frame returned earlier keeps
    reading its own result. The checkpoint goes to ``checkpoint_dir``,
    or else to a fresh self-cleaning ``scratch_dir``."""
    label = f"pdfi_stream_{uuid.uuid4().hex[:8]}"
    (
        df.writeStream.queryName(label)
        .format("memory")
        .outputMode(output_mode)
        .option("checkpointLocation",
                checkpoint_dir or scratch_dir(prefix=f"{label}_ckpt_"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return df.sparkSession.table(label)


def _scratch_stream(frame: DataFrame) -> DataFrame:
    """Write ``frame`` to a self-cleaning scratch directory and stream it
    back with the frame's own schema, all in one micro-batch."""
    input_dir = scratch_dir(prefix="pdfi_stream_in_")
    frame.write.mode("overwrite").parquet(input_dir)
    return frame.sparkSession.readStream.schema(frame.schema).parquet(input_dir)


def _split_stream(frame: DataFrame, part: Column) -> DataFrame:
    """Stream ``frame`` back in N_INPUT_FILES micro-batches, in order:
    the rows whose ``part`` is i are written as the i-th file of a
    self-cleaning scratch directory, each in its own sequential job
    (strictly increasing mtimes), and the file source delivers one file
    per micro-batch, oldest first. So operator state has to persist
    across micro-batches, and it sees the parts in ``part`` order."""
    input_dir = scratch_dir(prefix="pdfi_stream_in_")
    for i in range(N_INPUT_FILES):
        frame.filter(part == i).coalesce(1).write.mode("append").parquet(input_dir)
    return (
        frame.sparkSession.readStream.schema(frame.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )


def extract_stream(spark: SparkSession, input_dir: str,
                   checkpoint_dir: str | None = None) -> DataFrame:
    """Streaming twin of the batch pipeline: readStream(parquet) ->
    mapInPandas extraction -> memory sink, one available-now pass.

    In production the sink is an Iceberg table and the checkpoint dir
    makes the stream resume-exactly-once; here the memory sink keeps the
    result inspectable and the checkpoint is still exercised."""
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(input_dir)
    return run_available_now(
        extract_text(stream, payload_col="html"), "append", checkpoint_dir
    )


def _utc_events_pass(spark: SparkSession, sf_dir: str,
                     aggregate: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """Run ``aggregate`` over the watermarked events stream as one
    complete-mode available-now pass.

    The streaming file source needs a directory, so the sf_dir is
    streamed with a glob filter selecting just the events file. Reading
    NTZ parquet as the LTZ column a watermark needs depends on the
    session timezone, so it is pinned to UTC for exactly the duration of
    this run (restored in finally — no permanent session mutation), and
    ``aggregate`` emits its window starts as TIMESTAMP_NTZ *inside* the
    query: the materialized result is a pure function of the stored
    wall-clock values on any host timezone."""
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
            .withWatermark("ts", WATERMARK)
        )
        return run_available_now(aggregate(events), "complete")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation over the events stream:
    count + sum(value) per (window, event_type). The watermark bounds
    state at scale; with available-now input it drops nothing, so the
    result equals the batch GROUP BY (the DuckDB oracle)."""
    return _utc_events_pass(spark, sf_dir, lambda events: (
        events.groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
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
    ))


def _first_seen_ledger(keyed: DataFrame, key: str, count_col: str) -> DataFrame:
    """CUSTOM STATEFUL streaming operator (applyInPandasWithState): a
    first-seen ledger over the streaming ``(key, doc_id)`` rows. Each
    micro-batch updates per-key GroupState (running count + smallest
    doc_id). Returns the update-mode memory sink, which holds one
    ``(key, count_col, keep_id)`` row per key PER BATCH that touched it;
    the final ledger row per key is the max count / min keep_id. State
    is bounded by distinct keys; at crawl scale a TTL timeout
    (GroupStateTimeout) ages out cold keys."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(k, pdfs, state):
        count, min_id = state.get if state.exists else (0, None)
        for pdf in pdfs:
            count += len(pdf)
            batch_min = int(pdf["doc_id"].min())
            min_id = batch_min if min_id is None else min(min_id, batch_min)
        state.update((count, min_id))
        yield pd.DataFrame([{key: k[0], count_col: count, "keep_id": min_id}])

    updates = keyed.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=f"{key} string, {count_col} long, keep_id long",
        stateStructType="count long, min_id long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_available_now(updates, "update")


def streaming_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first-seen dedup ledger keyed on the 5-word-prefix dedup key.
    The input is a split scratch stream, so state genuinely persists
    ACROSS micro-batches (an availableNow run executes N_INPUT_FILES
    sequential batches). The final ledger equals the batch dedup_exact
    aggregate — which is what makes this oracle-checkable."""
    docs = read(spark, f"{sf_dir}/documents.parquet").select(
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 5)).alias("dedup_key"),
        "doc_id",
    )
    ledger = _first_seen_ledger(
        _split_stream(docs, F.pmod("doc_id", F.lit(N_INPUT_FILES))),
        "dedup_key", "n_dups",
    )
    return ledger.groupBy("dedup_key").agg(
        F.max("n_dups").alias("n_dups"), F.min("keep_id").alias("keep_id")
    )


def url_dedup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous crawl-ingest dedup: the codegen canonical_url chain
    applied INSIDE a stream (expression chains work unchanged on
    streaming DataFrames), feeding the same first-seen GroupState
    ledger as streaming_dedup_state but keyed on the canonical URL —
    what a live crawler runs to skip re-fetched resources. The input is
    a split scratch stream, so state persists across micro-batches; the
    final ledger equals the batch url_dedup_counts aggregate (the
    oracle)."""
    from .ops.webtext import _raw_url_expr, canonical_url

    docs = read(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    split = _split_stream(docs, F.pmod("doc_id", F.lit(N_INPUT_FILES)))
    canon = split.select(
        canonical_url(_raw_url_expr()).alias("canon_url"), "doc_id"
    )
    ledger = _first_seen_ledger(canon, "canon_url", "n_docs")
    return ledger.groupBy("canon_url").agg(
        F.max("n_docs").alias("n_docs"), F.min("keep_id").alias("keep_id")
    )


def frontier_schedule_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    span = hi // N_INPUT_FILES + 1
    stream = _split_stream(allowed, F.expr(f"doc_id div {span}"))

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
    return run_available_now(updates, "update")


def session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE streaming session windows (F.session_window): Spark's
    merging-window state machine, vs sessionize_events' batch
    lag/cumsum formulation of the same sessions. Window semantics are
    half-open — an event exactly SESSION_GAP_MINUTES after the previous
    one starts a NEW session (the DuckDB oracle mirrors with
    `diff >= gap`). Timezone handling matches windowed_event_counts."""
    gap = f"{SESSION_GAP_MINUTES} minutes"
    return _utc_events_pass(spark, sf_dir, lambda events: (
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
    ))


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        F.when(gap.isNull() | (gap >= SESSION_GAP_MINUTES * 60), 1).otherwise(0),
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
