"""Structured Streaming tests: streaming extraction equals batch output;
watermarked window aggregation equals the batch GROUP BY; sessionization
is gap-correct."""
import pytest
from pyspark.sql import functions as F

from pdfi_spark.datagen import build_documents
from pdfi_spark.pipeline import extract_text
from pdfi_spark.streaming import (
    extract_stream,
    sessionize_events,
    windowed_event_counts,
)

SF = "/root/testdata/sf0.001"


def test_extract_stream_matches_batch(spark, tmp_path):
    docs = build_documents(spark, SF, recipe="flate")
    input_dir = str(tmp_path / "stream_in")
    docs.write.parquet(input_dir)

    streamed = extract_stream(
        spark, input_dir, checkpoint_dir=str(tmp_path / "ckpt"),
    ).toPandas().sort_values("url").reset_index(drop=True)

    batch = (
        extract_text(spark.read.parquet(input_dir), payload_col="html")
        .toPandas().sort_values("url").reset_index(drop=True)
    )
    assert len(streamed) == len(batch) == 500
    assert (streamed["text"] == batch["text"]).all()
    assert streamed["error"].isna().all()


def _windowed_batch(spark, sf):
    return (
        spark.read.parquet(f"{sf}/events.parquet")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "sum_value")
    )


def _assert_windowed_equal(streamed, batch):
    s = streamed.toPandas().sort_values(["window_start", "event_type"]).reset_index(drop=True)
    b = batch.toPandas().sort_values(["window_start", "event_type"]).reset_index(drop=True)
    assert len(s) == len(b) > 0
    assert (s["n_events"].values == b["n_events"].values).all()
    assert (s["sum_value"].values == b["sum_value"].values).all()


def test_windowed_event_counts_match_batch(spark):
    sf = "/root/testdata/sf0.01"
    _assert_windowed_equal(windowed_event_counts(spark, sf), _windowed_batch(spark, sf))


def test_streaming_operator_twice_in_one_session(spark):
    """Each run names its own memory sink: a second run over another
    input leaves the first run's frame reading the first result."""
    small, large = SF, "/root/testdata/sf0.01"
    first = windowed_event_counts(spark, small)
    _assert_windowed_equal(first, _windowed_batch(spark, small))
    second = windowed_event_counts(spark, large)
    _assert_windowed_equal(second, _windowed_batch(spark, large))
    _assert_windowed_equal(first, _windowed_batch(spark, small))
    n_events = [f.agg(F.sum("n_events")).first()[0] for f in (first, second)]
    assert n_events[0] != n_events[1]


def test_sessionize_events_gap_semantics(spark):
    sessions = sessionize_events(spark, "/root/testdata/sf0.01")
    pdf = sessions.toPandas()
    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    assert pdf["n_events"].sum() == events.count()
    # session ids are 1..k contiguous per user
    per_user = pdf.groupby("user_id")["session_seq"]
    assert (per_user.min() == 1).all()
    assert (per_user.max() == per_user.nunique()).all()
    # spot-check one user's gap boundaries against a manual fold
    uid = int(pdf["user_id"].iloc[0])
    rows = (
        events.filter(F.col("user_id") == uid)
        .select(F.col("ts").cast("timestamp_ltz").cast("long").alias("tsec"))
        .orderBy("ts", "event_id").collect()
    )
    n_sessions = 1 + sum(
        1 for a, b in zip(rows, rows[1:]) if b["tsec"] - a["tsec"] > 1800
    )
    assert n_sessions == int(pdf[pdf["user_id"] == uid]["session_seq"].max())


def test_streaming_dedup_state_matches_batch_and_spans_batches(spark, monkeypatch):
    from pdfi_spark import streaming

    raw_sinks = []
    ledger_fn = streaming._first_seen_ledger

    def recording_ledger(*args):
        raw_sinks.append(ledger_fn(*args))
        return raw_sinks[-1]

    monkeypatch.setattr(streaming, "_first_seen_ledger", recording_ledger)
    ledger = streaming.streaming_dedup_state(spark, SF)
    dedup_key = F.concat_ws(" ", F.slice(F.split("text", " "), 1, 5)).alias("dedup_key")
    batch = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .groupBy(dedup_key)
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_id"))
    )
    assert ledger.exceptAll(batch).count() == 0
    assert batch.exceptAll(ledger).count() == 0
    # the ledger's update-mode sink re-emits a key's row in every
    # micro-batch that touches it: with N_INPUT_FILES input files there
    # must be keys emitted >1 time, proving state persisted across
    # micro-batches of the operator's own run
    [raw] = raw_sinks
    emissions = raw.groupBy("dedup_key").count()
    assert emissions.filter("count > 1").count() > 0
