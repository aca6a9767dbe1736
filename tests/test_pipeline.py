"""Checkpointed-pipeline tests: bucket commit, kill-and-resume, skew tier.

These verify the north-rule mechanics: per-bucket lineage + metrics, a
resumed run skipping committed buckets, and correctness over the skewed
corpus (1% of documents ~50x size) that exercises salted repartitioning.
"""
import json
import os

import pytest
from pyspark.sql import functions as F

from pdfi_spark.datagen import build_documents
from pdfi_spark.pipeline import (
    CheckpointStore,
    extract_text,
    read_extracted,
    run_pipeline,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    df = build_documents(spark, SF, recipe="mixed")
    df.cache().count()
    return df


def test_run_pipeline_commits_all_buckets(spark, documents, tmp_path):
    out = str(tmp_path / "out")
    summary = run_pipeline(spark, documents, out, n_buckets=4, wave_size=2)
    assert summary["buckets_skipped"] == 0
    assert summary["n_docs"] == documents.count()
    assert summary["n_errors"] == 0

    store = CheckpointStore(out)
    metrics = store.metrics()
    assert {m["bucket"] for m in metrics} == {0, 1, 2, 3}
    for m in metrics:
        assert m["n_bytes"] > 0 and m["wall_ms"] >= 0 and m["run_id"] == "run0"
        # observed latency/error metrics (computed on the write action,
        # never by re-reading the output)
        assert m["error_rate"] == 0.0
        assert m["p50_ms"] > 0 and m["p99_ms"] >= m["p50_ms"]

    extracted = read_extracted(spark, out)
    golden = documents.select("url", F.col("text").alias("expected"))
    mismatches = (
        extracted.join(golden, "url")
        .filter(F.col("text") != F.col("expected"))
        .count()
    )
    assert mismatches == 0
    assert extracted.count() == documents.count()


def test_resume_skips_committed_buckets(spark, documents, tmp_path):
    out = str(tmp_path / "out")
    run_pipeline(spark, documents, out, n_buckets=4, wave_size=4)

    # simulate a kill after 2 of 4 bucket commits
    store = CheckpointStore(out)
    committed = store.metrics()[:2]
    with open(store.manifest_path, "w", encoding="utf-8") as f:
        for row in committed:
            f.write(json.dumps(row) + "\n")

    summary = run_pipeline(spark, documents, out, run_id="run1",
                           n_buckets=4, wave_size=4)
    assert summary["buckets_skipped"] == 2
    # the resumed run only processed the other two buckets
    resumed = [m for m in store.metrics() if m["run_id"] == "run1"]
    assert {m["bucket"] for m in resumed} == {0, 1, 2, 3} - {
        m["bucket"] for m in committed
    }
    # and the final output covers every document exactly once
    extracted = read_extracted(spark, out)
    assert extracted.count() == documents.count()
    assert extracted.select("url").distinct().count() == documents.count()


def test_fully_committed_run_is_a_noop(spark, documents, tmp_path):
    out = str(tmp_path / "out")
    run_pipeline(spark, documents, out, n_buckets=2)
    summary = run_pipeline(spark, documents, out, run_id="run2", n_buckets=2)
    assert summary["buckets_skipped"] == 2
    assert summary["n_docs"] == 0


def test_skewed_corpus_extracts_correctly(spark):
    docs = build_documents(spark, SF, recipe="mixed", skew=True)
    extracted = extract_text(docs, payload_col="html", n_partitions=8)
    golden = docs.select("url", F.col("text").alias("expected"))
    joined = extracted.join(golden, "url").cache()
    assert joined.filter(F.col("error").isNotNull()).count() == 0
    assert joined.filter(F.col("text") != F.col("expected")).count() == 0
    # the skew tier really is skewed: largest payload >> median
    sizes = docs.select(F.length("html").alias("n")).agg(
        F.max("n").alias("mx"), F.percentile_approx("n", 0.5).alias("md")
    ).collect()[0]
    assert sizes["mx"] > 10 * sizes["md"]
    joined.unpersist()


def test_binaryfile_source_extracts(spark, tmp_path):
    from pdfi_spark.core.pdfgen import build_pdf
    from pdfi_spark.pipeline import read_pdf_files

    pdf_dir = tmp_path / "pdfs" / "nested"
    pdf_dir.mkdir(parents=True)
    expected = {}
    for i, text in enumerate(["alpha doc", "beta doc", "gamma doc"]):
        pdf, exp = build_pdf(text, "simple", per_block=1_000_000)
        (pdf_dir / f"doc{i}.pdf").write_bytes(pdf)
        expected[f"doc{i}.pdf"] = exp
    # a non-matching file must be ignored by the glob
    (pdf_dir / "notes.txt").write_text("not a pdf")

    docs = read_pdf_files(spark, str(tmp_path / "pdfs"))
    extracted = extract_text(docs, payload_col="html")
    rows = {r["url"].rsplit("/", 1)[-1]: r["text"] for r in extracted.collect()}
    assert rows == expected


def test_empty_run_reads_back_as_empty_frame(spark, tmp_path):
    # no rows -> every bucket commits empty and no bucket= directory is
    # written; reading the output back must not fail on the missing glob
    out = str(tmp_path / "empty")
    empty = spark.createDataFrame([], "url string, html binary")
    summary = run_pipeline(spark, empty, out, n_buckets=16)
    assert summary["n_docs"] == 0
    assert len(CheckpointStore(out).committed_buckets()) == 16
    extracted = read_extracted(spark, out)
    assert extracted.count() == 0
    # the schema a non-empty output reads back with
    assert extracted.schema.simpleString() == (
        "struct<url:string,text:string,n_pages:int,n_chars:int,"
        "error:string,_nbytes:int,bucket:int>")


def test_multiwave_survives_static_overwrite_session(spark, documents, tmp_path):
    # a session NOT built by make_spark defaults to STATIC partition
    # overwrite, under which wave 2's path overwrite would wipe wave 1's
    # buckets; run_pipeline must pin dynamic itself (and restore after)
    out = str(tmp_path / "static_mode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        summary = run_pipeline(spark, documents, out, n_buckets=4, wave_size=1)
        assert summary["n_docs"] == documents.count()
        assert read_extracted(spark, out).count() == documents.count()
        assert len(CheckpointStore(out).committed_buckets()) == 4
        # the caller's setting is restored, not clobbered
        assert spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode") == "static"
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")


def test_null_payload_is_contained(spark):
    df = spark.createDataFrame(
        [("u1", None), ("u2", b"not a pdf")], "url string, html binary"
    )
    rows = {r["url"]: r for r in extract_text(df, payload_col="html").collect()}
    assert rows["u1"]["error"] == "TypeError: null payload"
    assert rows["u1"]["text"] is None
    assert rows["u2"]["error"] is not None  # malformed, contained too
