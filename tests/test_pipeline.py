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
    # the reader hands Spark OUTPUT_SCHEMA: exactly what Spark infers
    inferred = spark.read.option("basePath", out).parquet(f"{out}/bucket=*")
    assert extracted.schema.jsonValue() == inferred.schema.jsonValue()
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
    # written; the output directory must still read back, as no rows
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


def test_wave_writes_one_file_per_bucket(spark, documents, tmp_path):
    # every read task holds rows of every bucket; the wave's write must
    # still leave one parquet file per bucket, not one per task
    out = str(tmp_path / "files")
    run_pipeline(spark, documents.repartition(4), out, n_buckets=4)
    bucket_dirs = sorted(d for d in os.listdir(out) if d.startswith("bucket="))
    assert bucket_dirs == [f"bucket={b}" for b in range(4)]
    for d in bucket_dirs:
        files = [f for f in os.listdir(os.path.join(out, d))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    assert read_extracted(spark, out).count() == documents.count()


def test_lineage_counts_match_the_output(spark, documents, tmp_path):
    # a malformed PDF and a NULL payload make n_errors > 0; 256 buckets
    # over ~500 documents leave some buckets empty. A NULL payload takes
    # about a microsecond, which rounds to 0.000 ms; its url puts it in a
    # bucket with three documents, so that bucket's p50 is a real one.
    bad = spark.createDataFrame(
        [("bad.pdf", b"%PDF-1.4 not really"), ("null-1.pdf", None)],
        "url string, html binary",
    )
    corpus = documents.select("url", "html").unionByName(bad)
    out = str(tmp_path / "lineage")
    summary = run_pipeline(spark, corpus, out, n_buckets=256)
    assert summary["n_errors"] == 2

    expected = {
        r["bucket"]: r for r in read_extracted(spark, out).groupBy("bucket").agg(
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum("_nbytes"), F.lit(0)).alias("n_bytes"),
            F.count("error").alias("n_errors"),
        ).collect()
    }
    metrics = CheckpointStore(out).metrics()
    assert sorted(m["bucket"] for m in metrics) == list(range(256))
    assert any(m["n_docs"] == 0 for m in metrics)
    for m in metrics:
        want = expected.get(m["bucket"])
        if want is None:
            assert (m["n_docs"], m["n_bytes"], m["n_errors"]) == (0, 0, 0)
            assert m["p50_ms"] is None and m["p99_ms"] is None
            continue
        assert (m["n_docs"], m["n_bytes"], m["n_errors"]) == (
            want["n_docs"], want["n_bytes"], want["n_errors"])
        assert 0 < m["p50_ms"] <= m["p99_ms"]


def test_one_row_input_commits_every_bucket(spark, documents, tmp_path):
    out = str(tmp_path / "one_row")
    one = documents.select("url", "html").limit(1)
    summary = run_pipeline(spark, one, out, n_buckets=16)
    assert summary["n_docs"] == 1
    metrics = CheckpointStore(out).metrics()
    assert sorted(m["bucket"] for m in metrics) == list(range(16))
    assert [m["n_docs"] for m in metrics].count(1) == 1
    assert sum(m["n_docs"] for m in metrics) == 1
    assert read_extracted(spark, out).count() == 1


def test_null_payload_commits_as_an_error_row(spark, tmp_path):
    # the commit path shares extract_record's containment: the NULL row
    # is written, with a NULL size and the error text, and its bucket's
    # lineage agrees with JVM-side aggregates over the input
    from pdfi_spark.core.pdfgen import build_pdf

    pdf, expected = build_pdf("alpha doc", "simple")
    df = spark.createDataFrame([("null.pdf", None), ("ok.pdf", pdf)],
                               "url string, html binary")
    out = str(tmp_path / "nulls")
    summary = run_pipeline(spark, df, out, n_buckets=1)
    assert (summary["n_docs"], summary["n_errors"]) == (2, 1)
    rows = {r["url"]: r for r in read_extracted(spark, out).collect()}
    assert rows["null.pdf"]["_nbytes"] is None
    assert rows["null.pdf"]["text"] is None
    assert rows["null.pdf"]["error"] == "TypeError: null payload"
    assert rows["ok.pdf"]["_nbytes"] == len(pdf)
    assert rows["ok.pdf"]["text"] == expected
    assert rows["ok.pdf"]["error"] is None

    [m] = CheckpointStore(out).metrics()
    assert m["n_bytes"] == df.selectExpr("sum(length(html))").first()[0]
    assert m["n_errors"] == read_extracted(spark, out).selectExpr(
        "count_if(error IS NOT NULL)").first()[0]
