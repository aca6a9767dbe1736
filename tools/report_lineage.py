"""Report the BASELINE.md protocol's secondary numbers (line 38):
bytes/sec, error-row rate, and p50/p99 per-document latency — all from
the checkpointed pipeline's per-bucket lineage manifest (the Observation
metrics that ride on the write job itself; pipeline.py:304-382).

Two runs over the mixed sf0.1 corpus (100k docs, local[32]):
1. clean — throughput + latency percentiles, error rate must be 0;
2. corrupted — every 7th doc's PDF truncated to 50 bytes (the
   extract_corrupt recipe): the error rate must be exactly the planted
   fraction, errors contained to rows, and throughput barely moves
   (truncated docs fail fast).

Writes .bench/lineage_metrics.json and splices '## Pipeline lineage
metrics' into BASELINE.md (before the bench_scaling-owned
'## Measured results').

Usage: python tools/report_lineage.py
"""
from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_once(spark, docs, n_docs):
    from pdfi_spark.pipeline import CheckpointStore, run_pipeline

    out = tempfile.mkdtemp(prefix="pdfi_lineage_")
    try:
        t0 = time.monotonic()
        summary = run_pipeline(spark, docs, out, n_buckets=16, wave_size=8)
        wall = time.monotonic() - t0
        rows = CheckpointStore(out).metrics()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    n_bytes = sum(r["n_bytes"] for r in rows)
    n_errors = sum(r["n_errors"] for r in rows)
    p50s = [r["p50_ms"] for r in rows if r["p50_ms"] is not None]
    p99s = [r["p99_ms"] for r in rows if r["p99_ms"] is not None]
    assert summary["n_docs"] == n_docs
    return {
        "wall_sec": round(wall, 3),
        "docs_per_sec": round(n_docs / wall, 1),
        "bytes_per_sec": round(n_bytes / wall, 1),
        "mb_per_sec": round(n_bytes / wall / 1e6, 2),
        "n_bytes": n_bytes,
        "n_errors": n_errors,
        "error_rate": round(n_errors / n_docs, 6),
        "p50_ms_median_bucket": round(statistics.median(p50s), 3),
        "p99_ms_median_bucket": round(statistics.median(p99s), 3),
        "p99_ms_max_bucket": round(max(p99s), 3),
    }


def main() -> int:
    from pyspark.sql import functions as F

    from pdfi_spark.datagen import materialize_corpus
    from pdfi_spark.pipeline import make_spark

    corpus = os.path.join(REPO, ".bench", "corpus_sf0.1_mixed_x20")
    spark = make_spark("lineage", master="local[32]", shuffle_partitions=32)
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        materialize_corpus(spark, "/root/testdata/sf0.1", corpus,
                           recipe="mixed", n_files=64, replicate=20)
    docs = spark.read.parquet(corpus)
    n_docs = docs.count()

    run_once(spark, docs, n_docs)  # codegen warm-up, discarded
    clean = run_once(spark, docs, n_docs)
    assert clean["n_errors"] == 0, clean

    corrupted_docs = docs.select(
        "url",
        F.when(
            F.xxhash64("url") % 7 == 0, F.expr("substring(html, 1, 50)")
        ).otherwise(F.col("html")).alias("html"),
    )
    planted = corrupted_docs.filter(F.xxhash64("url") % 7 == 0).count()
    corrupted = run_once(spark, corrupted_docs, n_docs)
    assert corrupted["n_errors"] == planted, (corrupted, planted)

    result = {"n_docs": n_docs, "clean": clean,
              "corrupted": corrupted, "planted_corrupt": planted}
    os.makedirs(os.path.join(REPO, ".bench"), exist_ok=True)
    with open(os.path.join(REPO, ".bench", "lineage_metrics.json"), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))

    section = (
        "## Pipeline lineage metrics (tools/report_lineage.py)\n\n"
        "The protocol's secondary numbers, read back from the per-bucket "
        "lineage manifest the checkpointed pipeline commits (Observation "
        "aggregates on the write job itself — the output is never "
        f"re-read). Mixed sf0.1 corpus, {n_docs:,} docs, 16 buckets, "
        "local[32]:\n\n"
        "| run | docs/sec | MB/sec | error rate | per-doc p50 ms "
        "(median bucket) | p99 ms (median / max bucket) |\n"
        "|---|---|---|---|---|---|\n"
        f"| clean | {clean['docs_per_sec']:,} | {clean['mb_per_sec']} | "
        f"{clean['error_rate']} | {clean['p50_ms_median_bucket']} | "
        f"{clean['p99_ms_median_bucket']} / {clean['p99_ms_max_bucket']} |\n"
        f"| 1-in-7 truncated PDFs | {corrupted['docs_per_sec']:,} | "
        f"{corrupted['mb_per_sec']} | {corrupted['error_rate']} | "
        f"{corrupted['p50_ms_median_bucket']} | "
        f"{corrupted['p99_ms_median_bucket']} / "
        f"{corrupted['p99_ms_max_bucket']} |\n\n"
        f"The corrupted run plants {planted:,} truncated payloads "
        f"(xxhash64(url) % 7) and the manifest reports exactly that many "
        "error rows — errors are contained to rows (never task "
        "failures), and throughput holds because truncated documents "
        "fail fast in the parser's containment path.\n"
    )
    path = os.path.join(REPO, "BASELINE.md")
    with open(path, encoding="utf-8") as f:
        text = f.read()
    if "## Pipeline lineage metrics" in text:
        text = re.sub(r"## Pipeline lineage metrics.*?(?=\n## )",
                      section + "\n", text, flags=re.S)
    else:
        text = text.replace("## Measured results",
                            section + "\n## Measured results", 1)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
    print("BASELINE.md updated")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
