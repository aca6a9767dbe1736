"""spark-submit entrypoint for the extraction pipeline.

Production launch (north rule: spark-submit --py-files at scale):

    python tools/make_pyfiles.py                      # builds .bench/pdfi_spark.zip
    spark-submit --master <cluster> \
        --py-files .bench/pdfi_spark.zip \
        --conf spark.sql.execution.arrow.maxRecordsPerBatch=64 \
        pdfi_spark/job.py \
        --input  <documents parquet/Iceberg path> \
        --output <extracted parquet/Iceberg path> \
        --run-id run42 --buckets 4096 --wave-size 64

The workers import pdfi_spark from the zip's path on the submitting
host (``make_spark`` puts it on their PYTHONPATH), so on a cluster the
zip must sit at that path on every worker host, or the cluster manager
must ship it (YARN puts --py-files on the executors' PYTHONPATH).

The job is kill-safe: rerunning with the same --output resumes from the
bucket-commit manifest (see pipeline.run_pipeline). On a real cluster
--buckets should be ~2-4x total executor cores. --wave-size bounds the
blast radius of a failure between commits, and also the files a wave
writes: each wave writes about one parquet file per bucket, so about
--wave-size files.
"""
from __future__ import annotations

import argparse
import json


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--wave-size", type=int, default=None)
    ap.add_argument("--payload-col", default="html")
    ap.add_argument("--input-format", choices=["parquet", "binaryfile"],
                    default="parquet",
                    help="binaryfile reads raw *.pdf files from a directory "
                         "tree (url=path, html=content)")
    args = ap.parse_args()

    from pdfi_spark.pipeline import make_spark, read_pdf_files, run_pipeline

    spark = make_spark("pdfi-extract")
    if args.input_format == "binaryfile":
        if args.payload_col != "html":
            ap.error("--payload-col conflicts with --input-format "
                     "binaryfile (that source always emits 'html')")
        documents = read_pdf_files(spark, args.input)
    else:
        # the production input: a directory or remote prefix of many files,
        # whose schema Spark infers once per run (no footer to read locally)
        documents = spark.read.parquet(args.input)
    summary = run_pipeline(
        spark, documents, args.output, run_id=args.run_id,
        n_buckets=args.buckets, wave_size=args.wave_size,
        payload_col=args.payload_col,
    )
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    import sys

    sys.exit(main())
