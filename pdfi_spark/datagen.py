"""Synthesize the engine-facing ``documents`` table.

Produces exactly the BASELINE.json input_hint shape:
    url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING
deterministically from the driver's testdata documents table: per row, a
synthetic PDF (``pdfi_spark.core.pdfgen``) embeds the row's text; the
``text`` column keeps the *expected* extracted string as the golden.

Generation happens distributed (mapInPandas), so building the bench corpus
scales with the cluster just like extraction does.
"""
from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._rows import map_rows
from .core.pdfgen import ORACLE_PER_BLOCK, RECIPES, build_pdf

DOCUMENTS_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
_EPOCH = datetime.datetime(2020, 1, 1)

# deterministic recipe mix for realistic corpora (bench / skew tiers)
MIXED_RECIPES = [
    "simple", "flate", "flate", "flate",  # flate dominates real PDFs
    "xref_stream", "tj_kerning", "type0_cmap", "multistream",
    "positioning", "differences",
]


def url_for(doc_id: int) -> str:
    return f"https://example.org/doc/{doc_id:08d}.pdf"


def build_documents(spark: SparkSession, sf_dir: str, recipe: str = "flate",
                    per_block: int = ORACLE_PER_BLOCK,
                    skew: bool = False, replicate: int = 1,
                    n_partitions: int | None = None) -> DataFrame:
    """documents.parquet(doc_id, text, lang, ...) -> input_hint table.

    recipe='mixed' rotates through MIXED_RECIPES by doc_id. With
    skew=True, every 100th document carries a ~50x-repeated text payload
    (multipage recipe), exercising the salted-repartition path.
    ``replicate=k`` fans each source row out to k distinct urls
    (deterministic doc_id = id*k+rep) to scale bench corpora beyond the
    driver's testdata row counts.
    """
    from .ops._scan import read

    base = read(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text", "lang")
    if replicate > 1:
        base = (
            base.withColumn(
                "rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1)))
            )
            .withColumn("doc_id", F.col("doc_id") * replicate + F.col("rep"))
            .drop("rep")
        )

    if n_partitions:
        # fan out BEFORE generation: the shuffle moves small (doc_id,
        # text) rows and the PDF build parallelizes across n_partitions
        # tasks (repartitioning after would shuffle the generated blobs
        # and leave generation bound by the source file count)
        base = base.repartition(n_partitions)

    def generate(doc_id, text, lang):
        doc_id = int(doc_id)
        if skew and doc_id % 100 == 0:
            big_text = " ".join([text] * 50)
            pdf, expected = build_pdf(big_text, "multipage", per_block=40)
        elif recipe == "heavy":
            # realistic crawl-document weight: ~30 KB multi-page
            # PDFs (~29 ms/doc) so per-doc work dominates fixed
            # per-row JVM/Arrow costs, as it does on real corpora
            big_text = " ".join([text] * 10)
            pdf, expected = build_pdf(big_text, "multipage", per_block=40)
        elif recipe == "mixed":
            r = MIXED_RECIPES[doc_id % len(MIXED_RECIPES)]
            pdf, expected = build_pdf(text, r, per_block=per_block)
        else:
            pdf, expected = build_pdf(text, recipe, per_block=per_block)
        yield (url_for(doc_id), _EPOCH + datetime.timedelta(seconds=doc_id),
               pdf, expected, lang)

    return map_rows(base, generate, DOCUMENTS_SCHEMA)


def build_documents_with_id(spark: SparkSession, sf_dir: str, recipe: str,
                            per_block: int = ORACLE_PER_BLOCK) -> DataFrame:
    """Like build_documents but keyed by doc_id (for oracle joins)."""
    from .ops._scan import read

    base = read(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")

    def generate(doc_id, text):
        yield doc_id, *build_pdf(text, recipe, per_block=per_block)

    return map_rows(base, generate, "doc_id long, html binary, expected string")


def materialize_corpus(spark: SparkSession, sf_dir: str, out_path: str,
                       recipe: str = "mixed", skew: bool = False,
                       n_files: int = 32, replicate: int = 1) -> str:
    """Write the synthetic corpus once; bench runs then only measure
    scan+extract, not generation."""
    df = build_documents(spark, sf_dir, recipe=recipe, skew=skew,
                         replicate=replicate, n_partitions=n_files)
    df.write.mode("overwrite").parquet(out_path)
    return out_path
