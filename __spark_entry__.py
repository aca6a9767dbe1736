"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship extraction pipeline at sf0.001;
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (extraction recipes) plus the training-data operators
(dedup / similarity / text analysis); ``oracle_sql()`` gives the DuckDB
twin for every query so the driver's correctness gate can hash-compare
results at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdfi_spark import ops, streaming
from pdfi_spark._rows import map_rows
from pdfi_spark.core.api import read_pdf
from pdfi_spark.core.pdfgen import ORACLE_EXPECTED_SQL, ORACLE_PER_BLOCK, build_pdf
from pdfi_spark.datagen import build_documents, build_documents_with_id
from pdfi_spark.ops._scan import read
from pdfi_spark.ops.dedup import MINHASH_LANE_OFFSETS, SIMHASH_BITS
from pdfi_spark.ops.similarity import (
    IVF_NPROBE, LLOYD_ITERS, LSH_PLANES, N_CENTROIDS, PQ_TOPK, QUERY_VEC_ID,
    SEMDEDUP_TAU, SIM_TOPK,
)
from pdfi_spark.ops.textstats import BPE_ISH_RE, EN_STOPWORDS
from pdfi_spark.pipeline import extract_text

SF0001 = "/root/testdata/sf0.001"


def _load_handmade() -> dict:
    """tests/fixtures_handmade.HANDMADE, importable from the repo root
    (single definition — the query and its oracle must load the SAME
    fixture dict or the hash gate fails confusingly)."""
    import os
    import sys

    fixtures_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests")
    if fixtures_dir not in sys.path:
        sys.path.insert(0, fixtures_dir)
    from fixtures_handmade import HANDMADE

    return HANDMADE


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize the Common-Crawl-style documents table (mixed
    PDF recipes), run the salted mapInPandas extraction, and return
    extracted rows where the output matched the golden text."""
    # deliberate session pin (the driver collects lazily, so there is no
    # safe restore point): 1024 is the measured sweet spot for the ~KB
    # docs every gate query ships over Arrow (CLAUDE.md; 64 is only for
    # multi-MB payload paths, which set their own)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
    # generated docs feed BOTH self-join sides below — materialize once
    # (subtree-reuse rule) or every PDF builds twice
    documents = build_documents(spark, SF0001, recipe="mixed") \
        .localCheckpoint(eager=True)
    extracted = extract_text(documents, payload_col="html", n_partitions=8)
    golden = documents.select("url", F.col("text").alias("expected"))
    return (
        extracted.join(golden, "url")
        .select(
            "url",
            "text",
            "n_pages",
            "n_chars",
            "error",
            (F.col("text") == F.col("expected")).alias("matches_golden"),
        )
    )


# ---------------------------------------------------------------------------
# extraction queries: one per PDF-generator recipe (SURVEY.md §2 operators)
# ---------------------------------------------------------------------------

def _payload(spark: SparkSession, sf_dir: str, recipe: str) -> DataFrame:
    """The oracle corpus generated with ``recipe``, as extraction input:
    ``doc_id`` cast to a ``url`` string, plus the ``html`` payload."""
    docs = build_documents_with_id(spark, sf_dir, recipe, per_block=ORACLE_PER_BLOCK)
    return docs.select(F.col("doc_id").cast("string").alias("url"), "html")


def _extract_query(recipe: str) -> Callable[[SparkSession, str], DataFrame]:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        extracted = extract_text(_payload(spark, sf_dir, recipe), payload_col="html")
        return extracted.select(F.col("url").cast("long").alias("doc_id"), "text")

    return q


def _extract_meta_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    extracted = extract_text(_payload(spark, sf_dir, "simple"), payload_col="html")
    return extracted.select(
        F.col("url").cast("long").alias("doc_id"), "n_pages", "n_chars"
    )


def _extract_errors_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    extracted = extract_text(_payload(spark, sf_dir, "flate"), payload_col="html")
    return extracted.agg(
        F.count("*").alias("n_docs"),
        F.count_if(F.col("error").isNotNull()).alias("n_errors"),
    )


def _extract_sections_struct_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'paper' output type as a STRUCTURED column:
    sections array<struct<title, paragraphs>> produced in the UDF, then
    exploded JVM-side with posexplode (SURVEY.md §1.1 'Paper' mapping)."""
    docs = build_documents_with_id(
        spark, sf_dir, "sections_oracle", per_block=ORACLE_PER_BLOCK
    ).select("doc_id", "html")

    def probe(doc_id, html):
        paper = read_pdf(bytes(html), type="paper")
        yield doc_id, [(s["title"], s["paragraphs"]) for s in paper["sections"]]

    structured = map_rows(
        docs, probe,
        "doc_id long, "
        "sections array<struct<title: string, paragraphs: array<string>>>",
    )
    exploded = structured.select(
        "doc_id", F.posexplode("sections").alias("section_idx", "sec")
    )
    return exploded.select(
        "doc_id",
        "section_idx",
        F.col("sec.title").alias("title"),
        F.size("sec.paragraphs").alias("n_paragraphs"),
        F.element_at("sec.paragraphs", 1).alias("first_paragraph"),
    )


def _extract_corrupt_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error containment (north rule: malformed rows must produce error
    rows, never fail the task — the reference hard-throws instead,
    /root/reference/parsers/machine.ts:61-64): every 7th payload is
    truncated to 50 bytes; those rows must yield error!=NULL and the
    rest extract normally."""
    docs = build_documents_with_id(spark, sf_dir, "simple", per_block=ORACLE_PER_BLOCK)
    corrupted = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.when(
            F.col("doc_id") % 7 == 0, F.expr("substring(html, 1, 50)")
        ).otherwise(F.col("html")).alias("html"),
    )
    extracted = extract_text(corrupted, payload_col="html")
    return extracted.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("error").isNotNull().alias("is_error"),
    )


def _extract_handmade_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-assembled whole-PDF fixtures (tests/fixtures_handmade.py —
    NOT pdfgen output) through the distributed extraction path: multi-
    trailer /Prev chain, mismatched-byteLength CMap, indirect /Length,
    multi-subsection xref. Expected strings are frozen constants."""
    rows = [(name, pdf)
            for name, (pdf, _expected) in sorted(_load_handmade().items())]
    docs = spark.createDataFrame(rows, "url string, html binary")
    extracted = extract_text(docs, payload_col="html")
    return extracted.select(F.col("url").alias("fixture"), "text")


def _info_metadata_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailer /Info dictionary decode: /Title is UTF-16BE with BOM
    (decodeBuffer's BOM branch keeps U+FEFF, exactly like the
    reference's Node utf16le decode), /Author is PDFDocEncoding."""
    docs = build_documents_with_id(
        spark, sf_dir, "info_unicode", per_block=ORACLE_PER_BLOCK
    ).select("doc_id", "html")

    def probe(doc_id, html):
        info = read_pdf(bytes(html), type="metadata")["Info"]
        yield doc_id, info["Title"], info["Author"]

    return map_rows(docs, probe, "doc_id long, title string, author string")


def _metadata_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailer metadata probe (readSourceSync type='metadata' analog)."""
    docs = build_documents_with_id(
        spark, sf_dir, "simple", per_block=ORACLE_PER_BLOCK
    ).select("doc_id", "html")

    def probe(doc_id, html):
        yield doc_id, int(read_pdf(bytes(html), type="metadata")["Size"])

    return map_rows(docs, probe, "doc_id long, trailer_size int")


def _xref_count_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-reference enumeration (readSourceSync type='xref' analog),
    over the PDF-1.5 xref-stream + ObjStm corpus."""
    docs = build_documents_with_id(
        spark, sf_dir, "xref_stream", per_block=ORACLE_PER_BLOCK
    ).select("doc_id", "html")

    def probe(doc_id, html):
        yield doc_id, len(read_pdf(bytes(html), type="xref"))

    return map_rows(docs, probe, "doc_id long, n_xrefs int")


# constants for the metadata/xref oracles, derived from the generator
_SIMPLE_TRAILER_SIZE = read_pdf(build_pdf("probe text", "simple")[0], type="metadata")["Size"]
_XREFSTREAM_N_XREFS = len(read_pdf(build_pdf("probe text", "xref_stream")[0], type="xref"))


WORDS_PER_LINE = 8


def _layout_lines_window_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exploded-DataFrame layout variant (SURVEY.md §7.0/§2.7 demo):
    spans become ROWS and line grouping becomes Spark window functions —
    lag(minY) -> gap flag -> running sum -> session id -> groupBy.
    Runs on the word-grid recipe whose span geometry is exactly
    derivable from the input text in plain SQL."""
    from pyspark.sql import Window

    from pdfi_spark.core.api import extract_spans
    from pdfi_spark.core.pdfgen import build_pdf

    base = read(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")

    def word_spans(doc_id, text):
        pdf, _ = build_pdf(text, "word_grid", per_block=WORDS_PER_LINE)
        for s in extract_spans(pdf):
            yield doc_id, s["seq"], s["minY"], s["text"]

    spans = map_rows(
        base, word_spans, "doc_id long, seq int, min_y double, word string"
    )
    w = Window.partitionBy("doc_id").orderBy("seq")
    flagged = spans.withColumn(
        "new_line",
        F.when(
            F.abs(F.col("min_y") - F.lag("min_y").over(w)).isNull()
            | (F.abs(F.col("min_y") - F.lag("min_y").over(w)) > 5.0),
            1,
        ).otherwise(0),
    )
    lined = flagged.withColumn(
        "line_id",
        F.sum("new_line").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        lined.groupBy("doc_id", "line_id")
        .agg(
            F.concat_ws(" ", F.array_sort(
                F.collect_list(F.struct("seq", "word"))
            ).getField("word")).alias("line_text"),
            F.count("*").alias("n_words"),
        )
    )


def _pipeline_resume_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checkpointed wave-mode writer's kill-and-resume contract under
    the hash gate: run waves over 4 buckets, truncate the manifest to
    simulate a kill after the first two bucket commits, resume, and
    return the FINAL on-disk output — every document exactly once, text
    matching the flate golden, plus the resumed run's buckets_skipped
    count (must be 2: committed buckets are never reprocessed)."""
    import json

    from pdfi_spark.pipeline import CheckpointStore, read_extracted, run_pipeline

    payload = _payload(spark, sf_dir, "flate")
    # materialize the generated corpus once: run_pipeline's per-wave
    # bucket filter sits above the generator UDF (bucket = hash(url), an
    # output column), so streaming the plan in directly would regenerate
    # every PDF per wave and again on resume (~3 full passes)
    input_dir = streaming.scratch_dir(prefix="pdfi_resume_in_")
    payload.write.mode("overwrite").parquet(input_dir)
    payload = read(spark, input_dir)
    out = streaming.scratch_dir(prefix="pdfi_resume_q_")
    run_pipeline(spark, payload, out, n_buckets=4, wave_size=2)
    store = CheckpointStore(out)
    committed = store.metrics()[:2]
    with open(store.manifest_path, "w", encoding="utf-8") as f:
        for row in committed:
            f.write(json.dumps(row) + "\n")
    summary = run_pipeline(
        spark, payload, out, run_id="resume", n_buckets=4, wave_size=2
    )
    return read_extracted(spark, out).select(
        F.col("url").cast("long").alias("doc_id"),
        "text",
        F.lit(int(summary["buckets_skipped"])).alias("buckets_skipped"),
    )


def _html_streaming_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of html_boiler: readStream over
    generator-built pages -> strip_boilerplate mapInPandas -> memory
    sink, one available-now pass (same oracle as the batch path) —
    the webtext axis through the streaming surface."""
    from pdfi_spark.core.htmlgen import ORACLE_PER_BLOCK as HTML_ORACLE_PER_BLOCK
    from pdfi_spark.core.htmlgen import build_html
    from pdfi_spark.ops.webtext import strip_boilerplate

    base = read(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")

    def gen(doc_id, text):
        yield (str(int(doc_id)),
               build_html(text, "boiler", per_block=HTML_ORACLE_PER_BLOCK)[0])

    pages = map_rows(base, gen, "url string, html binary")
    stream = streaming._scratch_stream(pages)
    return streaming.run_available_now(
        strip_boilerplate(stream), "append"
    ).select(
        F.col("url").cast("long").alias("doc_id"), "main_text"
    )


def _warc_streaming_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-crawl ingest path: readStream over .warc.gz blobs
    (one capture triple per document, member-per-record gzip) ->
    read_warc_pages connector -> boilerplate strip -> memory sink, one
    available-now pass. Same oracle as the batch warc roundtrip."""
    from pdfi_spark.ops.webtext import _capture_blob, read_warc_pages, strip_boilerplate

    base = read(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")

    def gen(doc_id, text):
        doc_id = int(doc_id)
        yield f"seg/{doc_id}.warc.gz", _capture_blob(doc_id, text)

    blobs = map_rows(base, gen, "path string, content binary")
    stream = streaming._scratch_stream(blobs)
    stripped = strip_boilerplate(read_warc_pages(stream), page_col="page")
    return streaming.run_available_now(stripped, "append").select(
        F.replace(
            F.col("url"), F.lit("https://example.org/page/"), F.lit("")
        ).cast("long").alias("doc_id"),
        "main_text",
    )


def _extract_streaming_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of extract_flate: readStream over the
    same synthetic corpus -> mapInPandas extraction -> memory sink, one
    available-now pass (same oracle as the batch path)."""
    input_dir = streaming.scratch_dir(prefix="pdfi_stream_q_")
    _payload(spark, sf_dir, "flate").write.mode("overwrite").parquet(input_dir)
    return streaming.extract_stream(spark, input_dir).select(
        F.col("url").cast("long").alias("doc_id"), "text"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Ordered so a prefix-sampling gate covers everything that most
    needs driver evidence first (re-derived per round from the latest
    CORRECTNESS json, per the CLAUDE.md recipe). Round 6: (1) the 41
    queries whose last driver row is r03 — their rows predate the
    round-4/5 refactors (fused sketch artifacts, numpy minhash fold)
    and several were re-optimized again this round (vectorized simhash
    + shingles, scan fan-out, norm precompute); (2) the most
    structurally changed round-6 operators not already in group 1
    (in-row LSH pair generation + batch-vocabulary fold:
    dedup_clusters_128 / minhash128 family / dedup_clusters /
    minhash_*; HITS/pagerank checkpoint restructure; fan-out narrow
    folds: doc_fingerprint / link_graph_degrees); (3) the r05-sampled
    remainder (freshest driver rows); (4) the r04-green rest."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    # -- group 1: last driver-sampled in round 3 (41 queries) --
    out["simhash"] = ops.simhash
    out["ngram_jaccard"] = ops.ngram_jaccard_pairs
    out["simhash_neardup_pairs"] = ops.simhash_neardup_pairs
    out["ivf_train_cells"] = ops.ivf_train_cells
    out["embedding_neardup_topk"] = ops.embedding_neardup_topk
    out["cosine_topk"] = ops.cosine_topk
    out["cosine_adjacent"] = ops.cosine_adjacent_pairs
    out["lsh_ann_buckets"] = ops.lsh_ann_buckets
    out["dedup_exact"] = ops.dedup_exact
    from pdfi_spark.ops.webtext import HTML_ORACLE_RECIPES

    for recipe in HTML_ORACLE_RECIPES:
        out[f"html_{recipe}"] = ops.html_main_content(recipe)
    out["html_block_stats"] = ops.html_block_stats
    out["html_content_spans"] = ops.html_content_spans
    out["corpus_build_counts"] = ops.corpus_build_counts
    out["html_streaming"] = _html_streaming_query
    out["corpus_stats"] = ops.corpus_stats
    out["length_percentiles"] = ops.length_percentiles
    out["repetition_scores"] = ops.repetition_scores
    out["quality_filter"] = ops.quality_filter
    out["stratified_sample"] = ops.stratified_sample
    out["pii_scrub"] = ops.pii_scrub
    out["media_metadata"] = ops.media_metadata
    out["media_feature_summary"] = ops.media_feature_summary
    out["media_resize"] = ops.media_resize
    out["nation_revenue_topk"] = ops.nation_revenue_topk
    out["top_events_per_user"] = ops.top_events_per_user
    out["asof_join_events"] = ops.asof_join_events
    out["range_join_counts"] = ops.range_join_counts
    out["json_props_stats"] = ops.json_props_stats
    out["layout_lines_window"] = _layout_lines_window_query
    out["extract_zapf_dingbats"] = _extract_query("zapf_dingbats")
    out["extract_streaming"] = _extract_streaming_query
    out["windowed_event_counts"] = streaming.windowed_event_counts
    out["sessionize_events"] = streaming.sessionize_events
    out["session_window_events"] = streaming.session_window_events
    out["streaming_dedup_state"] = streaming.streaming_dedup_state
    # -- group 2: most-changed in round 6, last sampled r04 (9 queries:
    #    fills the 50-row prefix exactly) --
    out["dedup_clusters_128"] = ops.dedup_clusters_128
    out["minhash128_jaccard_estimates"] = ops.minhash128_jaccard_estimates
    out["dedup_clusters"] = ops.dedup_clusters
    out["minhash_signatures"] = ops.minhash_signatures
    out["minhash_lsh_buckets"] = ops.minhash_lsh_buckets
    out["doc_fingerprint"] = ops.doc_fingerprint
    out["link_graph_hits"] = ops.link_graph_hits
    out["link_graph_pagerank"] = ops.link_graph_pagerank
    out["link_graph_degrees"] = ops.link_graph_degrees
    # -- group 3: r05-sampled remainder (freshest driver rows) --
    out["tfidf_top_terms"] = ops.tfidf_top_terms
    out["unigram_surprisal"] = ops.unigram_surprisal
    out["host_stats"] = ops.host_stats
    out["url_dedup_streaming"] = streaming.url_dedup_streaming
    out["robots_filter"] = ops.robots_filter
    out["warc_extract"] = ops.warc_extract
    out["warc_streaming"] = _warc_streaming_query
    out["extract_handmade"] = _extract_handmade_query
    out["minhash128_signatures"] = ops.minhash128_signatures
    out["minhash128_lsh_buckets"] = ops.minhash128_lsh_buckets
    out["semdedup"] = ops.semdedup
    out["training_shuffle_manifest"] = ops.training_shuffle_manifest
    out["anchor_text_index"] = ops.anchor_text_index
    out["frontier_schedule"] = ops.frontier_schedule
    out["paragraph_dedup"] = ops.paragraph_dedup
    out["pack_training_shards"] = ops.pack_training_shards
    out["bigram_surprisal"] = ops.bigram_surprisal
    out["crawl_diff"] = ops.crawl_diff
    out["incremental_content_dedup"] = ops.incremental_content_dedup
    out["exact_substring_dup"] = ops.exact_substring_dup
    out["exact_substring_excise"] = ops.exact_substring_excise
    out["bm25_topk"] = ops.bm25_topk
    out["surprisal_buckets"] = ops.surprisal_buckets
    out["cdx_index"] = ops.cdx_index
    out["pq_codes"] = ops.pq_codes
    out["pq_topk"] = ops.pq_topk
    out["pq_topk_refine"] = ops.pq_topk_refine
    out["host_url_hll"] = ops.host_url_hll
    out["cms_heavy_hitters"] = ops.cms_heavy_hitters
    out["bloom_dedup_gate"] = ops.bloom_dedup_gate
    out["host_cap_sample"] = ops.host_cap_sample
    out["pmi_collocations"] = ops.pmi_collocations
    out["weighted_sample"] = ops.weighted_sample
    out["length_histogram_quantiles"] = ops.length_histogram_quantiles
    out["q1_pricing_summary"] = ops.q1_pricing_summary
    out["q3_shipping_priority"] = ops.q3_shipping_priority
    out["q5_local_supplier_volume"] = ops.q5_local_supplier_volume
    out["q14_promo_revenue"] = ops.q14_promo_revenue
    out["q4_order_priority"] = ops.q4_order_priority
    out["q18_large_volume_customer"] = ops.q18_large_volume_customer
    out["link_graph_triangles"] = ops.link_graph_triangles
    out["frontier_schedule_streaming"] = streaming.frontier_schedule_streaming
    # -- group 4: r04-green remainder --
    out["pipeline_resume_counts"] = _pipeline_resume_query
    out["html_outlinks"] = ops.html_outlinks
    out["link_graph_pagerank_dangling"] = ops.link_graph_pagerank_dangling
    out["url_canonicalize"] = ops.url_canonicalize
    out["url_dedup_counts"] = ops.url_dedup_counts
    out["lang_balance_sample"] = ops.lang_balance_sample
    out["wet_export"] = ops.wet_export
    out["ivf_cell_counts"] = ops.ivf_cell_counts
    out["ivf_topk"] = ops.ivf_topk
    out["ivf_topk_nprobe2"] = ops.ivf_topk_nprobe
    out["lang_stopwords"] = ops.lang_stopword_counts
    out["lang_id_ngram"] = ops.lang_id_ngram
    out["quality_scores"] = ops.quality_scores
    out["token_counts"] = ops.token_counts
    out["decontaminate"] = ops.decontaminate
    out["extract_sections_struct"] = _extract_sections_struct_query
    out["extract_corrupt"] = _extract_corrupt_query
    out["trailer_metadata"] = _metadata_query
    out["info_metadata"] = _info_metadata_query
    out["xref_count"] = _xref_count_query
    out["extract_meta"] = _extract_meta_query
    out["extract_errors"] = _extract_errors_query
    for recipe in ORACLE_EXPECTED_SQL:
        out.setdefault(f"extract_{recipe}", _extract_query(recipe))
    return out


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def _minhash_sig_cte() -> str:
    # one md5 per word, four 32-bit lanes sliced from the single digest —
    # in lockstep with ops.dedup.minhash_signatures
    hash_cols = ", ".join(
        f"min(('0x' || substr(md5(word), {off}, 8))::BIGINT) AS h{i + 1}"
        for i, off in enumerate(MINHASH_LANE_OFFSETS)
    )
    return (
        "WITH words AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word "
        "FROM documents), "
        f"sig AS (SELECT doc_id, {hash_cols} FROM words GROUP BY doc_id)"
    )


from pdfi_spark.ops.dedup import (
    MINHASH128_BANDS as _MH128_BANDS,
    MINHASH128_P as _MH128_P,
    MINHASH128_PERMS as _MH128_PERMS,
    MINHASH128_ROWS as _MH128_ROWS,
    _minhash128_params,
)


def _minhash128_cte() -> str:
    """CTE chain ending in perms(doc_id, p0..p127): the 128-permutation
    MinHash, in lockstep with ops.dedup._minhash128_artifacts — one md5 per
    distinct word sliced into four 32-bit lanes, then the universal-hash
    coefficients REGENERATED from the same seeded _minhash128_params()
    so both engines fold identical (a*h+b) mod P arithmetic (exact in
    signed 64-bit; see the op's docstring)."""
    lane_cols = ", ".join(
        f"('0x' || substr(hx, {off}, 8))::BIGINT AS l{j}"
        for j, off in enumerate(MINHASH_LANE_OFFSETS)
    )
    perm_cols = ", ".join(
        f"min(({a} * l{lane} + {b}) % {_MH128_P}) AS p{i}"
        for i, (a, b, lane) in enumerate(_minhash128_params())
    )
    return (
        "WITH words AS (SELECT DISTINCT doc_id, "
        "unnest(string_split(text, ' ')) AS word FROM documents), "
        "hashed AS (SELECT doc_id, md5(word) AS hx FROM words), "
        f"lanes AS (SELECT doc_id, {lane_cols} FROM hashed), "
        f"perms AS (SELECT doc_id, {perm_cols} FROM lanes GROUP BY doc_id)"
    )


def _simhash_cte() -> str:
    """CTE chain ending in sig(doc_id, s) = the 32-bit SimHash."""
    bit_cols = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(SIMHASH_BITS)
    )
    recombine = " + ".join(
        f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(SIMHASH_BITS)
    )
    return (
        "WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), "
        "hashed AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 8))::BIGINT AS h FROM words), "
        f"bits AS (SELECT doc_id, {bit_cols} FROM hashed GROUP BY doc_id), "
        f"sig AS (SELECT doc_id, ({recombine})::BIGINT AS s FROM bits)"
    )


def _simhash_sql() -> str:
    return _simhash_cte() + " SELECT doc_id, s AS simhash FROM sig"


_COSINE_RAW = (
    "(list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)) / "
    "(sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE))) * "
    "sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE)))))"
)
_COSINE_EXPR = "(round(" + _COSINE_RAW + ", 3) + 0.0)"


def _ivf_assigned_cte() -> str:
    """CTE chain reproducing ops.similarity._ivf_assign in SQL: first-8
    codebook, cross-join cosine, argmax per vector (ties -> centroid_id)."""
    cos = _COSINE_RAW.format(a="e.embedding", b="c.cvec")
    return (
        "WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cvec "
        f"FROM embeddings WHERE vec_id < {N_CENTROIDS}), "
        "scored AS (SELECT e.vec_id, e.embedding, c.centroid_id, "
        f"{cos} AS cos_c FROM embeddings e CROSS JOIN cent c), "
        "assigned AS (SELECT vec_id, embedding, centroid_id FROM scored "
        "QUALIFY row_number() OVER (PARTITION BY vec_id "
        "ORDER BY cos_c DESC, centroid_id ASC) = 1)"
    )


def _pq_cte() -> str:
    """CTE chain reproducing ops.similarity._pq_codes_long in SQL:
    subspace slices for every vector, the first-PQ_CODES sub-codebooks,
    per-(vector, subspace) squared-L2 argmin (ties -> centroid_id).
    The fold and list_sum both accumulate in element order, so the
    unrounded d2 doubles match bit-for-bit (same property the IVF
    cosine assignment relies on)."""
    from pdfi_spark.ops.similarity import PQ_CODES, PQ_M, PQ_SUBDIM

    l2 = _PQ_L2SQ.format(a="s.sv", b="c.cvec", n=PQ_SUBDIM)
    return (
        f"WITH ms AS (SELECT unnest(range(0, {PQ_M})) AS m), "
        "sv AS (SELECT e.vec_id, ms.m, list_slice(e.embedding, "
        f"ms.m * {PQ_SUBDIM} + 1, ms.m * {PQ_SUBDIM} + {PQ_SUBDIM}) AS sv "
        "FROM embeddings e CROSS JOIN ms), "
        "cs AS (SELECT vec_id AS centroid_id, m, sv AS cvec FROM sv "
        f"WHERE vec_id < {PQ_CODES}), "
        "scored AS (SELECT s.vec_id, s.m, c.centroid_id, "
        f"{l2} AS d2 FROM sv s JOIN cs c USING (m)), "
        "codes AS (SELECT vec_id, m, centroid_id AS code FROM scored "
        "QUALIFY row_number() OVER (PARTITION BY vec_id, m "
        "ORDER BY d2 ASC, centroid_id ASC) = 1)"
    )


_PQ_L2SQ = (
    "list_sum(list_transform(range(1, {n} + 1), "
    "i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * "
    "({a}[i]::DOUBLE - {b}[i]::DOUBLE)))"
)


def _ivf_train_cte() -> tuple[list[str], str]:
    """Unrolled Lloyd CTE chain (shared by _ivf_train_sql and
    _semdedup_sql): returns (cte_parts, name_of_final_centroid_cte).
    The float-mean determinism problem (double sums depend on partition
    order) is neutralized the same way the Spark side neutralizes it:
    every updated centroid is cast to FLOAT32 per element (Spark:
    cast("array<float>"); DuckDB: m::FLOAT), which rounds away the
    sub-ULP summation-order noise, so both engines iterate from
    bit-identical codebooks."""

    def cos(a: str, b: str) -> str:
        return _COSINE_RAW.format(a=a, b=b)

    parts = [
        "WITH cent0 AS (SELECT vec_id AS centroid_id, embedding AS cvec "
        f"FROM embeddings WHERE vec_id < {N_CENTROIDS})"
    ]
    prev = "cent0"
    for it in range(1, LLOYD_ITERS + 1):
        parts.append(
            f"a{it} AS (SELECT e.vec_id, e.embedding, c.centroid_id "
            f"FROM embeddings e CROSS JOIN {prev} c "
            "QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY "
            f"{cos('e.embedding', 'c.cvec')} DESC, c.centroid_id ASC) = 1)"
        )
        parts.append(
            f"d{it} AS (SELECT centroid_id, "
            "unnest(range(1, len(embedding) + 1)) AS dim, "
            f"unnest(list_transform(embedding, x -> x::DOUBLE)) AS v FROM a{it})"
        )
        parts.append(
            f"m{it} AS (SELECT centroid_id, list(m::FLOAT ORDER BY dim) AS new_cvec "
            f"FROM (SELECT centroid_id, dim, avg(v) AS m FROM d{it} GROUP BY 1, 2) "
            "GROUP BY centroid_id)"
        )
        parts.append(
            f"cent{it} AS (SELECT c.centroid_id, coalesce(m.new_cvec, c.cvec) AS cvec "
            f"FROM {prev} c LEFT JOIN m{it} m USING (centroid_id))"
        )
        prev = f"cent{it}"
    return parts, prev


def _ivf_train_sql() -> str:
    """Twin of ops.similarity.ivf_train_cells (see _ivf_train_cte)."""
    parts, prev = _ivf_train_cte()

    def cos(a: str, b: str) -> str:
        return _COSINE_RAW.format(a=a, b=b)

    final = (
        "SELECT centroid_id, count(*) AS n_vecs FROM "
        "(SELECT e.vec_id, c.centroid_id "
        f"FROM embeddings e CROSS JOIN {prev} c "
        "QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY "
        f"{cos('e.embedding', 'c.cvec')} DESC, c.centroid_id ASC) = 1) "
        "GROUP BY centroid_id"
    )
    return ", ".join(parts) + " " + final


def _semdedup_sql() -> str:
    """Twin of ops.similarity.semdedup: trained-codebook assignment (the
    same unrolled Lloyd chain as _ivf_train_sql), then within-cell pairs
    with round(cosine,3) >= SEMDEDUP_TAU mark the higher vec_id removed."""
    parts, prev = _ivf_train_cte()
    acos = _COSINE_RAW.format(a="e.embedding", b="c.cvec")
    pcos = _COSINE_EXPR.format(a="a.embedding", b="b.embedding")
    parts.append(
        "asg AS (SELECT e.vec_id, e.embedding, c.centroid_id "
        f"FROM embeddings e CROSS JOIN {prev} c "
        "QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY "
        f"{acos} DESC, c.centroid_id ASC) = 1)"
    )
    parts.append(
        "removed AS (SELECT DISTINCT a.vec_id FROM asg a JOIN asg b "
        "ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id "
        f"WHERE {pcos} >= {SEMDEDUP_TAU!r})"
    )
    return (
        ", ".join(parts)
        + " SELECT a.vec_id, a.centroid_id, r.vec_id IS NULL AS kept "
        "FROM asg a LEFT JOIN removed r ON a.vec_id = r.vec_id"
    )


def _lsh_bucket_expr() -> str:
    from pdfi_spark.ops.similarity import plane_weights

    terms = []
    for b in range(LSH_PLANES):
        wlit = "[" + ", ".join(f"{w}.0" for w in plane_weights(b)) + "]"
        dot = (
            "list_sum(list_transform(range(1, len(embedding) + 1), "
            f"i -> embedding[i]::DOUBLE * ({wlit}::DOUBLE[])[i]))"
        )
        terms.append(f"CASE WHEN {dot} > 0 THEN {1 << b} ELSE 0 END")
    return "(" + " + ".join(terms) + ")::INTEGER"


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for recipe, template in ORACLE_EXPECTED_SQL.items():
        expected = template.format(col="text")
        out[f"extract_{recipe}"] = f"SELECT doc_id, {expected} AS text FROM documents"
    out["extract_meta"] = (
        "SELECT doc_id, 1 AS n_pages, (3 + length(text))::INTEGER AS n_chars FROM documents"
    )
    out["extract_errors"] = (
        "SELECT count(*) AS n_docs, 0::BIGINT AS n_errors FROM documents"
    )
    out["extract_corrupt"] = (
        "SELECT doc_id, (doc_id % 7 = 0) AS is_error FROM documents"
    )
    out["extract_sections_struct"] = (
        "SELECT doc_id, 0::INTEGER AS section_idx, 'section 0' AS title, "
        "1::INTEGER AS n_paragraphs, text AS first_paragraph FROM documents"
    )
    out["trailer_metadata"] = (
        f"SELECT doc_id, {_SIMPLE_TRAILER_SIZE} AS trailer_size FROM documents"
    )

    def _sq(s: str) -> str:
        return s.replace("'", "''").replace(chr(10), "' || chr(10) || '")

    out["extract_handmade"] = " UNION ALL ".join(
        f"SELECT '{name}' AS fixture, '{_sq(expected)}' AS text"
        for name, (_pdf, expected) in sorted(_load_handmade().items())
    )
    from pdfi_spark.core.pdfgen import INFO_AUTHOR

    out["info_metadata"] = (
        "SELECT doc_id, chr(65279) || 'é ' || "
        "array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') AS title, "
        f"'{INFO_AUTHOR}' AS author FROM documents"
    )
    out["xref_count"] = (
        f"SELECT doc_id, {_XREFSTREAM_N_XREFS} AS n_xrefs FROM documents"
    )
    from pdfi_spark.ops.relational import MKT_SEGMENT, TOP_K

    out["nation_revenue_topk"] = (
        "WITH per_order AS (SELECT l_orderkey, "
        "sum(round(l_extendedprice * 100)::BIGINT * (100 - round(l_discount * 100)::BIGINT))::BIGINT AS rev "
        "FROM lineitem GROUP BY l_orderkey), "
        "per_cust AS (SELECT o_custkey, sum(rev)::BIGINT AS rev, count(*) AS n_orders "
        "FROM per_order JOIN orders ON l_orderkey = o_orderkey GROUP BY o_custkey), "
        "per_nation AS (SELECT c_nationkey, sum(rev)::BIGINT AS revenue_cp, "
        "sum(n_orders)::BIGINT AS n_orders, count(*) AS n_customers "
        "FROM per_cust JOIN customer ON o_custkey = c_custkey "
        f"WHERE c_mktsegment = '{MKT_SEGMENT}' GROUP BY c_nationkey) "
        "SELECT n_name, revenue_cp, n_orders, n_customers "
        "FROM per_nation JOIN nation ON c_nationkey = n_nationkey "
        f"ORDER BY revenue_cp DESC, n_name ASC LIMIT {TOP_K}"
    )
    from pdfi_spark.ops.relational import (
        Q3_CUTOFF, Q3_TOPK, Q5_FROM, Q5_REGION, Q5_TO,
    )

    _rev_sql = ("round(l_extendedprice * 100)::BIGINT "
                "* (100 - round(l_discount * 100)::BIGINT)")
    from pdfi_spark.ops.relational import Q1_SHIP_CUTOFF

    # TPC-H Q1 shape: every SUM exact-integer (HUGEINT ::BIGINT trap),
    # AVGs = one double division of exact ints, snapped 6
    out["q1_pricing_summary"] = (
        "WITH s AS (SELECT l_returnflag, l_linestatus, "
        "l_quantity::BIGINT AS qty, "
        "round(l_extendedprice * 100)::BIGINT AS price_c, "
        "round(l_discount * 100)::BIGINT AS d, "
        "round(l_tax * 100)::BIGINT AS t FROM lineitem "
        f"WHERE l_shipdate <= TIMESTAMP '{Q1_SHIP_CUTOFF}'), "
        "a AS (SELECT l_returnflag, l_linestatus, "
        "sum(qty)::BIGINT AS sum_qty, "
        "sum(price_c)::BIGINT AS sum_base_cents, "
        "sum(price_c * (100 - d))::BIGINT AS sum_disc_cp, "
        "sum(price_c * (100 - d) * (100 + t))::BIGINT AS sum_charge_cpp, "
        "sum(d)::BIGINT AS sum_d, count(*) AS n_rows FROM s "
        "GROUP BY l_returnflag, l_linestatus) "
        "SELECT l_returnflag, l_linestatus, sum_qty, sum_base_cents, "
        "sum_disc_cp, sum_charge_cpp, "
        "round(sum_qty / n_rows, 6) AS avg_qty, "
        "round(sum_base_cents / n_rows, 6) AS avg_price_cents, "
        "round(sum_d / n_rows, 6) AS avg_disc_pct, n_rows FROM a "
        "ORDER BY l_returnflag, l_linestatus"
    )
    from pdfi_spark.ops.relational import Q14_FROM, Q14_PROMO_TYPE, Q14_TO

    # TPC-H Q14 shape: exact-integer conditional sums; the ratio is ONE
    # double multiply-then-divide (100::DOUBLE — the DECIMAL literal
    # trap), snapped 6
    out["q14_promo_revenue"] = (
        "WITH j AS (SELECT p_type, "
        f"{_rev_sql} AS rev FROM lineitem JOIN part "
        "ON l_partkey = p_partkey "
        f"WHERE l_shipdate >= TIMESTAMP '{Q14_FROM}' "
        f"AND l_shipdate < TIMESTAMP '{Q14_TO}'), "
        "a AS (SELECT sum(CASE WHEN p_type = "
        f"'{Q14_PROMO_TYPE}' THEN rev ELSE 0 END)::BIGINT "
        "AS promo_rev_cp, sum(rev)::BIGINT AS total_rev_cp FROM j) "
        "SELECT promo_rev_cp, total_rev_cp, "
        "round(100::DOUBLE * promo_rev_cp / total_rev_cp, 6) "
        "AS promo_pct FROM a"
    )
    from pdfi_spark.ops.relational import Q4_FROM, Q4_LATE_DAYS, Q4_TO

    # TPC-H Q4 shape: the EXISTS correlated subquery — DuckDB plans the
    # same semi-join the Spark side declares explicitly
    out["q4_order_priority"] = (
        "SELECT o_orderpriority, count(*) AS n_orders FROM orders o "
        f"WHERE o_orderdate >= TIMESTAMP '{Q4_FROM}' "
        f"AND o_orderdate < TIMESTAMP '{Q4_TO}' "
        "AND EXISTS (SELECT 1 FROM lineitem l "
        "WHERE l.l_orderkey = o.o_orderkey "
        f"AND l.l_shipdate > o.o_orderdate + INTERVAL {Q4_LATE_DAYS} DAY) "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    )
    from pdfi_spark.ops.relational import Q18_MIN_QTY, Q18_TOPK

    # TPC-H Q18 shape: HAVING prunes before the joins; dates as strings
    out["q18_large_volume_customer"] = (
        "WITH big AS (SELECT l_orderkey, sum(l_quantity::BIGINT)::BIGINT "
        "AS sum_qty FROM lineitem GROUP BY l_orderkey "
        f"HAVING sum(l_quantity::BIGINT) > {Q18_MIN_QTY}) "
        "SELECT c_name, c_custkey, l_orderkey AS order_key, "
        "strftime(o_orderdate, '%Y-%m-%d') AS order_date, "
        "round(o_totalprice * 100)::BIGINT AS total_price_cents, sum_qty "
        "FROM big JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        f"ORDER BY sum_qty DESC, order_key ASC LIMIT {Q18_TOPK}"
    )
    # TPC-H Q3 shape: both date filters before any join; per-order
    # revenue aggregated before the joins like the Spark side
    out["q3_shipping_priority"] = (
        "WITH per_order AS (SELECT l_orderkey, "
        f"sum({_rev_sql})::BIGINT AS revenue_cp FROM lineitem "
        f"WHERE l_shipdate > TIMESTAMP '{Q3_CUTOFF}' GROUP BY l_orderkey) "
        "SELECT l_orderkey AS order_key, "
        "strftime(o_orderdate, '%Y-%m-%d') AS order_date, "
        "o_orderpriority AS priority, revenue_cp "
        "FROM per_order JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        f"WHERE o_orderdate < TIMESTAMP '{Q3_CUTOFF}' "
        f"AND c_mktsegment = '{MKT_SEGMENT}' "
        f"ORDER BY revenue_cp DESC, order_key ASC LIMIT {Q3_TOPK}"
    )
    # TPC-H Q5 shape: same-nation customer and supplier in one region
    out["q5_local_supplier_volume"] = (
        "SELECT n_name, "
        f"sum({_rev_sql})::BIGINT AS revenue_cp "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "AND s_nationkey = c_nationkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        f"WHERE r_name = '{Q5_REGION}' "
        f"AND o_orderdate >= TIMESTAMP '{Q5_FROM}' "
        f"AND o_orderdate < TIMESTAMP '{Q5_TO}' "
        "GROUP BY n_name ORDER BY revenue_cp DESC, n_name ASC"
    )
    from pdfi_spark.ops.relational import (
        ASOF_LEFT_TYPE, ASOF_RIGHT_TYPE, RANGE_WINDOW_SEC,
    )

    _asof_frame = ("OVER (PARTITION BY user_id ORDER BY ts, event_id "
                   "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    # the matched view is ONE nullable struct (id+value cannot decouple
    # through two independent IGNORE NULLS scans when a view value is
    # NULL) — mirroring the Spark struct-carry exactly
    out["asof_join_events"] = (
        "WITH b AS (SELECT event_id, ts, user_id, event_type, "
        f"CASE WHEN event_type = '{ASOF_RIGHT_TYPE}' THEN "
        "struct_pack(vid := event_id, vval := value) END AS v "
        f"FROM events WHERE event_type IN ('{ASOF_LEFT_TYPE}', '{ASOF_RIGHT_TYPE}')), "
        "m AS (SELECT event_id, user_id, event_type, "
        f"last_value(v IGNORE NULLS) {_asof_frame} AS v "
        "FROM b) "
        "SELECT event_id AS click_id, user_id, (v).vid AS asof_view_id, "
        "round((v).vval, 6) AS asof_view_value "
        f"FROM m WHERE event_type = '{ASOF_LEFT_TYPE}'"
    )
    out["range_join_counts"] = (
        "WITH o AS (SELECT event_id, user_id, event_type, "
        "floor(epoch(ts))::BIGINT AS es FROM events "
        "WHERE event_type IN ('click', 'error')), "
        "c AS (SELECT event_id, user_id, event_type, "
        "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER "
        "(PARTITION BY user_id ORDER BY es "
        f"RANGE BETWEEN {RANGE_WINDOW_SEC} PRECEDING AND {RANGE_WINDOW_SEC} FOLLOWING)"
        "::BIGINT AS clicks_near FROM o) "
        "SELECT event_id AS error_id, user_id, clicks_near FROM c "
        "WHERE event_type = 'error'"
    )
    out["json_props_stats"] = (
        "WITH k AS (SELECT event_type, "
        "json_extract_string(props, '$.k')::INTEGER AS k FROM events) "
        "SELECT event_type, count(*) AS n_events, sum(k)::BIGINT AS sum_k, "
        "min(k)::INTEGER AS min_k, max(k)::INTEGER AS max_k FROM k "
        "GROUP BY event_type"
    )
    from pdfi_spark.ops.relational import EVENTS_PER_USER

    out["top_events_per_user"] = (
        "SELECT user_id, row_number() OVER "
        "(PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rank, "
        "event_id, round(value, 6) AS value FROM events "
        f"QUALIFY rank <= {EVENTS_PER_USER}"
    )
    out["dedup_exact"] = (
        "SELECT array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS dedup_key, "
        "count(*) AS n_dups, min(doc_id) AS keep_id FROM documents GROUP BY 1"
    )
    out["minhash_signatures"] = (
        _minhash_sig_cte() + " SELECT doc_id, h1, h2, h3, h4 FROM sig"
    )
    from pdfi_spark.ops.dedup import JACCARD_THRESHOLD, MAX_LSH_BUCKET

    # members0(band, bucket, doc_id) -> capped buckets -> candidate pairs
    # -> shingle-Jaccard verify -> recursive-CTE connected components;
    # shared by the 4-perm and 128-perm dedup pipelines (only the
    # candidate generator — members0 — differs, mirroring
    # ops/dedup._dedup_clusters_from)
    _dedup_tail = (
        "members AS (SELECT band, bucket, doc_id FROM members0 "
        "QUALIFY count(*) OVER (PARTITION BY band, bucket) <= "
        f"{MAX_LSH_BUCKET}), "
        "pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM members a JOIN members b USING (band, bucket) "
        "WHERE a.doc_id < b.doc_id), "
        "sh AS (SELECT doc_id, list_distinct(list_transform("
        "range(0, len(string_split(text, ' ')) - 2), "
        "i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' '))) AS shingles "
        "FROM documents WHERE len(string_split(text, ' ')) >= 3), "
        "verified AS (SELECT doc_a, doc_b FROM pairs "
        "JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b "
        "WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE / "
        "len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= "
        f"{JACCARD_THRESHOLD}), "
        "edges AS (SELECT doc_a AS u, doc_b AS v FROM verified "
        "UNION ALL SELECT doc_b AS u, doc_a AS v FROM verified), "
        "reach(src, node) AS ("
        "SELECT doc_id, doc_id FROM documents "
        "UNION "
        "SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node) "
        "SELECT src AS doc_id, min(node) AS cluster_id, "
        "(min(node) = src) AS is_keeper FROM reach GROUP BY src"
    )
    out["dedup_clusters"] = (
        _minhash_sig_cte().replace("WITH ", "WITH RECURSIVE ", 1)
        + ", members0 AS ("
        "SELECT 1 AS band, h1::VARCHAR || ':' || h2::VARCHAR AS bucket, doc_id FROM sig "
        "UNION ALL "
        "SELECT 2 AS band, h3::VARCHAR || ':' || h4::VARCHAR AS bucket, doc_id FROM sig), "
        + _dedup_tail
    )
    _mh128_members0 = (
        ", members0 AS ("
        + " UNION ALL ".join(
            f"SELECT {b} AS band, md5(concat_ws(',', "
            + ", ".join(
                f"p{i}" for i in range(b * _MH128_ROWS,
                                       (b + 1) * _MH128_ROWS)
            )
            + ")) AS bucket, doc_id FROM perms"
            for b in range(_MH128_BANDS)
        )
        + "), "
    )
    # a flat list literal, not a 128-term "+" chain — DuckDB's binder
    # recurses per "+" and caps at depth 128
    _agree = (
        "len(list_filter(["
        + ", ".join(f"sa.p{i} = sb.p{i}" for i in range(_MH128_PERMS))
        + "], x -> x))"
    )
    out["minhash128_jaccard_estimates"] = (
        _minhash128_cte()
        + _mh128_members0
        + "members AS (SELECT band, bucket, doc_id FROM members0 "
        "QUALIFY count(*) OVER (PARTITION BY band, bucket) <= "
        f"{MAX_LSH_BUCKET}), "
        "pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM members a JOIN members b USING (band, bucket) "
        "WHERE a.doc_id < b.doc_id), "
        "ws AS (SELECT doc_id, "
        "list_distinct(string_split(text, ' ')) AS w FROM documents) "
        "SELECT p.doc_a, p.doc_b, "
        f"round({_agree}::DOUBLE / {_MH128_PERMS}, 6) AS est_jaccard, "
        "round(len(list_intersect(wa.w, wb.w))::DOUBLE / "
        "len(list_distinct(list_concat(wa.w, wb.w))), 6) AS true_jaccard "
        "FROM pairs p "
        "JOIN perms sa ON sa.doc_id = p.doc_a "
        "JOIN perms sb ON sb.doc_id = p.doc_b "
        "JOIN ws wa ON wa.doc_id = p.doc_a "
        "JOIN ws wb ON wb.doc_id = p.doc_b"
    )
    out["dedup_clusters_128"] = (
        _minhash128_cte().replace("WITH ", "WITH RECURSIVE ", 1)
        + _mh128_members0
        + _dedup_tail
    )
    out["minhash_lsh_buckets"] = (
        _minhash_sig_cte()
        + ", bands AS ("
        "SELECT 1 AS band, h1::VARCHAR || ':' || h2::VARCHAR AS bucket FROM sig "
        "UNION ALL "
        "SELECT 2 AS band, h3::VARCHAR || ':' || h4::VARCHAR AS bucket FROM sig) "
        "SELECT band, bucket, count(*) AS n_docs FROM bands GROUP BY band, bucket"
    )
    out["minhash128_signatures"] = (
        _minhash128_cte()
        + " SELECT doc_id, md5(concat_ws(',', "
        + ", ".join(f"p{i}" for i in range(_MH128_PERMS))
        + ")) AS sig_md5 FROM perms"
    )
    out["minhash128_lsh_buckets"] = (
        _minhash128_cte()
        + ", bands AS ("
        + " UNION ALL ".join(
            f"SELECT {b} AS band, md5(concat_ws(',', "
            + ", ".join(
                f"p{i}" for i in range(b * _MH128_ROWS,
                                       (b + 1) * _MH128_ROWS)
            )
            + ")) AS bucket FROM perms"
            for b in range(_MH128_BANDS)
        )
        + ") SELECT band, bucket, count(*) AS n_docs "
          "FROM bands GROUP BY band, bucket"
    )
    out["simhash"] = _simhash_sql()
    from pdfi_spark.ops.dedup import (
        SIMHASH_BAND_BITS, SIMHASH_BANDS, SIMHASH_HAM_THRESHOLD,
    )

    band_mask = (1 << SIMHASH_BAND_BITS) - 1
    out["simhash_neardup_pairs"] = (
        _simhash_cte()
        + ", members AS (SELECT b.band, "
        f"(s >> ({SIMHASH_BAND_BITS} * b.band)) & {band_mask} AS key, doc_id, s "
        f"FROM sig, (SELECT unnest(range(0, {SIMHASH_BANDS})) AS band) b), "
        "pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "a.s AS sa, b.s AS sb FROM members a JOIN members b "
        "ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id) "
        "SELECT doc_a, doc_b, bit_count(xor(sa, sb))::INTEGER AS hamming "
        f"FROM pairs WHERE bit_count(xor(sa, sb)) <= {SIMHASH_HAM_THRESHOLD}"
    )
    from pdfi_spark.ops.textstats import EMAIL_RE, PHONE_RE

    _contact = (
        "text || ' contact user' || doc_id::VARCHAR || '@example.com or 555-' || "
        "lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' || "
        "lpad((doc_id % 10000)::VARCHAR, 4, '0')"
    )
    out["pii_scrub"] = (
        f"WITH c AS (SELECT doc_id, {_contact} AS contact FROM documents) "
        "SELECT doc_id, "
        f"regexp_replace(regexp_replace(contact, '{EMAIL_RE}', '<EMAIL>', 'g'), "
        f"'{PHONE_RE}', '<PHONE>', 'g') AS scrubbed, "
        f"len(regexp_extract_all(contact, '{EMAIL_RE}'))::INTEGER AS n_emails, "
        f"len(regexp_extract_all(contact, '{PHONE_RE}'))::INTEGER AS n_phones "
        "FROM c"
    )
    out["ngram_jaccard"] = (
        "WITH sh AS (SELECT doc_id, list_distinct(list_transform("
        "range(0, len(string_split(text, ' ')) - 2), "
        "i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' '))) AS shingles "
        "FROM documents WHERE len(string_split(text, ' ')) >= 3) "
        "SELECT a.doc_id AS doc_a, a.doc_id + 1 AS doc_b, "
        "len(list_intersect(a.shingles, b.shingles))::INTEGER AS n_intersect, "
        "len(list_distinct(list_concat(a.shingles, b.shingles)))::INTEGER AS n_union "
        "FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1"
    )
    cos_q = _COSINE_EXPR.format(a="e.embedding", b="q.qe")
    out["cosine_topk"] = (
        "WITH q AS (SELECT embedding AS qe FROM embeddings "
        f"WHERE vec_id = {QUERY_VEC_ID}) "
        f"SELECT e.vec_id, {cos_q} AS cosine "
        f"FROM embeddings e, q WHERE e.vec_id <> {QUERY_VEC_ID} "
        f"ORDER BY cosine DESC, e.vec_id ASC LIMIT {SIM_TOPK}"
    )
    cos_adj = _COSINE_EXPR.format(a="a.embedding", b="b.embedding")
    out["cosine_adjacent"] = (
        "SELECT a.vec_id AS vec_a, a.vec_id + 1 AS vec_b, "
        f"{cos_adj} AS cosine "
        "FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1"
    )
    out["lsh_ann_buckets"] = (
        f"WITH coded AS (SELECT vec_id, {_lsh_bucket_expr()} AS bucket FROM embeddings) "
        "SELECT bucket, count(*) AS n_vecs FROM coded GROUP BY bucket"
    )
    cos_ab = _COSINE_EXPR.format(a="a.embedding", b="b.embedding")
    out["embedding_neardup_topk"] = (
        f"WITH coded AS (SELECT vec_id, embedding, {_lsh_bucket_expr()} AS bucket FROM embeddings) "
        "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
        f"{cos_ab} AS cosine "
        "FROM coded a JOIN coded b ON a.bucket = b.bucket AND a.vec_id < b.vec_id "
        f"ORDER BY cosine DESC, vec_a ASC, vec_b ASC LIMIT {SIM_TOPK}"
    )
    stopword_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    from pdfi_spark.ops.textstats import EN_TRIGRAMS, LANG_ID_THRESHOLD

    tri_hits = " + ".join(
        f"((length(text) - length(replace(text, '{t}', ''))) / 3)"
        for t in EN_TRIGRAMS
    )
    out["lang_id_ngram"] = (
        "WITH h AS (SELECT doc_id, lang, (" + tri_hits + ") AS hits, "
        "greatest(length(text) - 2, 1) AS np FROM documents) "
        "SELECT doc_id, lang, hits::INTEGER AS n_trigram_hits, "
        "round(hits / np, 6) AS trigram_score, "
        f"CASE WHEN round(hits / np, 6) >= {LANG_ID_THRESHOLD} THEN 'en' "
        "ELSE 'other' END AS lang_guess FROM h"
    )
    out["lang_stopwords"] = (
        "SELECT doc_id, lang, "
        f"len(list_filter(string_split(text, ' '), w -> w IN ({stopword_list})))::INTEGER AS n_stopwords, "
        "len(string_split(text, ' '))::INTEGER AS n_words FROM documents"
    )
    out["quality_scores"] = (
        "SELECT doc_id, length(text)::INTEGER AS n_chars, "
        "len(string_split(text, ' '))::INTEGER AS n_words, "
        "len(list_distinct(string_split(text, ' ')))::INTEGER AS n_distinct_words, "
        "list_max(list_transform(string_split(text, ' '), w -> length(w)))::INTEGER AS max_word_len "
        "FROM documents"
    )
    out["token_counts"] = (
        "SELECT doc_id, len(string_split(text, ' '))::INTEGER AS n_ws_tokens, "
        f"len(regexp_extract_all(text, '{BPE_ISH_RE}'))::INTEGER AS n_bpe_tokens FROM documents"
    )
    out["doc_fingerprint"] = (
        "SELECT doc_id, md5(text) AS md5, "
        "list_min(list_transform(range(0, len(string_split(text, ' ')) - 4), "
        "i -> md5(array_to_string(list_slice(string_split(text, ' '), i + 1, i + 5), ' ')))) AS winnow_min "
        "FROM documents WHERE len(string_split(text, ' ')) >= 5"
    )
    from pdfi_spark.ops.textstats import DECON_FLAG_MIN_HITS, N_BENCH_SHINGLES

    shingle_expr = ("list_distinct(list_transform(range(0, len(string_split(text, ' ')) - 2), "
                    "i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' ')))")
    out["decontaminate"] = (
        f"WITH sh AS (SELECT doc_id, {shingle_expr} AS shingles "
        "FROM documents WHERE len(string_split(text, ' ')) >= 3), "
        f"b AS (SELECT list_slice(list_sort(shingles), 1, {N_BENCH_SHINGLES}) AS bench FROM sh WHERE doc_id = 0) "
        "SELECT doc_id, len(list_intersect(sh.shingles, b.bench))::INTEGER AS n_bench_hits, "
        f"(len(list_intersect(sh.shingles, b.bench)) >= {DECON_FLAG_MIN_HITS}) AS contaminated "
        "FROM sh, b"
    )
    out["corpus_stats"] = (
        "SELECT lang, count(*) AS n_docs, sum(length(text))::BIGINT AS total_chars, "
        "sum(len(string_split(text, ' ')))::BIGINT AS total_words, "
        "max(len(string_split(text, ' ')))::INTEGER AS max_words "
        "FROM documents GROUP BY lang"
    )
    out["length_percentiles"] = (
        "WITH w AS (SELECT lang, len(string_split(text, ' ')) AS words "
        "FROM documents) "
        "SELECT lang, round(quantile_cont(words, 0.5), 6) AS p50_words, "
        "round(quantile_cont(words, 0.9), 6) AS p90_words, "
        "round(quantile_cont(words, 0.99), 6) AS p99_words "
        "FROM w GROUP BY lang"
    )
    from pdfi_spark.ops.textstats import (
        QF_MAX_DUP_3GRAM_FRACTION, QF_MAX_MEAN_WORD_LEN, QF_MAX_WORDS,
        QF_MIN_MEAN_WORD_LEN, QF_MIN_WORDS, SAMPLE_MOD,
    )

    grams3 = ("list_transform(range(0, len(string_split(text, ' ')) - 2), "
              "i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' '))")
    out["repetition_scores"] = (
        f"WITH g AS (SELECT doc_id, {grams3} AS grams FROM documents "
        "WHERE len(string_split(text, ' ')) >= 3) "
        "SELECT doc_id, len(grams)::INTEGER AS n_3grams, "
        "len(list_distinct(grams))::INTEGER AS n_distinct_3grams, "
        "(round(1.0 - len(list_distinct(grams))::DOUBLE / len(grams), 6) + 0.0) AS dup_fraction "
        "FROM g"
    )
    grams3g = ("list_transform(range(0, greatest(len(string_split(text, ' ')) - 2, 1)), "
               "i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' '))")
    out["quality_filter"] = (
        "WITH q AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words, "
        "length(replace(text, ' ', ''))::DOUBLE / len(string_split(text, ' ')) AS mean_wl, "
        "CASE WHEN len(string_split(text, ' ')) >= 3 THEN "
        f"1.0 - len(list_distinct({grams3g}))::DOUBLE / len({grams3g}) "
        "ELSE 0.0 END AS dup_frac FROM documents) "
        f"SELECT doc_id, (n_words >= {QF_MIN_WORDS} AND n_words <= {QF_MAX_WORDS}) AS ok_word_count, "
        f"(mean_wl >= {QF_MIN_MEAN_WORD_LEN} AND mean_wl <= {QF_MAX_MEAN_WORD_LEN}) AS ok_mean_word_len, "
        f"(dup_frac <= {QF_MAX_DUP_3GRAM_FRACTION}) AS ok_repetition, "
        f"(n_words >= {QF_MIN_WORDS} AND n_words <= {QF_MAX_WORDS} "
        f"AND mean_wl >= {QF_MIN_MEAN_WORD_LEN} AND mean_wl <= {QF_MAX_MEAN_WORD_LEN} "
        f"AND dup_frac <= {QF_MAX_DUP_3GRAM_FRACTION}) AS keep FROM q"
    )
    out["corpus_build_counts"] = (
        "WITH base AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN "
        "array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') "
        "ELSE text END AS text FROM documents), "
        "corpus AS (SELECT text FROM base UNION ALL "
        "SELECT text FROM base WHERE doc_id % 7 = 0), "
        "q AS (SELECT text, len(string_split(text, ' ')) AS n_words, "
        "length(replace(text, ' ', ''))::DOUBLE / len(string_split(text, ' ')) AS mean_wl, "
        "CASE WHEN len(string_split(text, ' ')) >= 3 THEN "
        "1.0 - len(list_distinct(list_transform(range(0, greatest(len(string_split(text, ' ')) - 2, 1)), i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' '))))::DOUBLE / len(list_transform(range(0, greatest(len(string_split(text, ' ')) - 2, 1)), i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' '))) "
        "ELSE 0.0 END AS dup_frac FROM corpus), "
        "k AS (SELECT text, "
        "(n_words >= {QF_MIN_WORDS} AND n_words <= {QF_MAX_WORDS} "
        "AND mean_wl >= {QF_MIN_MEAN_WORD_LEN} AND mean_wl <= {QF_MAX_MEAN_WORD_LEN} "
        "AND dup_frac <= {QF_MAX_DUP_3GRAM_FRACTION}) AS keep FROM q) "
        "SELECT 'ingested' AS stage, count(*) AS n_docs FROM k "
        "UNION ALL SELECT 'quality_pass', sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT FROM k "
        "UNION ALL SELECT 'deduped', count(DISTINCT CASE WHEN keep THEN text END) FROM k"
    ).format(
        QF_MIN_WORDS=QF_MIN_WORDS, QF_MAX_WORDS=QF_MAX_WORDS,
        QF_MIN_MEAN_WORD_LEN=QF_MIN_MEAN_WORD_LEN,
        QF_MAX_MEAN_WORD_LEN=QF_MAX_MEAN_WORD_LEN,
        QF_MAX_DUP_3GRAM_FRACTION=QF_MAX_DUP_3GRAM_FRACTION,
    )
    out["stratified_sample"] = (
        "WITH s AS (SELECT lang, "
        f"CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % {SAMPLE_MOD} = 0 "
        "THEN 1 ELSE 0 END AS kept FROM documents) "
        "SELECT lang, count(*) AS n_docs, sum(kept)::BIGINT AS n_sampled FROM s GROUP BY lang"
    )
    from pdfi_spark.ops.textstats import LANG_SAMPLE_K

    # temperature-scaled language rebalancing: same hash-threshold rule
    # (sqrt and double division are correctly-rounded IEEE in both
    # engines, so the selected doc set is identical bit-for-bit)
    out["lang_balance_sample"] = (
        "WITH fr AS (SELECT lang, "
        f"least(1.0, {LANG_SAMPLE_K!r} / sqrt(count(*))) AS keep_frac "
        "FROM documents GROUP BY lang) "
        "SELECT d.doc_id, d.lang FROM documents d JOIN fr USING (lang) "
        "WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT "
        f"/ {float(1 << 32)!r} < fr.keep_frac"
    )
    from pdfi_spark.ops.textstats import TFIDF_TOPK

    # TF-IDF keywords: idf snapped to 9 decimals in BOTH engines (ln is
    # ~1ulp each side; drift cannot reach the grid), score to 6; ties
    # rank by (score desc, term)
    out["tfidf_top_terms"] = (
        "WITH n AS (SELECT count(*) AS n_docs FROM documents), "
        "w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term "
        "FROM documents), "
        "tfc AS (SELECT doc_id, term, count(*) AS tf FROM w "
        "GROUP BY doc_id, term), "
        "dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term), "
        "idf AS (SELECT term, round(ln(n.n_docs::DOUBLE / df), 9) AS idf "
        "FROM dfc, n), "
        "scored AS (SELECT t.doc_id, t.term, "
        "round(t.tf * i.idf, 6) AS score "
        "FROM tfc t JOIN idf i USING (term)), "
        "ranked AS (SELECT doc_id, term, score, row_number() OVER ("
        "PARTITION BY doc_id ORDER BY score DESC, term) AS rank "
        "FROM scored) "
        f"SELECT doc_id, term, score, rank FROM ranked "
        f"WHERE rank <= {TFIDF_TOPK}"
    )
    out["unigram_surprisal"] = (
        "WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term "
        "FROM documents), "
        "tot AS (SELECT count(*)::DOUBLE AS total FROM w), "
        "freq AS (SELECT term, round(-ln(count(*)::DOUBLE / tot.total), 9) "
        "AS s FROM w, tot GROUP BY term, tot.total) "
        "SELECT w.doc_id, round(avg(f.s), 6) AS mean_surprisal, "
        "count(*) AS n_tokens FROM w JOIN freq f USING (term) "
        "GROUP BY w.doc_id"
    )
    out["ivf_cell_counts"] = (
        _ivf_assigned_cte()
        + " SELECT centroid_id, count(*) AS n_vecs FROM assigned GROUP BY centroid_id"
    )
    out["ivf_train_cells"] = _ivf_train_sql()
    out["semdedup"] = _semdedup_sql()
    cos_cq = _COSINE_RAW.format(a="cvec", b="q.qvec")
    cos_aq = _COSINE_RAW.format(a="a.embedding", b="q.qvec")
    for name, nprobe in (("ivf_topk", 1), ("ivf_topk_nprobe2", IVF_NPROBE)):
        out[name] = (
            _ivf_assigned_cte()
            + ", q AS (SELECT embedding AS qvec FROM embeddings "
            f"WHERE vec_id = {QUERY_VEC_ID}), "
            "qcells AS (SELECT centroid_id FROM cent, q QUALIFY row_number() "
            f"OVER (ORDER BY {cos_cq} DESC, centroid_id ASC) <= {nprobe}) "
            f"SELECT a.vec_id, (round({cos_aq}, 3) + 0.0) AS cosine "
            "FROM assigned a JOIN qcells USING (centroid_id), q "
            f"WHERE a.vec_id <> {QUERY_VEC_ID} "
            f"ORDER BY cosine DESC, a.vec_id ASC LIMIT {SIM_TOPK}"
        )
    from pdfi_spark.ops.similarity import PQ_M, PQ_SUBDIM

    out["pq_codes"] = (
        _pq_cte() + " SELECT vec_id, " + ", ".join(
            f"max(CASE WHEN m = {m} THEN code END) AS code{m}"
            for m in range(PQ_M)
        ) + " FROM codes GROUP BY vec_id"
    )
    # ADC: the query-to-sub-centroid distance table snaps to 9 (both
    # engines sum in element order, so this is belt-and-braces); the
    # PQ_M-addend per-vector sum snaps to 6 so shuffle-order drift on
    # the Spark side cannot reach the grid
    qd2 = _PQ_L2SQ.format(a="q.qv", b="c.cvec", n=PQ_SUBDIM)
    out["pq_topk"] = (
        _pq_cte()
        + f", q AS (SELECT m, sv AS qv FROM sv WHERE vec_id = {QUERY_VEC_ID}), "
        f"qtab AS (SELECT c.m, c.centroid_id AS code, round({qd2}, 9) "
        "AS qd2 FROM q JOIN cs c USING (m)), "
        "est AS (SELECT cd.vec_id, round(sum(qd2), 6) AS est_d2 "
        "FROM codes cd JOIN qtab USING (m, code) GROUP BY cd.vec_id) "
        "SELECT vec_id, est_d2 FROM est "
        f"ORDER BY est_d2 ASC, vec_id ASC LIMIT {PQ_TOPK}"
    )
    from pdfi_spark.ops.similarity import PQ_SHORTLIST

    # two-stage: ADC shortlist (est_d2 grid shared with pq_topk), exact
    # full-vector squared L2 only for the shortlist, snapped to 6
    ed2 = _PQ_L2SQ.format(a="e.embedding", b="qq.qvec", n=64)
    out["pq_topk_refine"] = (
        _pq_cte()
        + f", q AS (SELECT m, sv AS qv FROM sv WHERE vec_id = {QUERY_VEC_ID}), "
        f"qtab AS (SELECT c.m, c.centroid_id AS code, round({qd2}, 9) "
        "AS qd2 FROM q JOIN cs c USING (m)), "
        "est AS (SELECT cd.vec_id, round(sum(qd2), 6) AS est_d2 "
        "FROM codes cd JOIN qtab USING (m, code) GROUP BY cd.vec_id), "
        "short AS (SELECT vec_id FROM est "
        f"ORDER BY est_d2 ASC, vec_id ASC LIMIT {PQ_SHORTLIST}), "
        "qq AS (SELECT embedding AS qvec FROM embeddings "
        f"WHERE vec_id = {QUERY_VEC_ID}) "
        f"SELECT e.vec_id, round({ed2}, 6) AS d2 "
        "FROM embeddings e JOIN short USING (vec_id), qq "
        f"ORDER BY d2 ASC, e.vec_id ASC LIMIT {PQ_TOPK}"
    )
    from pdfi_spark.ops.multimodal import MAGIC

    # prefix-sliced in lockstep with ops.multimodal.media_metadata: hex
    # only ever sees 4 bytes (text is printable ASCII, so substr == bytes)
    prefix_hex = "upper(hex(encode(substr(text, 1, 4))))"
    codec_case = "CASE " + " ".join(
        f"WHEN substr({prefix_hex}, 1, {len(p.hex())}) = "
        f"'{p.hex().upper()}' THEN '{name}'"
        for p, name, _m in MAGIC
    ) + " ELSE 'unknown' END"
    out["media_metadata"] = (
        "SELECT doc_id, octet_length(encode(text))::INTEGER AS n_bytes, "
        f"{prefix_hex} AS magic_hex, "
        f"{codec_case} AS codec FROM documents"
    )
    # text is pure printable ASCII (verified), so char ops == byte ops
    out["media_feature_summary"] = (
        "WITH s AS (SELECT doc_id, text, length(text) AS n, "
        "greatest(1, length(text) // 8) AS stride FROM documents) "
        "SELECT doc_id, "
        "(list_sum(list_transform(range(1, stride + 1), "
        "i -> ord(substr(text, i::INT, 1))))::DOUBLE / stride / 255.0) AS f0, "
        "4 AS n_frames, (n // 4)::INTEGER AS frame1_offset FROM s"
    )
    from pdfi_spark.ops.multimodal import RESIZE_TARGET

    out["media_resize"] = (
        "WITH s AS (SELECT doc_id, text, length(text) AS n, "
        f"greatest(1, length(text) // {RESIZE_TARGET}) AS stride FROM documents), "
        "t AS (SELECT doc_id, "
        f"list_slice(list_transform(range(0, ((n - 1) // stride) + 1), "
        f"i -> substr(text, (i * stride + 1)::INT, 1)), 1, {RESIZE_TARGET}) AS thumb FROM s) "
        "SELECT doc_id, len(thumb)::INTEGER AS thumb_bytes, "
        "upper(hex(encode(array_to_string(list_slice(thumb, 1, 4), '')))) AS thumb_prefix_hex "
        "FROM t"
    )
    out["extract_streaming"] = (
        "SELECT doc_id, "
        + ORACLE_EXPECTED_SQL["flate"].format(col="text")
        + " AS text FROM documents"
    )
    out["pipeline_resume_counts"] = (
        "SELECT doc_id, "
        + ORACLE_EXPECTED_SQL["flate"].format(col="text")
        + " AS text, 2 AS buckets_skipped FROM documents"
    )
    from pdfi_spark.ops.webtext import (
        BOILER_N_BOILER_BLOCKS, BOILER_N_BOILER_WORDS, HTML_ORACLE_RECIPES,
    )

    # boilerplate stripping must recover the golden text exactly, for
    # every page shape (plain/boiler/linkfarm/entities/nested/malformed)
    for recipe in HTML_ORACLE_RECIPES:
        out[f"html_{recipe}"] = "SELECT doc_id, text AS main_text FROM documents"
    # latin1's golden text carries the generator's accent injection: the
    # page is ISO-8859-1 bytes behind a <meta charset>, so a match here
    # proves the charset prescan ran (a UTF-8 misdecode cannot roundtrip)
    out["html_latin1"] = (
        "SELECT doc_id, replace(replace(text, 'a', 'á'), 'e', 'é') "
        "AS main_text FROM documents"
    )
    out["html_streaming"] = "SELECT doc_id, text AS main_text FROM documents"
    # WARC roundtrip: url is closed-form, main_text must survive the
    # .warc.gz container (member-per-record gzip, Content-Length framing,
    # HTTP-head split), n_records pins the request/response/metadata triple
    out["warc_extract"] = (
        "SELECT doc_id, 'https://example.org/page/' || doc_id AS url, "
        "text AS main_text, 3::INTEGER AS n_records FROM documents"
    )
    out["warc_streaming"] = "SELECT doc_id, text AS main_text FROM documents"
    # WET roundtrip: the conversion record's payload must come back as
    # the exact source text with its UTF-8 octet length
    out["wet_export"] = (
        "SELECT doc_id, 'https://example.org/page/' || doc_id AS url, "
        "text AS wet_text, "
        "octet_length(encode(text))::INTEGER AS n_payload_bytes "
        "FROM documents"
    )
    out["html_block_stats"] = (
        f"SELECT doc_id, (1 + {BOILER_N_BOILER_BLOCKS})::INTEGER AS n_blocks, "
        "1::INTEGER AS n_content_blocks, "
        f"{BOILER_N_BOILER_BLOCKS}::INTEGER AS n_boiler_blocks, "
        "len(string_split(text, ' '))::INTEGER AS n_content_words, "
        f"{BOILER_N_BOILER_WORDS}::INTEGER AS n_boiler_words FROM documents"
    )
    # outlink edges are planted closed-form in doc_id (htmlgen
    # .outlink_targets: out-degree 2 + doc_id%3, target stride 17), so
    # the oracle reconstructs the edge list the anchor parser must find
    _edges_cte = (
        "WITH n AS (SELECT count(*) AS n_docs FROM documents), "
        "fanout AS (SELECT doc_id, unnest(range(0, doc_id % 3 + 2)) AS i "
        "FROM documents), "
        "edges AS (SELECT f.doc_id AS src, "
        "(f.doc_id * 31 + 17 * f.i + 7) % n.n_docs AS dst, "
        "f.i::INTEGER AS link_rank FROM fanout f, n) "
    )
    out["html_outlinks"] = _edges_cte + "SELECT src, dst, link_rank FROM edges"
    # triangle census: low->high orientation, wedge join on the middle
    # vertex, closing join on the endpoint pair — same closed-form edges
    out["link_graph_triangles"] = (
        _edges_cte
        + ", und AS (SELECT DISTINCT least(src, dst) AS lo, "
          "greatest(src, dst) AS hi FROM edges WHERE src <> dst), "
          "wed AS (SELECT x.lo AS a, x.hi AS b, y.hi AS c "
          "FROM und x JOIN und y ON x.hi = y.lo), "
          "tri AS (SELECT a FROM wed JOIN und z "
          "ON z.lo = wed.a AND z.hi = wed.c) "
          "SELECT (SELECT count(*) FROM und) AS n_edges, "
          "(SELECT count(*) FROM wed) AS n_wedges, "
          "(SELECT count(*) FROM tri) AS n_triangles"
    )
    out["link_graph_degrees"] = (
        _edges_cte
        + "SELECT dst, count(*) AS in_degree, min(src) AS min_src "
          "FROM edges GROUP BY dst"
    )
    # anchor text is planted as 'document {target}' by build_linked_page,
    # so the inbound-anchor rollup is closed-form over the same edges
    out["anchor_text_index"] = (
        _edges_cte
        + "SELECT dst, count(*) AS n_inlinks, "
          "count(DISTINCT src) AS n_unique_srcs, "
          "min('document ' || dst) AS top_anchor, "
          "min(src) AS first_src FROM edges GROUP BY dst"
    )
    # pagerank: unroll the power iteration (ranks snapped to 12 decimals
    # per iterate in BOTH engines, so the fixpoint path is cross-engine
    # exact — same determinism trick as the Lloyd/kmeans oracle)
    from pdfi_spark.ops.webtext import (
        PAGERANK_DAMPING as _PR_D,
        PAGERANK_ITERS as _PR_K,
        PAGERANK_TOPK as _PR_TOPK,
    )

    _pr = _edges_cte + (
        ", deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src), "
        "ew AS (SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / d.deg AS w "
        "FROM edges e JOIN deg d USING (src)), "
        "r0 AS (SELECT doc_id, "
        "round(CAST(1.0 AS DOUBLE) / n.n_docs, 12) AS rank "
        "FROM documents, n) "
    )
    for _i in range(1, _PR_K + 1):
        _pr += (
            f", r{_i} AS (SELECT d.doc_id, "
            f"round(CAST({1.0 - _PR_D!r} AS DOUBLE) / n.n_docs + "
            f"CAST({_PR_D!r} AS DOUBLE) * coalesce(s.s, 0), 12) AS rank "
            f"FROM documents d CROSS JOIN n LEFT JOIN "
            f"(SELECT ew.dst AS doc_id, sum(ew.w * r{_i - 1}.rank) AS s "
            f"FROM ew JOIN r{_i - 1} ON r{_i - 1}.doc_id = ew.src "
            f"GROUP BY ew.dst) s ON s.doc_id = d.doc_id)"
        )
    out["link_graph_pagerank"] = _pr + (
        f" SELECT doc_id, round(rank, 6) AS pagerank FROM r{_PR_K} "
        f"ORDER BY pagerank DESC, doc_id LIMIT {_PR_TOPK}"
    )
    # dangling variant: sources with doc_id % 7 == 0 lose their outlinks
    # (~14% of nodes dangle, modeling a crawl's unfetched frontier); each
    # unrolled iterate adds the dangling-mass scalar dm/n, snapped to 12
    # decimals like the ranks so the redistribution arithmetic is
    # cross-engine exact (ops/webtext.py _pagerank_topk)
    from pdfi_spark.ops.webtext import PAGERANK_DANGLING_MOD as _PR_MOD

    _prd = _edges_cte + (
        f", ewmf AS (SELECT * FROM edges WHERE src % {_PR_MOD} <> 0), "
        "degd AS (SELECT src, count(*) AS deg FROM ewmf GROUP BY src), "
        "ewd AS (SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / d.deg AS w "
        "FROM ewmf e JOIN degd d USING (src)), "
        "r0 AS (SELECT doc_id, "
        "round(CAST(1.0 AS DOUBLE) / n.n_docs, 12) AS rank "
        "FROM documents, n) "
    )
    for _i in range(1, _PR_K + 1):
        _prd += (
            f", dm{_i} AS (SELECT round(coalesce(sum(rank), 0), 12) AS dm "
            f"FROM r{_i - 1} WHERE doc_id NOT IN "
            f"(SELECT DISTINCT src FROM ewd)), "
            f"r{_i} AS (SELECT d.doc_id, "
            f"round(CAST({1.0 - _PR_D!r} AS DOUBLE) / n.n_docs + "
            f"CAST({_PR_D!r} AS DOUBLE) * (coalesce(s.s, 0) + "
            f"dm{_i}.dm / n.n_docs), 12) AS rank "
            f"FROM documents d CROSS JOIN n CROSS JOIN dm{_i} LEFT JOIN "
            f"(SELECT ewd.dst AS doc_id, sum(ewd.w * r{_i - 1}.rank) AS s "
            f"FROM ewd JOIN r{_i - 1} ON r{_i - 1}.doc_id = ewd.src "
            f"GROUP BY ewd.dst) s ON s.doc_id = d.doc_id)"
        )
    out["link_graph_pagerank_dangling"] = _prd + (
        f" SELECT doc_id, round(rank, 6) AS pagerank FROM r{_PR_K} "
        f"ORDER BY pagerank DESC, doc_id LIMIT {_PR_TOPK}"
    )
    # HITS: unroll the mutual power iteration; per-node sums AND the L1
    # totals snapped to 12 each half-step (same determinism recipe as
    # pagerank above); sc is the per-level score column (auth in a{i},
    # hub in h{i})
    from pdfi_spark.ops.webtext import (
        HITS_ITERS as _HI_K,
        HITS_TOPK as _HI_T,
    )

    _hits = _edges_cte + (
        ", h0 AS (SELECT doc_id, "
        "round(CAST(1.0 AS DOUBLE) / n.n_docs, 12) AS sc "
        "FROM documents, n) "
    )
    for _i in range(1, _HI_K + 1):
        _hits += (
            f", ar{_i} AS (SELECT d.doc_id, coalesce(s.raw, 0) AS raw "
            f"FROM documents d LEFT JOIN (SELECT e.dst AS doc_id, "
            f"round(sum(h{_i - 1}.sc), 12) AS raw FROM edges e "
            f"JOIN h{_i - 1} ON h{_i - 1}.doc_id = e.src "
            f"GROUP BY e.dst) s ON s.doc_id = d.doc_id), "
            f"at{_i} AS (SELECT round(sum(raw), 12) AS tot FROM ar{_i}), "
            f"a{_i} AS (SELECT doc_id, round(raw / t.tot, 12) AS sc "
            f"FROM ar{_i}, at{_i} t), "
            f"hr{_i} AS (SELECT d.doc_id, coalesce(s.raw, 0) AS raw "
            f"FROM documents d LEFT JOIN (SELECT e.src AS doc_id, "
            f"round(sum(a{_i}.sc), 12) AS raw FROM edges e "
            f"JOIN a{_i} ON a{_i}.doc_id = e.dst "
            f"GROUP BY e.src) s ON s.doc_id = d.doc_id), "
            f"ht{_i} AS (SELECT round(sum(raw), 12) AS tot FROM hr{_i}), "
            f"h{_i} AS (SELECT doc_id, round(raw / t.tot, 12) AS sc "
            f"FROM hr{_i}, ht{_i} t)"
        )
    out["link_graph_hits"] = _hits + (
        f" SELECT a.doc_id AS doc_id, round(a.sc, 6) AS authority, "
        f"round(h.sc, 6) AS hub_score FROM a{_HI_K} a "
        f"JOIN h{_HI_K} h ON a.doc_id = h.doc_id "
        f"ORDER BY authority DESC, doc_id LIMIT {_HI_T}"
    )
    # URL canonicalization: the raw messy URL is planted closed-form in
    # doc_id (ops/webtext._raw_url_expr), so the oracle rebuilds the
    # identical strings and applies the same rule chain (DuckDB
    # regexp_replace needs the explicit 'g' flag where Spark's
    # replaces-all semantics are relied on — only the dup-slash rule)
    _raw_url_sql = (
        "(CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END || "
        "CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.COM' "
        "ELSE 'example.com' END || "
        "CASE WHEN doc_id % 4 = 0 THEN ':80' "
        "WHEN doc_id % 4 = 1 THEN ':8080' "
        "WHEN doc_id % 4 = 3 THEN ':443' ELSE '' END || "
        "CASE WHEN doc_id % 5 = 0 THEN '//Doc//' ELSE '/Doc/' END || "
        "(doc_id % 50)::VARCHAR || "
        "CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1' ELSE '?a=1&b=2' END || "
        "CASE WHEN doc_id % 7 = 0 THEN '&utm_source=feed' ELSE '' END || "
        "CASE WHEN doc_id % 3 = 0 THEN '#Section-2' ELSE '' END)"
    )
    _canon_cte = (
        f"WITH raw AS (SELECT doc_id, {_raw_url_sql} AS raw_url "
        "FROM documents), "
        "c0 AS (SELECT doc_id, raw_url, "
        "regexp_replace(raw_url, '#.*$', '') AS u FROM raw), "
        "c1 AS (SELECT doc_id, raw_url, "
        "lower(regexp_extract(u, '^([^:/?#]+://[^/?#]*)', 1)) || "
        "regexp_replace(u, '^[^:/?#]+://[^/?#]*', '') AS u FROM c0), "
        "c2 AS (SELECT doc_id, raw_url, regexp_replace(regexp_replace(u, "
        "'^(http://[^/?#:]+):80([/?]|$)', '\\1\\2'), "
        "'^(https://[^/?#:]+):443([/?]|$)', '\\1\\2') AS u FROM c1), "
        "c3 AS (SELECT doc_id, raw_url, "
        "regexp_replace(u, '([^:/])/{2,}', '\\1/', 'g') AS u FROM c2), "
        "c4 AS (SELECT doc_id, raw_url, u, "
        "array_to_string(list_sort(list_filter(string_split("
        "regexp_extract(u, '\\?([^#]*)', 1), '&'), "
        "p -> NOT starts_with(p, 'utm_'))), '&') AS sq, "
        "regexp_replace(u, '\\?.*$', '') AS base FROM c3), "
        "canon AS (SELECT doc_id, raw_url, "
        "CASE WHEN sq = '' THEN base ELSE base || '?' || sq END "
        "AS canon_url FROM c4)"
    )
    out["url_canonicalize"] = (
        _canon_cte + " SELECT doc_id, raw_url, canon_url FROM canon"
    )
    out["url_dedup_counts"] = (
        _canon_cte + " SELECT canon_url, count(*) AS n_docs, "
        "min(doc_id) AS keep_id FROM canon GROUP BY canon_url"
    )
    out["url_dedup_streaming"] = (
        _canon_cte + " SELECT canon_url, count(*) AS n_docs, "
        "min(doc_id) AS keep_id FROM canon GROUP BY canon_url"
    )
    out["crawl_diff"] = (
        "WITH n AS (SELECT count(*) AS n FROM documents), "
        "old AS (SELECT 'https://example.org/page/' || doc_id AS url, "
        "md5(text) AS old_digest FROM documents, n "
        "WHERE doc_id < (n.n * 0.8)::BIGINT), "
        "new AS (SELECT 'https://example.org/page/' || doc_id AS url, "
        "md5(CASE WHEN doc_id % 5 = 0 THEN text || ' updated' "
        "ELSE text END) AS new_digest FROM documents, n "
        "WHERE doc_id >= (n.n * 0.2)::BIGINT) "
        "SELECT coalesce(old.url, new.url) AS url, "
        "CASE WHEN new_digest IS NULL THEN 'gone' "
        "WHEN old_digest IS NULL THEN 'new' "
        "WHEN old_digest = new_digest THEN 'unchanged' "
        "ELSE 'changed' END AS status "
        "FROM old FULL OUTER JOIN new ON old.url = new.url"
    )
    # content-level increment twin: digest index = DISTINCT md5 over the
    # prior snapshot; novelty = LEFT JOIN miss on the digest key
    out["incremental_content_dedup"] = (
        "WITH n AS (SELECT count(*) AS n FROM documents), "
        "old AS (SELECT DISTINCT md5(text) AS digest FROM documents, n "
        "WHERE doc_id < (n.n * 0.8)::BIGINT), "
        "new AS (SELECT doc_id, "
        "md5(CASE WHEN doc_id % 5 = 0 THEN text || ' updated' "
        "ELSE text END) AS digest FROM documents, n "
        "WHERE doc_id >= (n.n * 0.2)::BIGINT) "
        "SELECT new.doc_id, new.digest, old.digest IS NULL AS novel "
        "FROM new LEFT JOIN old ON new.digest = old.digest"
    )
    # rolling-window hashes: ws[i+1:i+k] is the k-word window at offset
    # i (inclusive 1-based slice = Spark slice(words, i+1, k)); sums are
    # ::BIGINT-cast (DuckDB sum(BIGINT) -> HUGEINT breaks the hash)
    from pdfi_spark.ops.dedup import DUP_WINDOW_WORDS as _K
    out["exact_substring_dup"] = (
        "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws "
        "FROM documents), "
        "inst AS (SELECT doc_id, "
        f"md5(array_to_string(ws[i+1:i+{_K}], ' ')) AS whash, "
        "count(*) AS cnt FROM (SELECT doc_id, ws, "
        f"unnest(range(0, len(ws) - {_K} + 1)) AS i FROM w) "
        "GROUP BY doc_id, whash), "
        "gw AS (SELECT whash, sum(cnt)::BIGINT AS gcnt FROM inst "
        "GROUP BY whash), "
        "per_doc AS (SELECT doc_id, sum(cnt)::BIGINT AS n_windows, "
        "sum(CASE WHEN gcnt >= 2 THEN cnt ELSE 0 END)::BIGINT "
        "AS n_dup_windows FROM inst JOIN gw USING (whash) "
        "GROUP BY doc_id) "
        "SELECT doc_id, n_windows, n_dup_windows, "
        "round(n_dup_windows / n_windows, 6) AS dup_frac FROM per_doc"
    )
    # excision twin: duplicated offsets per doc via the same window
    # hashes; keep = no duplicated offset covers position i
    # (list_filter over the tiny per-doc offset list); string_agg
    # skips the CASE NULLs so kept words rejoin in position order
    out["exact_substring_excise"] = (
        "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws "
        "FROM documents), "
        "pos AS (SELECT doc_id, ws, unnest(range(0, len(ws))) AS i "
        "FROM w), "
        "inst AS (SELECT doc_id, i AS off, "
        f"md5(array_to_string(ws[i+1:i+{_K}], ' ')) AS whash "
        f"FROM pos WHERE i <= len(ws) - {_K}), "
        "dup AS (SELECT whash FROM inst GROUP BY whash "
        "HAVING count(*) >= 2), "
        "offs AS (SELECT doc_id, list(off) AS offs FROM inst "
        "JOIN dup USING (whash) GROUP BY doc_id), "
        "tok AS (SELECT p.doc_id, p.i, p.ws[p.i+1] AS wd, "
        "len(list_filter(coalesce(o.offs, []), "
        f"x -> p.i >= x AND p.i <= x + {_K - 1})) = 0 AS keep "
        "FROM pos p LEFT JOIN offs o ON p.doc_id = o.doc_id) "
        "SELECT doc_id, "
        "coalesce(string_agg(CASE WHEN keep THEN wd END, ' ' "
        "ORDER BY i), '') AS clean_text, "
        "sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT "
        "AS n_removed_words FROM tok GROUP BY doc_id"
    )
    # idf/term-score snapped to 9 then the per-doc sum to 6, mirroring
    # the Spark expression tree; avgdl = one double division of two
    # exact integer aggregates (::DOUBLE casts keep it off HUGEINT)
    from pdfi_spark.ops.textstats import (BM25_B as _B25B,
                                          BM25_K1 as _B25K,
                                          BM25_QUERY as _B25Q,
                                          BM25_TOPK as _B25N)
    _b25_terms = ", ".join("'{}'".format(t) for t in _B25Q)
    out["bm25_topk"] = (
        "WITH p AS (SELECT count(*)::DOUBLE AS n, "
        "sum(len(string_split(text, ' ')))::DOUBLE / count(*)::DOUBLE "
        "AS avgdl FROM documents), "
        "t AS (SELECT doc_id, len(string_split(text, ' ')) AS dl, "
        "unnest(string_split(text, ' ')) AS term FROM documents), "
        "tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM t "
        f"WHERE term IN ({_b25_terms}) GROUP BY doc_id, dl, term), "
        "dfx AS (SELECT term, "
        "round(ln((p.n - count(*) + 0.5) / (count(*) + 0.5) + 1), 9) "
        "AS idf FROM tf, p GROUP BY term, p.n), "
        # k1/b literals MUST be ::DOUBLE — DuckDB floats are DECIMAL,
        # and tf * exact-decimal 2.2 rounds to a DIFFERENT double than
        # Spark's tf * double(2.2)
        "s AS (SELECT doc_id, "
        f"round(idf * (tf * ({_B25K}::DOUBLE + 1)) / (tf + "
        f"{_B25K}::DOUBLE * (1 - {_B25B}::DOUBLE + "
        f"{_B25B}::DOUBLE * dl / p.avgdl)), 9) AS s "
        "FROM tf JOIN dfx USING (term), p) "
        "SELECT doc_id, round(sum(s), 6) AS score FROM s "
        f"GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT {_B25N}"
    )
    # per-lang tercile thresholds via quantile_cont (bit-matches Spark's
    # exact percentile — length_percentiles precedent), snapped to 9;
    # tercile fractions embedded via repr so both engines see the same
    # double literal
    from pdfi_spark.ops.textstats import SURPRISAL_TERCILES as _TERC
    out["surprisal_buckets"] = (
        "WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) "
        "AS term FROM documents), "
        "tot AS (SELECT count(*)::DOUBLE AS total FROM w), "
        "freq AS (SELECT term, round(-ln(count(*)::DOUBLE / tot.total), "
        "9) AS s FROM w, tot GROUP BY term, tot.total), "
        "sdoc AS (SELECT w.doc_id, round(avg(f.s), 6) AS mean_surprisal "
        "FROM w JOIN freq f USING (term) GROUP BY w.doc_id), "
        "s2 AS (SELECT sdoc.doc_id, d.lang, sdoc.mean_surprisal "
        "FROM sdoc JOIN documents d USING (doc_id)), "
        "th AS (SELECT lang, "
        f"round(quantile_cont(mean_surprisal, {_TERC[0]!r}), 9) AS t1, "
        f"round(quantile_cont(mean_surprisal, {_TERC[1]!r}), 9) AS t2 "
        "FROM s2 GROUP BY lang) "
        "SELECT s2.doc_id, s2.lang, s2.mean_surprisal, "
        "CASE WHEN mean_surprisal <= t1 THEN 'head' "
        "WHEN mean_surprisal <= t2 THEN 'middle' ELSE 'tail' END "
        "AS bucket FROM s2 JOIN th USING (lang)"
    )
    out["host_stats"] = (
        _canon_cte + ", h AS (SELECT "
        "regexp_extract(canon_url, '^[a-z]+://([^/:?#]+)', 1) AS host, "
        "canon_url FROM canon) "
        "SELECT host, count(*) AS n_pages, "
        "count(DISTINCT canon_url) AS n_canon_urls FROM h GROUP BY host"
    )
    from pdfi_spark.ops.webtext import HLL_ALPHA, HLL_M

    # deterministic HyperLogLog twin: same md5-derived registers, the
    # same exact dyadic Z, the same snapped linear-counting branch.
    # float literals are DECIMAL in DuckDB — ::DOUBLE everywhere; the
    # alpha*m^2 constant REGENERATES from HLL_ALPHA so both engines
    # embed the identical Python double (never inline the number)
    out["host_url_hll"] = (
        _canon_cte + ", hh AS (SELECT "
        "regexp_extract(canon_url, '^[a-z]+://([^/:?#]+)', 1) AS host, "
        "canon_url, md5(canon_url) AS hx FROM canon), "
        "r AS (SELECT host, canon_url, "
        f"('0x' || substr(hx, 1, 8))::BIGINT % {HLL_M} AS reg, "
        "CASE WHEN ('0x' || substr(hx, 9, 8))::BIGINT = 0 THEN 33 "
        "ELSE 33 - length(bin(('0x' || substr(hx, 9, 8))::BIGINT)) END "
        "AS rho FROM hh), "
        "pr AS (SELECT host, reg, max(rho) AS m_reg FROM r "
        "GROUP BY host, reg), "
        "sk AS (SELECT host, count(*) AS n_regs, "
        "sum(power(2.0::DOUBLE, -m_reg)) AS z_present FROM pr "
        "GROUP BY host), "
        "ex AS (SELECT host, count(DISTINCT canon_url) AS n_exact "
        "FROM r GROUP BY host), "
        f"ee AS (SELECT host, ({HLL_M} - n_regs)::DOUBLE AS v, "
        f"{HLL_ALPHA * HLL_M * HLL_M!r} / "
        f"(z_present + ({HLL_M} - n_regs)::DOUBLE) AS raw FROM sk) "
        "SELECT ee.host, ex.n_exact, "
        f"round(CASE WHEN raw <= {2.5 * HLL_M!r} AND v > 0 "
        f"THEN {float(HLL_M)!r} * round(ln({float(HLL_M)!r} / v), 9) "
        "ELSE raw END, 6) "
        "AS hll_est FROM ee JOIN ex USING (host)"
    )
    from pdfi_spark.ops.textstats import CMS_D, CMS_TOPK, CMS_W

    # CMS twin: identical md5 cells, all-integer — no rounding anywhere.
    # sum(BIGINT) is HUGEINT in DuckDB -> ::BIGINT (the pandas-float trap)
    out["cms_heavy_hitters"] = (
        "WITH w AS (SELECT unnest(string_split(text, ' ')) AS term "
        "FROM documents), "
        "tc AS (SELECT term, count(*) AS n FROM w GROUP BY term), "
        f"rws AS (SELECT unnest(range(0, {CMS_D})) AS r), "
        "buck AS (SELECT r, term, n, "
        "('0x' || substr(md5(r::VARCHAR || ':' || term), 1, 8))::BIGINT "
        f"% {CMS_W} AS bucket FROM tc CROSS JOIN rws), "
        "cnt AS (SELECT r, bucket, sum(n)::BIGINT AS c FROM buck "
        "GROUP BY r, bucket), "
        "top AS (SELECT term, n FROM tc "
        f"ORDER BY n DESC, term ASC LIMIT {CMS_TOPK}) "
        "SELECT t.term, t.n AS n_true, min(c.c) AS cms_est "
        "FROM top t JOIN buck b USING (term) "
        "JOIN cnt c ON c.r = b.r AND c.bucket = b.bucket "
        "GROUP BY t.term, t.n"
    )
    from pdfi_spark.ops.webtext import BLOOM_K, BLOOM_M

    # Bloom gate twin: identical md5 bit positions over the same
    # closed-form snapshot split as incremental_content_dedup; probe =
    # LEFT JOIN per (doc, hash j) against the set-bit table, bool_and
    out["bloom_dedup_gate"] = (
        "WITH n AS (SELECT count(*) AS n FROM documents), "
        "old AS (SELECT DISTINCT md5(text) AS digest FROM documents, n "
        "WHERE doc_id < (n.n * 0.8)::BIGINT), "
        f"ks AS (SELECT unnest(range(0, {BLOOM_K})) AS j), "
        "bits AS (SELECT DISTINCT "
        "('0x' || substr(md5(j::VARCHAR || ':' || digest), 1, 8))::BIGINT "
        f"% {BLOOM_M} AS pos FROM old CROSS JOIN ks), "
        "new AS (SELECT doc_id, "
        "md5(CASE WHEN doc_id % 5 = 0 THEN text || ' updated' "
        "ELSE text END) AS digest FROM documents, n "
        "WHERE doc_id >= (n.n * 0.2)::BIGINT), "
        "probe AS (SELECT doc_id, "
        "('0x' || substr(md5(j::VARCHAR || ':' || digest), 1, 8))::BIGINT "
        f"% {BLOOM_M} AS pos FROM new CROSS JOIN ks), "
        "hit AS (SELECT doc_id, bool_and(b.pos IS NOT NULL) "
        "AS bloom_maybe_dup FROM probe p LEFT JOIN bits b USING (pos) "
        "GROUP BY doc_id) "
        "SELECT h.doc_id, h.bloom_maybe_dup, "
        "o.digest IS NOT NULL AS exact_dup "
        "FROM hit h JOIN new USING (doc_id) "
        "LEFT JOIN old o ON new.digest = o.digest"
    )
    from pdfi_spark.ops.webtext import HOST_CAP

    # per-host cap twin: identical hash order (md5 of the decimal
    # doc_id string), row_number ::BIGINT (Spark casts its int to long)
    out["host_cap_sample"] = (
        _canon_cte + ", h AS (SELECT doc_id, "
        "regexp_extract(canon_url, '^[a-z]+://([^/:?#]+)', 1) AS host "
        "FROM canon), "
        "r AS (SELECT doc_id, host, row_number() OVER "
        "(PARTITION BY host ORDER BY md5(doc_id::VARCHAR), doc_id)"
        "::BIGINT AS host_rank FROM h) "
        "SELECT doc_id, host, host_rank, "
        f"host_rank <= {HOST_CAP} AS kept FROM r"
    )
    from pdfi_spark.ops.textstats import PMI_MIN_COUNT, PMI_TOPK

    # PMI twin: totals as count(*)::DOUBLE scalars (the Spark side
    # embeds the same exact-integer values as Python floats); the
    # probability ratio is written in the IDENTICAL operation order so
    # every intermediate double matches bit-for-bit before the one
    # snapped ln
    out["pmi_collocations"] = (
        "WITH s AS (SELECT string_split(text, ' ') AS ws "
        "FROM documents), "
        "idx AS (SELECT unnest(range(2, len(ws) + 1)) AS i, ws FROM s), "
        "big AS (SELECT ws[i - 1] AS w1, ws[i] AS w2 FROM idx), "
        "uw AS (SELECT unnest(ws) AS w FROM s), "
        "nu AS (SELECT count(*)::DOUBLE AS n FROM uw), "
        "nb AS (SELECT count(*)::DOUBLE AS n FROM big), "
        "c12 AS (SELECT w1, w2, count(*) AS c12 FROM big "
        f"GROUP BY w1, w2 HAVING count(*) >= {PMI_MIN_COUNT}), "
        "uni AS (SELECT w, count(*) AS c FROM uw GROUP BY w) "
        "SELECT c12.w1, c12.w2, c12.c12, "
        "round(ln((c12.c12 / nb.n) / ((u1.c / nu.n) * (u2.c / nu.n))), "
        "9) AS pmi "
        "FROM c12 JOIN uni u1 ON u1.w = c12.w1 "
        "JOIN uni u2 ON u2.w = c12.w2, nu, nb "
        f"ORDER BY pmi DESC, w1, w2 LIMIT {PMI_TOPK}"
    )
    from pdfi_spark.ops.textstats import WSAMPLE_K

    # Efraimidis-Spirtakis twin: u = (h+1)/2^32 exact dyadic, ln
    # snapped 9 BEFORE the division by the exact integer weight —
    # identical correctly-rounded double ops in identical order
    out["weighted_sample"] = (
        "WITH k AS (SELECT doc_id, "
        "len(string_split(text, ' '))::BIGINT AS weight, "
        "round(-ln((('0x' || substr(md5(doc_id::VARCHAR || ':ws'), 1, 8))"
        "::BIGINT + 1) / 4294967296), 9) AS lnu FROM documents) "
        "SELECT doc_id, weight, lnu / weight AS sample_key FROM k "
        f"ORDER BY sample_key ASC, doc_id ASC LIMIT {WSAMPLE_K}"
    )
    from pdfi_spark.ops.textstats import HIST_BUCKET_WORDS as _HW
    from pdfi_spark.ops.textstats import HIST_QS

    # histogram-quantile twin: quantile literals ::DOUBLE (DECIMAL*n
    # would ceil differently than Spark's double path); window sums
    # ::BIGINT (the HUGEINT pandas-float trap); interpolation written
    # in the identical integer-then-one-double-division order
    _qs_list = ", ".join(f"{q!r}::DOUBLE" for q in HIST_QS)
    out["length_histogram_quantiles"] = (
        "WITH w AS (SELECT lang, len(string_split(text, ' ')) AS words "
        "FROM documents), "
        f"b AS (SELECT lang, words // {_HW} AS bucket, count(*) AS cnt "
        "FROM w GROUP BY lang, bucket), "
        "c AS (SELECT lang, bucket, cnt, "
        "sum(cnt) OVER (PARTITION BY lang ORDER BY bucket)::BIGINT "
        "AS cum, sum(cnt) OVER (PARTITION BY lang)::BIGINT AS n FROM b), "
        f"q AS (SELECT unnest([{_qs_list}]) AS q), "
        "r AS (SELECT lang, q.q, bucket, cnt, cum, "
        "ceil(q.q * n)::BIGINT AS rank FROM c CROSS JOIN q "
        "WHERE cum >= ceil(q.q * n)::BIGINT "
        "QUALIFY row_number() OVER (PARTITION BY lang, q.q "
        "ORDER BY bucket) = 1) "
        f"SELECT lang, q, round(bucket * {_HW} + {_HW} * "
        "(rank - (cum - cnt)) / cnt, 9) AS est_words FROM r"
    )
    # CDX capture index: SURT urlkey = reversed host labels + ')' +
    # path?query slice of the same canonical URL; the deterministic ts
    # and digest are planted closed-form from doc_id/text
    out["cdx_index"] = (
        _canon_cte + ", h AS (SELECT doc_id, canon_url, "
        "regexp_extract(canon_url, '^[a-z]+://([^/:?#]+)', 1) AS host, "
        "regexp_extract(canon_url, '^[a-z]+://[^/?#]+(.*)$', 1) AS rest "
        "FROM canon) "
        "SELECT d.doc_id, "
        "array_to_string(list_reverse(string_split(h.host, '.')), ',') "
        "|| ')' || h.rest AS urlkey, "
        "'202601' || lpad(((d.doc_id % 28) + 1)::VARCHAR, 2, '0') "
        "|| '000000' AS ts, "
        "h.canon_url AS url, md5(d.text) AS digest, "
        "d.n_chars AS n_bytes "
        "FROM documents d JOIN h USING (doc_id)"
    )
    # robots verdicts: the oracle derives its closed-form CASE from the
    # SAME parser (core/robots.rules_for) at SQL-build time — rules
    # ordered by the winner key (most specific first, Allow first on
    # length ties, lexicographically greatest pattern as the determinism
    # tie-break — the mirror of the Spark side's max_by struct), first
    # regexp_matches hit wins, no match -> allowed. The regex string is
    # the shared-dialect pattern_regex translation, so both engines
    # evaluate the identical pattern (and '_'/'%' in a rule stay
    # literal, which LIKE would not guarantee).
    from pdfi_spark.core.robots import ROBOTS_TXT as _RTXT
    from pdfi_spark.core.robots import pattern_regex as _pattern_regex
    from pdfi_spark.core.robots import rules_for as _rules_for

    def _host_case(txt: str, what: str) -> str:
        rs = sorted(_rules_for(txt), key=lambda r: r[1], reverse=True)
        rs = sorted(rs, key=lambda r: (-len(r[1]), not r[0]))
        whens = " ".join(
            "WHEN regexp_matches(path, '{}') THEN ".format(
                _pattern_regex(p).replace("'", "''"))
            + (str(a).lower() if what == "allowed"
               else "'" + p.replace("'", "''") + "'")
            for a, p in rs
        )
        default = "true" if what == "allowed" else "NULL"
        return f"CASE {whens} ELSE {default} END"

    _robots_allowed = " ".join(
        f"WHEN host = '{h}' THEN {_host_case(t, 'allowed')}"
        for h, t in _RTXT.items()
    )
    _robots_prefix = " ".join(
        f"WHEN host = '{h}' THEN {_host_case(t, 'prefix')}"
        for h, t in _RTXT.items()
    )
    out["robots_filter"] = (
        _canon_cte + ", pg AS (SELECT doc_id, "
        "regexp_extract(canon_url, '^[a-z]+://([^/:?#]+)', 1) AS host, "
        "regexp_extract(canon_url, '^[a-z]+://[^/?#]*([^?#]*)', 1) AS path "
        "FROM canon) "
        f"SELECT doc_id, host, CASE {_robots_allowed} ELSE true END "
        "AS allowed, "
        f"CASE {_robots_prefix} ELSE NULL END AS matched_prefix FROM pg"
    )
    # frontier scheduling: allowed verdicts + per-host row_number * the
    # Crawl-delay parsed from the SAME fixtures (1.0 default)
    from pdfi_spark.core.robots import crawl_delay as _crawl_delay

    _delay_case = " ".join(
        f"WHEN host = '{h}' THEN {float(_crawl_delay(t) or 1.0)!r}"
        for h, t in _RTXT.items()
    )
    out["frontier_schedule"] = (
        _canon_cte + ", pg AS (SELECT doc_id, "
        "regexp_extract(canon_url, '^[a-z]+://([^/:?#]+)', 1) AS host, "
        "regexp_extract(canon_url, '^[a-z]+://[^/?#]*([^?#]*)', 1) AS path "
        "FROM canon), "
        f"ok AS (SELECT doc_id, host FROM pg WHERE "
        f"CASE {_robots_allowed} ELSE true END), "
        "sched AS (SELECT doc_id, host, row_number() OVER "
        "(PARTITION BY host ORDER BY doc_id) - 1 AS fetch_order FROM ok) "
        "SELECT doc_id, host, fetch_order, "
        f"round(fetch_order * (CASE {_delay_case} ELSE 1.0 END), 3) "
        "AS scheduled_sec FROM sched"
    )
    # the streaming twin's per-host GroupState counter must converge to
    # the SAME schedule (arrival order pinned to doc_id order)
    out["frontier_schedule_streaming"] = out["frontier_schedule"]
    # span census: boilerplate spans are probe-derived skeleton constants,
    # the content span is the text column — fully closed-form both sides
    from pdfi_spark.ops.webtext import SPAN_BOILER_BLOCKS, SPAN_CONTENT_IDX

    _span_values = ", ".join(
        "({}, '{}', {})".format(i, t.replace("'", "''"), n)
        for i, t, n in SPAN_BOILER_BLOCKS
    )
    out["html_content_spans"] = (
        f"SELECT doc_id, b.i::INTEGER AS block_idx, b.t AS block_text, "
        "b.n::INTEGER AS n_words, false AS is_content "
        f"FROM documents CROSS JOIN (VALUES {_span_values}) AS b(i, t, n) "
        "UNION ALL "
        f"SELECT doc_id, {SPAN_CONTENT_IDX}::INTEGER AS block_idx, "
        "text AS block_text, "
        "len(string_split(text, ' '))::INTEGER AS n_words, "
        "true AS is_content FROM documents"
    )
    from pdfi_spark.ops.textstats import SHARD_TOKEN_BUDGET
    from pdfi_spark.ops.webtext import PARAGRAPH_WORDS

    out["paragraph_dedup"] = (
        "WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
        f"lines AS (SELECT doc_id, unnest(range(0, len(ws), {PARAGRAPH_WORDS})) AS start, ws FROM s), "
        "paras AS (SELECT doc_id, array_to_string(list_slice(ws, start + 1, "
        f"start + {PARAGRAPH_WORDS}), ' ') AS para FROM lines) "
        "SELECT para, count(*) AS n_occurrences, "
        "count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc "
        "FROM paras GROUP BY para"
    )
    out["bigram_surprisal"] = (
        "WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
        "idx AS (SELECT doc_id, unnest(range(2, len(ws) + 1)) AS i, ws FROM s), "
        "big AS (SELECT doc_id, ws[i - 1] AS prev, ws[i] AS term FROM idx), "
        "c2 AS (SELECT prev, term, count(*) AS c2 FROM big GROUP BY prev, term), "
        "c1 AS (SELECT prev, count(*) AS c1 FROM big GROUP BY prev), "
        "m AS (SELECT prev, term, round(-ln(c2::DOUBLE / c1), 9) AS s "
        "FROM c2 JOIN c1 USING (prev)) "
        "SELECT doc_id, round(avg(s), 6) AS mean_surprisal, "
        "count(*) AS n_bigrams FROM big JOIN m USING (prev, term) "
        "GROUP BY doc_id"
    )
    # the oracle is the NAIVE global-window prefix sum; the Spark side's
    # two-pass distributed prefix sum must equal it bit-for-bit (exact
    # integer addition)
    out["pack_training_shards"] = (
        "WITH t AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT "
        "AS n_tokens FROM documents), "
        "c AS (SELECT doc_id, n_tokens, coalesce(sum(n_tokens) OVER "
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 "
        "PRECEDING), 0)::BIGINT AS cum_before FROM t) "
        f"SELECT doc_id, n_tokens, (cum_before // {SHARD_TOKEN_BUDGET})"
        "::BIGINT AS shard_id FROM c"
    )
    # deterministic hash shuffle: both engines hash the SAME decimal
    # string rendering of doc_id; pos ordering is the full hex digest
    # (row_number cast ::BIGINT — Spark's long vs DuckDB's native BIGINT)
    from pdfi_spark.ops.textstats import N_SHUFFLE_SHARDS

    out["training_shuffle_manifest"] = (
        "WITH h AS (SELECT doc_id, md5(doc_id::VARCHAR) AS hx "
        "FROM documents), "
        "s AS (SELECT doc_id, hx, (('0x' || substr(hx, 1, 8))::BIGINT "
        f"% {N_SHUFFLE_SHARDS})::INTEGER AS shard FROM h) "
        "SELECT doc_id, shard, (row_number() OVER (PARTITION BY shard "
        "ORDER BY hx, doc_id) - 1)::BIGINT AS pos_in_shard FROM s"
    )
    out["layout_lines_window"] = (
        "WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
        f"lines AS (SELECT doc_id, unnest(range(0, len(ws), {WORDS_PER_LINE})) AS start, ws FROM s) "
        f"SELECT doc_id, (start // {WORDS_PER_LINE} + 1)::BIGINT AS line_id, "
        f"array_to_string(list_slice(ws, start + 1, start + {WORDS_PER_LINE}), ' ') AS line_text, "
        f"least({WORDS_PER_LINE}, len(ws) - start)::BIGINT AS n_words FROM lines"
    )
    out["windowed_event_counts"] = (
        "SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type, "
        "count(*) AS n_events, round(sum(value), 6) AS sum_value "
        "FROM events GROUP BY 1, 2"
    )
    out["streaming_dedup_state"] = (
        "SELECT array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS dedup_key, "
        "count(*) AS n_dups, min(doc_id) AS keep_id FROM documents GROUP BY 1"
    )
    # half-open session-window semantics: diff >= gap starts a NEW session
    out["session_window_events"] = (
        "WITH o AS (SELECT user_id, event_id, ts, "
        "floor(epoch(ts))::BIGINT AS tsec FROM events), "
        "f AS (SELECT user_id, event_id, ts, tsec, "
        "lag(tsec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM o), "
        "g AS (SELECT user_id, event_id, ts, "
        "CASE WHEN prev IS NULL OR tsec - prev >= 1800 THEN 1 ELSE 0 END AS ns FROM f), "
        "s AS (SELECT user_id, event_id, ts, "
        "(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq FROM g) "
        "SELECT user_id, min(ts) AS session_start, count(*) AS n_events, "
        "min(event_id) AS first_event FROM s GROUP BY user_id, session_seq"
    )
    out["sessionize_events"] = (
        "WITH o AS (SELECT user_id, event_id, ts, "
        "floor(epoch(ts))::BIGINT AS tsec FROM events), "
        "f AS (SELECT user_id, event_id, ts, tsec, "
        "lag(tsec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM o), "
        "g AS (SELECT user_id, event_id, ts, "
        "CASE WHEN prev IS NULL OR tsec - prev >= 1800 THEN 1 ELSE 0 END AS ns FROM f), "
        "s AS (SELECT user_id, event_id, "
        "(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq FROM g) "
        "SELECT user_id, session_seq, count(*) AS n_events, "
        "min(event_id) AS first_event, max(event_id) AS last_event "
        "FROM s GROUP BY 1, 2"
    )
    return out
