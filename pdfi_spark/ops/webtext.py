"""HTML main-content extraction over the documents table — the
north-rule's "HTML boilerplate strip, DOM heuristics" axis as a Spark
surface.

Pages are synthesized distributed (core/htmlgen.py wraps each document's
text in realistic nav/ads/footer boilerplate, exactly like pdfgen does
for PDFs) and stripped with the pure-Python DOM heuristics in
core/html.py. The whole per-page parse runs inside Arrow-batched
``mapInPandas`` — the same design argument as the PDF path: per-document
markup parsing is inherently sequential Python work, so the Spark layer's
job is to scan narrowly (only doc_id + text reach Python), batch via
Arrow, and keep everything else JVM-side. Generation and extraction are
FUSED into one mapInPandas pass so the synthetic page bytes never cross
the JVM<->Python pipe (in production, pages come straight off the scan
and the extraction UDF is the only Python stage).

At 100 TB: embarrassingly parallel, zero exchanges, scan pruned to two
columns (asserted in tests/test_plans.py); skew handling (multi-MB
pages) is the same salted-repartition/pre-bucketed story as PDF
extraction in pipeline.py.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window

from pyspark.sql import functions as F

from .._rows import map_rows
from ..core.html import block_stats, extract_main_text, parse_blocks, parse_links
from ..core.htmlgen import ORACLE_PER_BLOCK, build_html, build_linked_page
from ._scan import parquet_num_rows, read

HTML_ORACLE_RECIPES = [
    "plain", "boiler", "linkfarm", "entities", "nested", "malformed",
    "latin1",
]

# boiler-recipe boilerplate is a fixed page skeleton: derive its block
# constants from a probe ONCE so the DuckDB oracle mirrors them without
# hand-maintained literals
_PROBE = block_stats(build_html("probe words long enough here", "boiler",
                                per_block=ORACLE_PER_BLOCK)[0])
BOILER_N_BOILER_BLOCKS = _PROBE["n_boiler_blocks"]
BOILER_N_BOILER_WORDS = _PROBE["n_boiler_words"]


def _base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read(spark, f"{sf_dir}/documents.parquet", fan="fanned").select(
        "doc_id", "text"
    )


def _n_docs(spark: SparkSession, sf_dir: str) -> int:
    """Exact doc count from the parquet footer: no Spark job."""
    return parquet_num_rows(spark, f"{sf_dir}/documents.parquet")


def _nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id) over the RAW scan: it feeds many tiny per-iteration
    joins, each of which would re-pay a fan-out for no narrow work."""
    return read(spark, f"{sf_dir}/documents.parquet").select("doc_id")


def _base_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text) over the RAW scan at ANY size, for the snapshot-diff
    family: one md5 per doc never pays for the fan-out exchange
    (measured a net loss at sf0.1 AND at 10x)."""
    return read(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")


def strip_boilerplate(df: DataFrame, page_col: str = "html") -> DataFrame:
    """Production surface: strip boilerplate from a REAL page column.
    Input: any DataFrame with (url, page_col binary|string); output:
    (url, main_text, n_blocks, n_content_blocks, n_boiler_words). Narrow
    Arrow-batched mapInPandas — select only the two columns upstream so
    the scan prunes (same contract as pipeline.extract_text)."""

    def strip(url, page):
        try:
            # containment starts at the cast: a NULL page cell
            # must yield an empty row, never a task failure
            page = bytes(page) if not isinstance(page, str) else page
            blocks = parse_blocks(page)
        except Exception:  # noqa: BLE001 — containment: never fail the task
            blocks = []
        content = [b for b in blocks if b["is_content"]]
        yield (url, "\n".join(b["text"] for b in content), len(blocks),
               len(content),
               sum(b["n_words"] for b in blocks if not b["is_content"]))

    return map_rows(
        df.select("url", page_col), strip,
        "url string, main_text string, n_blocks int, "
        "n_content_blocks int, n_boiler_words int",
    )


def html_main_content(recipe: str):
    """Query factory: build recipe pages per doc and strip boilerplate;
    returns (doc_id, main_text) where main_text must equal the golden
    text column."""

    def strip(doc_id, text):
        page, _ = build_html(text, recipe, per_block=ORACLE_PER_BLOCK)
        yield doc_id, extract_main_text(page)

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return map_rows(_base(spark, sf_dir), strip,
                        "doc_id long, main_text string")

    return q


def _citations(doc_id, text, n_docs: int):
    """(src, dst, link_rank, anchor) per planted ``/doc/{dst}`` citation
    on one document's generated page, in page order; nav/ad/footer
    links are filtered out by href shape."""
    doc_id = int(doc_id)
    page, _ = build_linked_page(doc_id, n_docs, text,
                                per_block=ORACLE_PER_BLOCK)
    cites = (link for link in parse_links(page)
             if link["href"].startswith("/doc/"))
    for rank, link in enumerate(cites):
        yield doc_id, int(link["href"][5:]), rank, link["text"]


def html_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph edge extraction — the Common-Crawl outlink operator.
    Pages (generated with deterministically planted ``/doc/{target}``
    citations amid boilerplate links) are parsed with core/html.py's
    anchor collector; citation anchors explode to one edge row
    (src, dst, link_rank) each, nav/ad/footer links filtered by href
    shape. At 100 TB: the parse is a narrow Arrow-batched mapInPandas
    (zero exchanges; the generator's modulus is a footer row count,
    absent in production where hrefs come off real pages); edge fan-out
    happens inside the UDF, so no explode shuffle either."""
    n_docs = _n_docs(spark, sf_dir)  # footer read: no Spark job

    def edges(doc_id, text):
        for src, dst, rank, _ in _citations(doc_id, text, n_docs):
            yield src, dst, rank

    return map_rows(_base(spark, sf_dir), edges,
                    "src long, dst long, link_rank int")


def canonical_url(u):
    """Crawl URL canonicalization as a pure codegen expression chain —
    the dedup key every crawl pipeline computes before anything else
    (the same capture is fetched as HTTP/https, with/without default
    port, fragment, tracking params, query-param order, duplicate
    slashes). Rules, in order:

    1. drop the fragment;
    2. lowercase scheme://authority (path/query stay case-sensitive);
    3. strip default ports (:80 for http, :443 for https);
    4. collapse duplicate slashes outside the ``://`` separator;
    5. re-sort query params lexicographically and drop ``utm_*``
       tracking params (empty query drops the ``?``).

    Deliberately NOT done: www-stripping and percent-decoding (both
    change the authority/resource identity for some sites; a production
    pipeline makes those policy flags). All string ops are built-in JVM
    functions — zero Python, fully whole-stage-codegen'd, so at 10^12
    rows this is a free narrow map."""
    u = F.regexp_replace(u, "#.*$", "")
    head = F.lower(F.regexp_extract(u, "^([^:/?#]+://[^/?#]*)", 1))
    u = F.concat(head, F.regexp_replace(u, "^[^:/?#]+://[^/?#]*", ""))
    u = F.regexp_replace(u, "^(http://[^/?#:]+):80([/?]|$)", "$1$2")
    u = F.regexp_replace(u, "^(https://[^/?#:]+):443([/?]|$)", "$1$2")
    u = F.regexp_replace(u, "([^:/])/{2,}", "$1/")
    qs = F.regexp_extract(u, "\\?([^#]*)", 1)
    kept = F.filter(F.split(qs, "&"),
                    lambda p: ~p.startswith("utm_"))
    sorted_qs = F.array_join(F.array_sort(kept), "&")
    base = F.regexp_replace(u, "\\?.*$", "")
    return F.when(sorted_qs == "", base).otherwise(
        F.concat(base, F.lit("?"), sorted_qs)
    )


def _raw_url_expr():
    """Deterministically messy raw URL per doc_id — every variant class
    canonical_url must fold (case, default/explicit port, dup slashes,
    unsorted+tracking query, fragment), planted so the DuckDB twin
    reconstructs the identical strings closed-form. Path segment is
    doc_id % 50, so url_dedup_counts collapses real groups."""
    d = F.col("doc_id")
    scheme = F.when(d % 2 == 0, F.lit("HTTP://")).otherwise(
        F.lit("https://"))
    host = F.when(d % 3 == 0, F.lit("WWW.Example.COM")).otherwise(
        F.lit("example.com"))
    port = (
        F.when(d % 4 == 0, F.lit(":80"))      # even -> http, default
        .when(d % 4 == 1, F.lit(":8080"))     # odd -> https, non-default
        .when(d % 4 == 3, F.lit(":443"))      # odd -> https, default
        .otherwise(F.lit(""))
    )
    path = F.concat(
        F.when(d % 5 == 0, F.lit("//Doc//")).otherwise(F.lit("/Doc/")),
        (d % 50).cast("string"),
    )
    query = F.concat(
        F.when(d % 2 == 0, F.lit("?b=2&a=1")).otherwise(F.lit("?a=1&b=2")),
        F.when(d % 7 == 0, F.lit("&utm_source=feed")).otherwise(F.lit("")),
    )
    frag = F.when(d % 3 == 0, F.lit("#Section-2")).otherwise(F.lit(""))
    return F.concat(scheme, host, port, path, query, frag)


def _url_canonicalize_from(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        _raw_url_expr().alias("raw_url"),
    ).select(
        "doc_id", "raw_url", canonical_url(F.col("raw_url")).alias("canon_url")
    )


def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, raw_url, canon_url): the canonicalizer over the planted
    messy-URL corpus. Narrow zero-exchange codegen map; scan pruned to
    doc_id only."""
    # size-adaptive scan: the canonicalizer alone is a handful of
    # regex ops per row — below the fan-out break-even on small inputs
    # (the repartition exchange costs more than the serial narrow work
    # it parallelizes; measured at sf0.1), serializing measurably past
    # _scan.MIN_FAN_BYTES. robots_filter additionally layers
    # per-(page, rule) regexp matching on top and fans unconditionally.
    return _url_canonicalize_from(
        read(spark, f"{sf_dir}/documents.parquet", fan="auto")
    )


def url_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl dedup-by-canonical-URL: one hash-aggregate shuffle keyed on
    the canonical form (map-side partials; the 10^12-row version of
    "which captures are the same resource")."""
    return (
        url_canonicalize(spark, sf_dir)
        .groupBy("canon_url")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


def robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl politeness filtering: per-page robots.txt verdict
    (doc_id, host, allowed, matched_prefix) under RFC 9309
    most-specific-match semantics, including §2.2.3 ``*`` wildcards and
    ``$`` end anchors. The per-host robots files (core/robots.py
    ROBOTS_TXT) are parsed into a RULES DIMENSION inside a mapInPandas
    (exactly how a crawler materializes fetched robots into a dim
    table) carrying each rule's shared-dialect regex
    (core.robots.pattern_regex — the same string the DuckDB oracle
    evaluates), broadcast-joined onto the canonicalized pages, matched
    with regexp_like, and the winning rule picked by
    max_by((pattern_len, allow, pattern)) — most specific match, Allow
    wins length ties, lexicographic pattern as the determinism
    tie-break. At 10^12 pages the rules side stays host-count-sized
    (broadcast); the page side is one narrow pass + one keyed
    aggregate, and regexp_like's compiled-pattern cache makes the
    handful of distinct rules per host cheap per row."""
    from ..core.robots import ROBOTS_TXT, pattern_regex, rules_for

    # fanned page side: the broadcast-join stage below evaluates one
    # regexp per (page, host rule) — real narrow CPU that a single-split
    # scan would serialize (measured interleaved A/B win at sf0.1)
    canon = _url_canonicalize_from(
        read(spark, f"{sf_dir}/documents.parquet", fan="fanned")
    )
    pages = canon.select(
        "doc_id",
        F.regexp_extract("canon_url", "^[a-z]+://([^/:?#]+)", 1)
        .alias("host"),
        F.regexp_extract("canon_url", "^[a-z]+://[^/?#]*([^?#]*)", 1)
        .alias("path"),
    )

    robots_dim = spark.createDataFrame(
        list(ROBOTS_TXT.items()), "host string, robots_txt string"
    )

    def parse(host, txt):
        for allow, pattern in rules_for(str(txt), "*"):
            yield (str(host), bool(allow), pattern, len(pattern),
                   pattern_regex(pattern))

    rules = map_rows(
        robots_dim, parse,
        "host string, allow boolean, prefix string, plen int, rx string",
    )
    matched = (
        pages.join(F.broadcast(rules), "host", "left")
        .withColumn(
            "hit",
            F.col("rx").isNotNull()
            & F.regexp_like(F.col("path"), F.col("rx")),
        )
    )
    verdict = (
        matched.groupBy("doc_id", "host")
        .agg(
            # winner = max over matching rules of (plen, allow, pattern):
            # most specific match, Allow breaking length ties, pattern
            # text as the determinism tie-break; NULL when nothing matched
            F.max_by(
                F.struct("plen", "allow", "prefix"),
                F.when(F.col("hit"),
                       F.struct("plen", F.col("allow").cast("int"),
                                "prefix"))
            ).alias("w"),
        )
        .select(
            "doc_id",
            "host",
            F.coalesce(F.col("w.allow"), F.lit(True)).alias("allowed"),
            F.col("w.prefix").alias("matched_prefix"),
        )
    )
    return verdict


def anchor_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inbound anchor-text aggregation — the classic web-graph relevance
    signal (what OTHER pages call a document; search engines and
    LLM-data quality filters both consume it). Citation anchors are
    parsed from the generated pages exactly like html_outlinks (narrow
    Arrow-batched mapInPandas, edge fan-out inside the UDF, zero
    exchanges), then ONE hash-aggregate keyed on dst rolls up
    (n_inlinks, n_unique_srcs, top_anchor, first_src). max_by on
    (count...)? — anchors here are deterministic per target, so
    top_anchor = min(anchor) is exact and cross-engine stable; a
    production index keeps a per-(dst, anchor) count first. At 10^12
    edges this is one keyed exchange with map-side partials, same shape
    as link_graph_degrees."""
    n_docs = _n_docs(spark, sf_dir)  # footer read: no Spark job

    def anchors(doc_id, text):
        for src, dst, _, anchor in _citations(doc_id, text, n_docs):
            yield src, dst, anchor

    edges = map_rows(_base(spark, sf_dir), anchors,
                     "src long, dst long, anchor string")
    return edges.groupBy("dst").agg(
        F.count("*").alias("n_inlinks"),
        F.countDistinct("src").alias("n_unique_srcs"),
        F.min("anchor").alias("top_anchor"),
        F.min("src").alias("first_src"),
    )


def frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware crawl-frontier scheduling: robots-allowed pages
    are ordered per host (fetch_order) and assigned a scheduled_sec =
    fetch_order * crawl_delay(host), the dispatch plan a polite fetcher
    executes (RFC 9309 has no Crawl-delay, but real robots.txt carries
    it and crawlers honor it; hosts without one get a 1 s default).
    Shape at 10^12 URLs: the verdict filter reuses robots_filter
    (broadcast rules dimension), the ordering is a window PARTITIONED BY
    host — fetches from one host are inherently serial (that is what
    politeness means), so the per-host partition is the natural unit and
    there is no single-partition funnel; the delay dimension is
    host-count-sized and broadcast."""
    from ..core.robots import ROBOTS_TXT, crawl_delay

    verdicts = robots_filter(spark, sf_dir)
    delays = spark.createDataFrame(
        [(h, float(crawl_delay(t) or 1.0)) for h, t in ROBOTS_TXT.items()],
        "host string, delay double",
    )
    w = Window.partitionBy("host").orderBy("doc_id")
    return (
        verdicts.filter(F.col("allowed"))
        .join(F.broadcast(delays), "host", "left")
        .withColumn(
            "fetch_order", (F.row_number().over(w) - 1).cast("long")
        )
        .select(
            "doc_id",
            "host",
            "fetch_order",
            F.round(
                F.col("fetch_order") * F.coalesce("delay", F.lit(1.0)), 3
            ).alias("scheduled_sec"),
        )
    )


PARAGRAPH_WORDS = 8


def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-paragraph census — the paragraph-level
    half of Lee et al.'s "Deduplicating Training Data Makes Language
    Models Better": boilerplate paragraphs recur across MANY documents
    (exact-match at paragraph granularity catches what doc-level dedup
    cannot). Documents split into fixed 8-word lines (the same
    closed-form liner as layout_lines_window, so the oracle is exact),
    then ONE hash-aggregate keyed on the paragraph text: (n_occurrences,
    n_docs, first_doc). The explode multiplies rows ~word_count/8 but
    stays narrow (no shuffle until the keyed aggregate, which has
    map-side partials); at 100 TB the group key would be
    xxhash64(paragraph) with a sample text kept via min — noted, not
    silently swapped."""
    docs = _base(spark, sf_dir)
    ws = F.split("text", " ")
    lines = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size(ws) - 1) / PARAGRAPH_WORDS).cast("int"),
                ),
                lambda i: F.concat_ws(
                    " ", F.slice(ws, i * PARAGRAPH_WORDS + 1, PARAGRAPH_WORDS)
                ),
            )
        ).alias("para"),
    )
    return lines.groupBy("para").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
    )


def crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot crawl diff — what a pipeline runs between two
    monthly crawls to fetch/process only what moved: per URL, status in
    {new, gone, changed, unchanged} from a FULL OUTER join of the two
    snapshots' content digests. Snapshots are derived deterministically
    from the corpus (old = first 80% of doc_ids, new = last 80%, every
    5th doc's text amended), so the DuckDB twin rebuilds both sides
    closed-form. Scale shape: full outer can never broadcast (both
    sides must surface non-matches), so this is the one keyed
    SortMergeJoin in the inventory — at 10^12 URLs both sides shuffle
    once on the join key and stream merge; digests are md5 computed
    in-row (narrow)."""
    docs = _base_raw(spark, sf_dir)
    n = _n_docs(spark, sf_dir)  # footer read: no Spark job
    lo, hi = int(n * 0.2), int(n * 0.8)
    url = F.concat(F.lit("https://example.org/page/"),
                   F.col("doc_id").cast("string"))
    old = docs.filter(F.col("doc_id") < hi).select(
        url.alias("url"), F.md5("text").alias("old_digest")
    )
    new = docs.filter(F.col("doc_id") >= lo).select(
        url.alias("url"),
        F.md5(
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.col("text"), F.lit(" updated")))
            .otherwise(F.col("text"))
        ).alias("new_digest"),
    )
    joined = old.join(new, "url", "full_outer")
    status = (
        F.when(F.col("new_digest").isNull(), "gone")
        .when(F.col("old_digest").isNull(), "new")
        .when(F.col("old_digest") == F.col("new_digest"), "unchanged")
        .otherwise("changed")
    )
    return joined.select("url", status.alias("status"))


def incremental_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly-increment CONTENT dedup — the cross-snapshot complement
    of crawl_diff's per-URL view: a new-snapshot doc is novel only if
    its content digest appears NOWHERE in the prior corpus (any URL —
    mirrors and re-hosted pages dedup here even though their URLs
    differ). A crawl increment runs exactly this gate before paying
    extraction. Snapshots derive from the same deterministic split as
    crawl_diff (old = first 80% of doc_ids, new = last 80%, every 5th
    doc's text amended). Returns (doc_id, digest, novel).

    Scale shape: one keyed join on the 16-byte digest. The prior-corpus
    side is a digest INDEX (digest-only projection + distinct — what a
    production increment keeps materialized between crawls), far
    smaller than the corpus but still beyond broadcast at 10^12 docs,
    so both sides shuffle once on digest and stream-merge;
    boilerplate-identical digests skew-cluster and AQE splits them.
    Digests are computed in-row (narrow md5) — never a text-to-text
    compare."""
    docs = _base_raw(spark, sf_dir)
    n = _n_docs(spark, sf_dir)  # footer read: no Spark job
    lo, hi = int(n * 0.2), int(n * 0.8)
    old_digests = (
        docs.filter(F.col("doc_id") < hi)
        .select(F.md5("text").alias("digest"))
        .distinct()
        .withColumn("seen", F.lit(True))
    )
    new = docs.filter(F.col("doc_id") >= lo).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.col("text"), F.lit(" updated")))
            .otherwise(F.col("text"))
        ).alias("digest"),
    )
    return new.join(old_digests, "digest", "left").select(
        "doc_id", "digest", F.col("seen").isNull().alias("novel")
    )


# Bloom filter (Bloom 1970) — the MEMBERSHIP sketch completing the trio
# beside host_url_hll (cardinality) and cms_heavy_hitters (frequency):
# the prior crawl's digest index compresses into BLOOM_M bit positions
# set by BLOOM_K md5-derived hashes, so the increment gate probes a
# broadcast bitmap instead of joining the full index. Cells come from
# the shared md5 (position j = md5(j:digest) bits 1-8 mod m), so the
# DuckDB twin and a pure-Python replica rebuild the identical filter.
BLOOM_M = 1024  # bit positions (production: ~1.44*k*n_prior bits)
BLOOM_K = 4     # hash functions


def bloom_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot novelty gate as a Bloom-filter probe — the sketch
    answer to incremental_content_dedup's "digest index beyond broadcast
    at 10^12 docs" note: per new-snapshot doc, (doc_id, bloom_maybe_dup,
    exact_dup). Bloom guarantees NO false negatives — every exact dup
    probes positive; misses are definitely novel and skip extraction —
    so bloom_maybe_dup AND NOT exact_dup counts the false positives the
    m/k sizing loop reads (same honest framing as the HLL/CMS error
    columns). Snapshots derive from the crawl_diff closed-form split
    (old = first 80% of doc_ids, new = last 80%, every 5th text
    amended). Scale shape: the filter build map-side-combines to
    <= BLOOM_M distinct positions per task before one tiny exchange, a
    single <= BLOOM_M-element array broadcasts back, and the probe is
    an in-row forall over BLOOM_K hashes — the new snapshot never
    shuffles for the gate (the exact join rides along here only as the
    verification column). The prior-digest subtree feeds both the
    filter and the exact side, so it's checkpointed once."""
    docs = _base_raw(spark, sf_dir)
    n = _n_docs(spark, sf_dir)  # footer read: no Spark job
    lo, hi = int(n * 0.2), int(n * 0.8)
    old_digests = (
        docs.filter(F.col("doc_id") < hi)
        .select(F.md5("text").alias("digest"))
        .distinct()
        # kept: unshared, 3 scans not 2 (exact side infers isnotnull(md5))
        .localCheckpoint(eager=True)
    )
    ks = spark.range(BLOOM_K).select(F.col("id").cast("int").alias("j"))
    pos = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("j"), F.col("digest"))), 1, 8
            ),
            16, 10,
        ).cast("long") % BLOOM_M
    )
    # collect_set's partial aggregate IS the map-side combine: each task
    # emits <= BLOOM_M positions, so the SinglePartition exchange below
    # carries <= BLOOM_M longs per task regardless of prior-corpus size
    bits = (
        old_digests.crossJoin(F.broadcast(ks))
        .select(pos.alias("pos"))
        .groupBy()
        .agg(F.array_sort(F.collect_set("pos")).alias("bits"))
    )
    new = docs.filter(F.col("doc_id") >= lo).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.col("text"), F.lit(" updated")))
            .otherwise(F.col("text"))
        ).alias("digest"),
    )
    positions = F.transform(
        F.sequence(F.lit(0), F.lit(BLOOM_K - 1)),
        lambda j: (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", j, F.col("digest"))), 1, 8
                ),
                16, 10,
            ).cast("long") % BLOOM_M
        ),
    )
    probed = (
        new.withColumn("positions", positions)
        .crossJoin(F.broadcast(bits))
        .select(
            "doc_id", "digest",
            F.forall(
                "positions",
                lambda p: F.array_contains(F.col("bits"), p),
            ).alias("bloom_maybe_dup"),
        )
    )
    return (
        probed.join(
            old_digests.withColumn("seen", F.lit(True)), "digest", "left"
        )
        .select(
            "doc_id", "bloom_maybe_dup",
            F.col("seen").isNotNull().alias("exact_dup"),
        )
    )


def host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl census over canonicalized URLs: (host, n_pages,
    n_canon_urls) — the politeness/coverage report every crawl keeps
    (pages fetched per host vs distinct resources). One hash-aggregate
    shuffle keyed on host; the distinct-count is exact here and would be
    approx_count_distinct at 10^12 rows (noted, not silently swapped)."""
    canon = url_canonicalize(spark, sf_dir)
    host = F.regexp_extract(F.col("canon_url"), "^[a-z]+://([^/:?#]+)", 1)
    return (
        canon.select(host.alias("host"), "canon_url")
        .groupBy("host")
        .agg(
            F.count("*").alias("n_pages"),
            F.countDistinct("canon_url").alias("n_canon_urls"),
        )
    )


HOST_CAP = 20


def host_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host diversity cap — the curation step that stops a handful
    of giant hosts from dominating a training mix: keep at most
    HOST_CAP pages per host, picked by a deterministic HASH order
    (md5 of the decimal doc_id — the training_shuffle_manifest recipe)
    so the cap samples uniformly instead of favoring low doc_ids.
    Returns (doc_id, host, host_rank, kept) for every page — the
    survivor set is `kept`, and host_rank doubles as the within-host
    sample order for stratified downstream draws.

    Scale shape: ONE window partitioned by host (hash exchange on
    host, per-host sort of that host's rows only — never a global
    sort/funnel). Host skew is the known hazard (a 10^9-page host sorts
    on one task): the production note is the same two-phase trick as
    pack_training_shards — pre-filter with an approximate per-host
    count and only window hosts near the cap — documented, not
    silently swapped, since the one-window form is the semantics."""
    canon = url_canonicalize(spark, sf_dir)
    host = F.regexp_extract(F.col("canon_url"), "^[a-z]+://([^/:?#]+)", 1)
    w = Window.partitionBy("host").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        canon.select("doc_id", host.alias("host"))
        .withColumn("host_rank", F.row_number().over(w).cast("long"))
        .select(
            "doc_id", "host", "host_rank",
            (F.col("host_rank") <= HOST_CAP).alias("kept"),
        )
    )


# HyperLogLog (Flajolet et al. 2007) with m=64 md5-derived registers —
# the answer to host_stats' "approx_count_distinct at 10^12 rows" note,
# but cross-engine DETERMINISTIC: register index and rank come from the
# same md5 both engines already share, so the DuckDB twin reproduces
# the estimate bit-for-bit (Spark's own approx_count_distinct sketch
# could only ever get a rows-only check).
HLL_M = 64
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)  # alpha_m, m >= 64 (paper §4)


def host_url_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host approximate distinct-URL cardinality: md5(canon_url)
    bits 1-8 pick the register (mod m), bits 9-16 give the rank
    (leading-zero count + 1 over a 32-bit lane, via length(bin(h)) —
    identical in both engines incl. the h=0 edge); registers fold with
    max under groupBy. Exactness argument for the estimate: every
    2^-M term and every partial sum is an exact dyadic double (span
    < 53 bits), so shuffle order cannot perturb Z; the linear-counting
    branch snaps its ln to 9 before the exact *m scaling. n_exact rides
    along for the error column the tuning loop reads. At 10^12 rows the
    shuffle carries max(m)-per-(host,register) partials — 64 rows per
    host — instead of every distinct URL."""
    canon = url_canonicalize(spark, sf_dir)
    host = F.regexp_extract(F.col("canon_url"), "^[a-z]+://([^/:?#]+)", 1)
    hx = F.md5(F.col("canon_url"))
    h1 = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    rho = F.when(h2 == 0, F.lit(33)).otherwise(
        F.lit(33) - F.length(F.bin(h2))
    )
    regs = canon.select(
        host.alias("host"), "canon_url",
        (h1 % HLL_M).alias("reg"), rho.alias("rho"),
    )
    per_reg = regs.groupBy("host", "reg").agg(F.max("rho").alias("m_reg"))
    sketch = per_reg.groupBy("host").agg(
        F.count("*").alias("n_regs"),
        F.sum(F.pow(F.lit(2.0), -F.col("m_reg"))).alias("z_present"),
    )
    exact = regs.groupBy("host").agg(
        F.countDistinct("canon_url").alias("n_exact")
    )
    v = (F.lit(HLL_M) - F.col("n_regs")).cast("double")
    z = F.col("z_present") + v
    raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / z
    est = F.when(
        (raw <= 2.5 * HLL_M) & (v > 0),
        F.lit(float(HLL_M))
        * F.round(F.log(F.lit(float(HLL_M)) / v), 9),
    ).otherwise(raw)
    return sketch.join(exact, "host").select(
        "host", "n_exact", F.round(est, 6).alias("hll_est")
    )


def link_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree census over the extracted link graph: one hash-aggregate
    shuffle on dst (map-side partials first). The classic first pass of
    any crawl-graph job (hub detection, PageRank seeding); at 10^12
    edges this is a single well-partitioned exchange keyed on dst."""
    return (
        html_outlinks(spark, sf_dir)
        .groupBy("dst")
        .agg(
            F.count("*").alias("in_degree"),
            F.min("src").alias("min_src"),
        )
    )


def link_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census over the crawl link graph (undirected view) —
    the clustering-coefficient denominator and the classic link-farm /
    community-density signal beside PageRank, HITS, and connected
    components. Standard two-join distributed algorithm (the
    MapReduce-era NodeIterator++): orient every edge low->high (each
    undirected edge and each triangle counted exactly once), enumerate
    wedges by joining the oriented edge list with itself KEYED on the
    middle vertex, close each wedge with one more keyed join on the
    (lo, hi) endpoint pair. Returns one row (n_edges, n_wedges,
    n_triangles).

    Scale shape: cost is sum(deg^2) wedge rows — keyed joins
    throughout, never a cartesian; at 10^12 edges production first
    caps/samples super-hub degrees (the same hot-key story as
    MAX_LSH_BUCKET), noted not silently swapped. The oriented edge
    list feeds four consumers (both wedge sides, the closing join, the
    edge count), so it is checkpointed once."""
    edges = html_outlinks(spark, sf_dir)
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        )
        .distinct()
        # kept: reusing one exchange was 1.24x slower (consumers redo distinct)
        .localCheckpoint(eager=True)
    )
    x, y, z = und.alias("x"), und.alias("y"), und.alias("z")
    wedges = x.join(y, F.col("x.hi") == F.col("y.lo")).select(
        F.col("x.lo").alias("a"), F.col("x.hi").alias("b"),
        F.col("y.hi").alias("c"),
    )
    tri = wedges.join(
        z, (F.col("a") == F.col("z.lo")) & (F.col("c") == F.col("z.hi"))
    )
    ne = und.agg(F.count("*").alias("n_edges"))
    nw = wedges.agg(F.count("*").alias("n_wedges"))
    nt = tri.agg(F.count("*").alias("n_triangles"))
    return ne.crossJoin(F.broadcast(nw)).crossJoin(F.broadcast(nt))


def read_warc_pages(df: DataFrame) -> DataFrame:
    """Production WARC connector: a DataFrame of (path, content) .warc.gz
    blobs (e.g. ``spark.read.format("binaryFile").load("s3://.../\\*.warc.gz")``)
    -> one row per response capture (path, url, warc_date, page). Record
    fan-out happens inside an Arrow-batched mapInPandas (one gzip member
    per record, so a blob decompresses incrementally); malformed or
    truncated archives yield the records recovered before the damage,
    never a task failure. At 100 TB this is the ingest stage: Common
    Crawl segments are ~1 GB .warc.gz files, one task each — skew comes
    from record-count variance and is defused by the same salted
    repartition as the PDF path once pages are rows."""
    from ..core.warc import gunzip_members, responses

    def captures(path, blob):
        try:
            data = bytes(blob)
            if data[:2] == b"\x1f\x8b":
                data = gunzip_members(data)
            caps = responses(data)
        except Exception:  # noqa: BLE001 — containment
            caps = []
        for c in caps:
            yield path, c["url"], c["date"], c["page"]

    return map_rows(
        df.select("path", "content"), captures,
        "path string, url string, warc_date string, page binary",
    )


def _capture_blob(doc_id: int, text: str) -> bytes:
    """One document's boiler-recipe page as its capture triple
    (request/response/metadata) in .warc.gz form, one gzip member per
    record, for target URI ``https://example.org/page/<doc_id>``."""
    from ..core.warc import build_capture_records, gzip_member

    page, _ = build_html(text, "boiler", per_block=ORACLE_PER_BLOCK)
    return b"".join(
        gzip_member(rec)
        for rec in build_capture_records(
            f"https://example.org/page/{doc_id}", "2026-01-01T00:00:00Z",
            page, record_id=f"{doc_id:08x}",
        )
    )


def warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC roundtrip query: build each document's capture triple
    (request/response/metadata, gzip member per record — the exact
    Common-Crawl .warc.gz layout), then run the full ingest path:
    member-wise gunzip -> record parse -> HTTP-head split -> boilerplate
    strip. A hash match proves Content-Length framing, the member-per-
    record gzip layout, and response-record selection all survived.
    Fused generate+parse mapInPandas: zero exchanges, scan pruned."""
    from ..core.warc import gunzip_members, parse_records, split_http_payload

    def roundtrip(doc_id, text):
        doc_id = int(doc_id)
        recs = parse_records(gunzip_members(_capture_blob(doc_id, text)))
        caps = [r for r in recs if r["type"] == "response"]
        if caps:
            yield (doc_id, caps[0]["headers"].get("WARC-Target-URI"),
                   extract_main_text(split_http_payload(caps[0]["payload"])),
                   len(recs))
        else:
            yield doc_id, None, None, len(recs)

    return map_rows(
        _base(spark, sf_dir), roundtrip,
        "doc_id long, url string, main_text string, n_records int",
    )


def wet_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET export — Common Crawl's extracted-text product format: per
    page, a WARC/1.0 ``conversion`` record whose payload is the
    UTF-8 main text, gzip member per record, exactly how a *.warc.wet.gz
    segment is laid out. The query writes each doc's WET record and
    immediately re-ingests it through the full reader (member gunzip ->
    record parse -> case-insensitive headers), so a hash match proves
    the conversion-record framing of arbitrary UTF-8 payloads
    roundtrips: (doc_id, url, wet_text, n_payload_bytes) with wet_text
    == the source text and n_payload_bytes its octet length. Fused
    generate+parse mapInPandas: zero exchanges, scan pruned. At 100 TB
    this is the EXPORT stage twin of read_warc_pages' ingest stage —
    one task per output segment, no shuffle."""
    from ..core.warc import (
        build_record, gunzip_members, gzip_member, parse_records,
    )

    def roundtrip(doc_id, text):
        doc_id = int(doc_id)
        rec = build_record(
            "conversion",
            {"WARC-Target-URI": f"https://example.org/page/{doc_id}",
             "WARC-Date": "2026-01-01T00:00:00Z",
             "WARC-Refers-To": f"<urn:uuid:{doc_id:08x}>",
             "Content-Type": "text/plain"},
            str(text).encode("utf-8"),
        )
        parsed = parse_records(gunzip_members(gzip_member(rec)))
        conv = [r for r in parsed if r["type"] == "conversion"]
        if conv:
            payload = conv[0]["payload"]
            yield (doc_id, conv[0]["headers"].get("WARC-Target-URI"),
                   payload.decode("utf-8"), len(payload))
        else:
            yield doc_id, None, None, None

    return map_rows(
        _base(spark, sf_dir), roundtrip,
        "doc_id long, url string, wet_text string, n_payload_bytes int",
    )


PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 3
PAGERANK_TOPK = 20


def _pagerank_topk(nodes: DataFrame, edges: DataFrame,
                   n_docs: int) -> DataFrame:
    """Fixed-iteration PageRank with dangling-mass redistribution —
    iterative distributed graph processing on the crawl's link structure
    (the power-iteration sibling of ops/dedup.py's connected
    components). Returns the top-k (doc_id, pagerank).

    Dangling pages (no outlinks — a real crawl graph is ~10-30% of them:
    frontier URLs not yet fetched, dead ends, binary assets) would leak
    their rank mass every iteration under the naive update; the standard
    fix redistributes their summed rank uniformly: rank' = (1-d)/n +
    d*(contribs + dangling_mass/n). The mass is ONE scalar per
    iteration, computed as an anti-join + aggregate into a 1-row frame
    and broadcast back (BroadcastNestedLoopJoin of one row — never a
    driver-side collect, never a cartesian over data).

    Determinism across engines: ranks (and the dangling mass) are
    snapped to 12 decimals every iteration (same trick as
    similarity.kmeans_codebook's float32 cast), so double-precision
    accumulation-order differences (~1e-16) can never reach the
    rounding grid and the unrolled DuckDB twin reproduces every iterate
    exactly.

    At 100 TB: edges are localCheckpoint'ed once (they feed every
    iteration), each iteration is one shuffle-join on src plus one
    hash-aggregate on dst plus the 1-row mass aggregate; production
    would co-partition edges and ranks on src so only the rank side
    moves. Final top-k is TakeOrderedAndProject, never a full sort."""
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    # per-edge contribution weight 1/out-degree, precomputed once.
    # (r6 note: deriving ew/dangling lazily from the edge checkpoint was
    # A/B-measured SLOWER — every iteration re-pays their join/anti-join
    # stages — so both stay eagerly materialized.)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    ew = (
        edges.join(deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("deg")).alias("w"))
        .localCheckpoint(eager=True)
    )
    # dangling = nodes with no outgoing edge; computed once, reused
    dangling = (
        nodes.join(edges.select(F.col("src").alias("doc_id")).distinct(),
                   "doc_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    # max(n, 1): an empty graph has no row that reads these literals
    base = F.lit((1.0 - PAGERANK_DAMPING) / max(n_docs, 1))
    ranks = nodes.select(
        "doc_id", F.round(F.lit(1.0 / max(n_docs, 1)), 12).alias("rank")
    )
    for _ in range(PAGERANK_ITERS):
        contribs = (
            ew.join(ranks.withColumnRenamed("doc_id", "src"), "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum(F.col("w") * F.col("rank")).alias("s"))
        )
        dmass = (
            ranks.join(dangling, "doc_id")
            .agg(F.round(F.coalesce(F.sum("rank"), F.lit(0.0)), 12)
                 .alias("dm"))
        )
        ranks = (
            nodes.join(contribs, "doc_id", "left")
            .crossJoin(F.broadcast(dmass))  # 1 row: the scalar mass
            .select(
                "doc_id",
                F.round(
                    base
                    + F.lit(PAGERANK_DAMPING)
                    * (F.coalesce(F.col("s"), F.lit(0.0))
                       + F.col("dm") / F.lit(float(n_docs))),
                    12,
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        ranks.select("doc_id", F.round("rank", 6).alias("pagerank"))
        .orderBy(F.desc("pagerank"), "doc_id")
        .limit(PAGERANK_TOPK)
    )


def link_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the full extracted outlink graph (every generated
    page links out, so the dangling term contributes exactly zero here —
    the code path still runs; link_graph_pagerank_dangling exercises it
    with real mass)."""
    nodes = _nodes(spark, sf_dir)
    n_docs = _n_docs(spark, sf_dir)
    edges = html_outlinks(spark, sf_dir)
    return _pagerank_topk(nodes, edges, n_docs)


# sources whose outlinks are masked to create dangling pages: every
# doc_id divisible by 7 keeps its page but loses its outgoing edges,
# modeling the unfetched-frontier/dead-end share of a real crawl graph
PAGERANK_DANGLING_MOD = 7


def link_graph_pagerank_dangling(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """PageRank on a graph WITH dangling pages: outlinks of every
    doc_id % 7 == 0 source are dropped (~14% of nodes dangle, the
    realistic crawl mix), so the per-iteration dangling-mass
    redistribution carries real weight and the DuckDB twin pins its
    exact arithmetic. Without the term, ~1/7 of the rank mass would
    leak per iteration and every rank would come out low."""
    nodes = _nodes(spark, sf_dir)
    n_docs = _n_docs(spark, sf_dir)
    edges = (
        html_outlinks(spark, sf_dir)
        .filter(F.col("src") % PAGERANK_DANGLING_MOD != 0)
    )
    return _pagerank_topk(nodes, edges, n_docs)


def html_content_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level extraction — the north rule's 'extracted text/spans
    per document': every DOM block of the boiler page in document order
    with its classification (doc_id, block_idx, block_text, n_words,
    is_content). The boilerplate spans are page-skeleton constants
    (probe-derived at import, never hand-maintained); the content span
    is the text column — both sides of the oracle are closed-form.
    Same fused zero-exchange mapInPandas shape as the other html ops."""

    def spans(doc_id, text):
        page, _ = build_html(text, "boiler", per_block=ORACLE_PER_BLOCK)
        for idx, b in enumerate(parse_blocks(page)):
            yield doc_id, idx, b["text"], b["n_words"], b["is_content"]

    return map_rows(
        _base(spark, sf_dir), spans,
        "doc_id long, block_idx int, block_text string, "
        "n_words int, is_content boolean",
    )


# probe-derived span constants for the html_content_spans oracle: the
# boiler skeleton's boilerplate blocks (text, position) around the single
# content block, with their document-order indices
_SPAN_PROBE = parse_blocks(
    build_html("probe words long enough here", "boiler",
               per_block=ORACLE_PER_BLOCK)[0]
)
SPAN_CONTENT_IDX = next(
    i for i, b in enumerate(_SPAN_PROBE) if b["is_content"]
)
SPAN_BOILER_BLOCKS = [
    (i, b["text"], b["n_words"])
    for i, b in enumerate(_SPAN_PROBE)
    if not b["is_content"]
]


def corpus_build_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-build funnel in ONE query: page ingest +
    boilerplate strip (fused mapInPandas) -> C4/Gopher quality gates on
    the EXTRACTED text (same thresholds as ops.textstats.quality_filter)
    -> exact dedup of survivors — emitting per-stage survivor counts
    (stage, n_docs). This is the composition a training-data pipeline
    actually runs; plan: one narrow Python stage, then a single two-phase
    aggregate (count + conditional count-distinct), then a 3-row stack.
    At 10^12 docs the only shuffle is the distinct's partial-aggregate
    exchange."""
    from .textstats import quality_gates

    # the driver corpus is clean by construction, so the funnel DEGRADES
    # it deterministically first (mirrored in the oracle): every 13th doc
    # truncated to its first 5 words (fails the min-word gate but still
    # satisfies the page generator's 4-word floor), every 7th doc
    # duplicated — so each stage genuinely shrinks
    base = _base(spark, sf_dir)
    words0 = F.split("text", " ")
    degraded = base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0, F.concat_ws(" ", F.slice(words0, 1, 5))
        ).otherwise(F.col("text")).alias("text"),
    )
    dups = degraded.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    corpus = degraded.unionByName(dups)

    def strip(doc_id, text):
        page, _ = build_html(text, "boiler", per_block=ORACLE_PER_BLOCK)
        yield doc_id, extract_main_text(page)

    stripped = map_rows(corpus, strip, "doc_id long, main_text string")
    t = F.col("main_text")
    _, _, _, keep = quality_gates(t)
    agg = stripped.agg(
        F.count("*").alias("ingested"),
        F.sum(keep.cast("long")).alias("quality_pass"),
        F.count_distinct(F.when(keep, t)).alias("deduped"),
    )
    return agg.select(
        F.expr(
            "stack(3, 'ingested', ingested, 'quality_pass', quality_pass, "
            "'deduped', deduped) AS (stage, n_docs)"
        )
    )


def html_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOM-heuristic block census on the boiler recipe: per page, total /
    content / boilerplate block and word counts. The boilerplate side is
    a page-skeleton constant; the content side is derivable from the
    text column — both mirrored in the oracle."""

    def stats(doc_id, text):
        page, _ = build_html(text, "boiler", per_block=ORACLE_PER_BLOCK)
        # block_stats' keys are in the schema's order
        yield doc_id, *block_stats(page).values()

    return map_rows(
        _base(spark, sf_dir), stats,
        "doc_id long, n_blocks int, n_content_blocks int, "
        "n_boiler_blocks int, n_content_words int, n_boiler_words int",
    )


HITS_ITERS = 3
HITS_TOPK = 20


def link_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS over the extracted outlink graph — the
    hubs-and-authorities complement to PageRank (authority = linked-to
    by good hubs; hub = links to good authorities; the classic spam- /
    directory-page separator a link-quality pipeline computes next to
    rank). Fixed HITS_ITERS mutual power iterations with L1
    normalization per step; returns the top HITS_TOPK
    (doc_id, authority, hub_score) by authority.

    Determinism across engines (same recipe as _pagerank_topk): every
    per-node sum AND each L1 total is snapped to 12 decimals, so
    accumulation-order drift (~1e-16) can never reach the grid and the
    unrolled DuckDB twin reproduces every iterate exactly. The L1 total
    is a 1-row aggregate broadcast back (never a collect).

    At 100 TB: edges checkpoint once and feed all iterations; each
    half-step is one keyed join (src or dst) + one hash-aggregate;
    production co-partitions edges by src and keeps a dst-keyed copy so
    only the score side moves per half-step."""
    nodes = _nodes(spark, sf_dir)
    n_docs = _n_docs(spark, sf_dir)
    edges = (
        html_outlinks(spark, sf_dir)
        .select("src", "dst").localCheckpoint(eager=True)
    )

    def _half(scores, score_col, join_key, out_key, checkpoint=True):
        """One HITS half-step: sum scores across edges onto the other
        endpoint, then L1-normalize (snapped at 12 both stages).

        Only the HUB half-step materializes per iteration (lineage cut
        + sole consumer boundary); the intermediate auth scores have
        exactly one consumer inside the loop, so checkpointing them too
        just added an eager job per iteration — the fixed-point math is
        snapped to the 1e-12 grid either way, so the iterates (and the
        unrolled oracle) are unchanged."""
        raw = (
            edges.join(
                scores.withColumnRenamed("doc_id", join_key)
                .withColumnRenamed(score_col, "s_in"),
                join_key,
            )
            .groupBy(F.col(out_key).alias("doc_id"))
            .agg(F.round(F.sum("s_in"), 12).alias("raw"))
        )
        full = nodes.join(raw, "doc_id", "left").select(
            "doc_id", F.coalesce("raw", F.lit(0.0)).alias("raw")
        )
        tot = full.agg(F.round(F.sum("raw"), 12).alias("tot"))
        out = (
            full.crossJoin(F.broadcast(tot))  # 1 row: the L1 scalar
            .select(
                "doc_id",
                F.round(F.col("raw") / F.col("tot"), 12).alias(score_col),
            )
        )
        return out.localCheckpoint(eager=True) if checkpoint else out

    hubs = nodes.select(  # max(n, 1): an empty graph reads no literal
        "doc_id", F.round(F.lit(1.0 / max(n_docs, 1)), 12).alias("hub")
    )
    auths = None
    for it in range(HITS_ITERS):
        # final iteration's auths feed BOTH the last hub half-step and
        # the output join -> materialize those; earlier auths are
        # single-consumer and stay lazy inside the hub checkpoint
        auths = _half(hubs.withColumnRenamed("hub", "auth"),
                      "auth", "src", "dst",
                      checkpoint=(it == HITS_ITERS - 1))
        hubs = _half(auths.withColumnRenamed("auth", "hub"),
                     "hub", "dst", "src")
    return (
        auths.join(hubs, "doc_id")
        .select(
            "doc_id",
            F.round("auth", 6).alias("authority"),
            F.round("hub", 6).alias("hub_score"),
        )
        .orderBy(F.desc("authority"), "doc_id")
        .limit(HITS_TOPK)
    )


def cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX capture index — the Common-Crawl-style URL index a crawl
    publishes beside its WARCs so consumers can look up captures
    without scanning archives: per capture (doc_id, urlkey, ts, url,
    digest, n_bytes). urlkey is the SURT form of the canonical URL
    (host labels reversed and comma-joined: com,example)/path?query —
    sorts by registrable domain); ts is a deterministic
    YYYYMMDDhhmmss capture stamp planted from doc_id; digest is the
    payload md5 (production CDX uses SHA1 — same plumbing, different
    hash constant).

    Scale shape: a pure narrow codegen rule chain over the
    canonicalizer — zero exchange. Production writes the index
    range-partitioned + sortWithinPartitions(urlkey) so shard files
    concatenate into the globally sorted CDX; the rows here are
    emitted unsorted (the sort is a sink property, not part of the
    per-capture map)."""
    docs = read(spark, f"{sf_dir}/documents.parquet", fan="auto")
    canon = canonical_url(_raw_url_expr())
    host = F.regexp_extract(canon, "^[a-z]+://([^/:?#]+)", 1)
    rest = F.regexp_extract(canon, "^[a-z]+://[^/?#]+(.*)$", 1)
    surt = F.concat(
        F.concat_ws(",", F.reverse(F.split(host, "\\."))),
        F.lit(")"), rest,
    )
    ts = F.concat(
        F.lit("202601"),
        F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0"),
        F.lit("000000"),
    )
    return docs.select(
        "doc_id",
        surt.alias("urlkey"),
        ts.alias("ts"),
        canon.alias("url"),
        F.md5("text").alias("digest"),
        F.col("n_chars").alias("n_bytes"),
    )
