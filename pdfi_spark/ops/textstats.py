"""Text analysis operators: language-ID signal, quality scoring, token
counting, document fingerprinting. All built-in-function expressions
(regexp/array/aggregate) — fully codegen'd, no Python in the path."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._scan import parquet_num_rows, read

EN_STOPWORDS = ["the", "a", "of", "and", "in", "to", "is"]
BPE_ISH_RE = "[a-z]{1,4}"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fanned scan, for operators dominated by per-row narrow work (md5
    shingle folds, HOF array math, regex chains)."""
    return read(spark, f"{sf_dir}/documents.parquet", fan="fanned")


def _docs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-adaptive scan, for aggregate/exchange-bound operators
    (explode -> keyed aggregate, windows), whose map-side partials
    shrink before the first exchange (see _scan.MIN_FAN_BYTES)."""
    return read(spark, f"{sf_dir}/documents.parquet", fan="auto")


def lang_stopword_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-free language-ID signal: English stopword occurrences vs
    total words (a real classifier thresholds the ratio)."""
    docs = _docs(spark, sf_dir)
    words = F.split("text", " ")
    n_stop = F.size(F.filter(words, lambda w: w.isin(EN_STOPWORDS)))
    return docs.select(
        "doc_id",
        "lang",
        n_stop.alias("n_stopwords"),
        F.size(words).alias("n_words"),
    )


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheap quality features: counts, distinct ratio inputs, max word
    length (all integers => engine-exact)."""
    docs = _docs(spark, sf_dir)
    words = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
        F.array_max(F.transform(words, F.length)).alias("max_word_len"),
    )


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + a BPE-ish greedy [a-z]{1,4} chunk count."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_RE), 0)).alias("n_bpe_tokens"),
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-doc md5 plus a winnowing-style fingerprint: min md5 over
    5-word shingles. Docs shorter than 5 words are FILTERED OUT (no
    fingerprint row — callers joining back to the corpus must left-join
    and treat missing rows as unfingerprintable), matching the oracle."""
    docs = _docs(spark, sf_dir)
    words = F.split("text", " ")
    shingle_hashes = F.transform(
        F.sequence(F.lit(0), F.size(words) - 5),
        lambda i: F.md5(F.concat_ws(" ", F.slice(words, i + 1, 5))),
    )
    return docs.filter(F.size(words) >= 5).select(
        "doc_id",
        F.md5("text").alias("md5"),
        F.array_min(shingle_hashes).alias("winnow_min"),
    )


# Common English character trigrams (classic lang-ID profile heads)
EN_TRIGRAMS = ["the", "he ", " th", "ing", "nd ", " a ", "er ", " of"]
LANG_ID_THRESHOLD = 0.05  # profile-hit density above which we call 'en'


def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram language ID: density of English-profile trigram
    occurrences over trigram positions, thresholded to a label. Counting
    uses the length-delta trick (occurrences = (len - len(replace))/3),
    a pure codegen expression with an exact SQL twin — no UDF, no
    shuffle; at 100 TB this is a narrow map over the scan."""
    docs = _docs(spark, sf_dir)
    hits = None
    for tri in EN_TRIGRAMS:
        term = (
            F.length("text") - F.length(F.replace(F.col("text"), F.lit(tri)))
        ) / 3
        hits = term if hits is None else hits + term
    n_positions = F.greatest(F.length("text") - 2, F.lit(1))
    score = F.round(hits / n_positions, 6)
    return docs.select(
        "doc_id",
        "lang",
        hits.cast("int").alias("n_trigram_hits"),
        score.alias("trigram_score"),
        F.when(score >= LANG_ID_THRESHOLD, F.lit("en"))
        .otherwise(F.lit("other")).alias("lang_guess"),
    )


N_BENCH_SHINGLES = 8
DECON_FLAG_MIN_HITS = 2


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag documents whose word-3-gram sets
    overlap a benchmark shingle set (the pass every training-data
    pipeline runs against eval suites before training). The benchmark
    set here is the first N shingles of doc 0 (deterministic stand-in
    for a real eval set); it is tiny, built as a 1-row aggregate and
    crossJoined back broadcast — so the scan side is a pure narrow map,
    exactly how a multi-thousand-shingle real benchmark set broadcasts,
    and building the query runs no job."""
    from .dedup import _shingles

    min_words = F.size(F.split("text", " ")) >= 3
    docs = _docs(spark, sf_dir).filter(min_words)
    # lexicographically-smallest N shingles: order-insensitive choice
    # (engines disagree on distinct-preserving order); no doc 0 -> empty.
    # The 1-row side reads unfanned at any size: it keeps at most one row
    bench = read(spark, f"{sf_dir}/documents.parquet").filter(
        min_words & (F.col("doc_id") == 0)
    ).agg(F.coalesce(
        F.first(F.slice(F.array_sort(_shingles()), 1, N_BENCH_SHINGLES)),
        F.array().cast("array<string>"),
    ).alias("bench"))
    hits = F.size(F.array_intersect(_shingles(), F.col("bench")))
    return docs.crossJoin(F.broadcast(bench)).select(
        "doc_id",
        hits.alias("n_bench_hits"),
        (hits >= DECON_FLAG_MIN_HITS).alias("contaminated"),
    )


def length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language word-count percentiles (p50/p90/p99) — the corpus
    length-distribution dashboard query. Uses EXACT `percentile` so the
    DuckDB `quantile_cont` twin matches bit-for-bit (both interpolate
    linearly at p*(n-1)); at 10^12 rows production swaps in
    `approx_percentile` (t-digest sketch, identical plan shape: one
    hash-aggregate with map-side partial sketches), which an
    approximation oracle cannot hash-pin — hence the exact variant
    under the gate."""
    docs = _docs_raw(spark, sf_dir)
    grouped = (
        docs.select("lang", F.size(F.split("text", " ")).alias("words"))
        .groupBy("lang")
        .agg(F.expr("percentile(words, array(0.5D, 0.9D, 0.99D))").alias("p"))
    )
    return grouped.select(
        "lang",
        F.round(F.element_at("p", 1), 6).alias("p50_words"),
        F.round(F.element_at("p", 2), 6).alias("p90_words"),
        F.round(F.element_at("p", 3), 6).alias("p99_words"),
    )


HIST_BUCKET_WORDS = 8
HIST_QS = (0.5, 0.9, 0.99)


def length_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quantiles from a fixed-grid histogram SKETCH — the
    deterministic, mergeable answer to length_percentiles' "at 10^12
    rows production swaps in approx_percentile" note (same role the
    HLL/CMS/Bloom twins play for their exact ops, but hash-pinnable
    where a t-digest is not): bucket = words div HIST_BUCKET_WORDS,
    counts collapse map-side to #langs x #buckets cells per task, and
    the quantile is read off the cumulative histogram with linear
    interpolation inside the winning bucket. Returns (lang, q,
    est_words) for q in HIST_QS; grid resolution (one bucket width) is
    the documented error bound.

    Scale shape: after the first aggregate every stage touches only
    bucket-cardinality rows — the per-lang cumulative window sorts a
    handful of buckets per language (vs the exact percentile, whose
    aggregation buffers hold every distinct value); the quantile
    dimension is a 3-row broadcast. Determinism: counts are exact
    integers; rank = ceil(q*n) computes q*n in DOUBLE in both engines
    (the oracle casts its quantile literals ::DOUBLE — DECIMAL
    arithmetic would ceil differently); the interpolation is snapped
    to 9."""
    docs = _docs_raw(spark, sf_dir)
    words = F.size(F.split("text", " "))
    b = (
        docs.select("lang", words.alias("words"))
        .select("lang", F.expr(f"words div {HIST_BUCKET_WORDS}").alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    from pyspark.sql import Window

    wcum = Window.partitionBy("lang").orderBy("bucket")
    wall = Window.partitionBy("lang")
    c = b.select(
        "lang", "bucket", "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    qs = spark.createDataFrame([(q,) for q in HIST_QS], "q double")
    ranked = (
        c.crossJoin(F.broadcast(qs))
        .withColumn("rank", F.ceil(F.col("q") * F.col("n")))
        .filter(F.col("cum") >= F.col("rank"))
    )
    win = ranked.groupBy("lang", "q", "rank").agg(
        F.min_by(F.struct("bucket", "cnt", "cum"), F.col("bucket")).alias("w")
    )
    est = F.round(
        F.col("w.bucket") * HIST_BUCKET_WORDS
        + HIST_BUCKET_WORDS
        * (F.col("rank") - (F.col("w.cum") - F.col("w.cnt")))
        / F.col("w.cnt"),
        9,
    )
    return win.select("lang", "q", est.alias("est_words"))


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus report: doc counts, char totals, word totals —
    one hash-aggregate shuffle with map-side partials (the shape of every
    corpus-composition dashboard query)."""
    docs = _docs_raw(spark, sf_dir)
    words = F.size(F.split("text", " "))
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            F.sum(words).alias("total_words"),
            F.max(words).alias("max_words"),
        )
    )


# C4/Gopher-style quality gate thresholds
QF_MIN_WORDS = 10
QF_MAX_WORDS = 100000
QF_MIN_MEAN_WORD_LEN = 2.0
QF_MAX_MEAN_WORD_LEN = 12.0
QF_MAX_DUP_3GRAM_FRACTION = 0.6


def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: fraction of word-3-grams that are
    duplicates (1 - distinct/total). Pure codegen array math, narrow."""
    docs = _docs(spark, sf_dir).filter(F.size(F.split("text", " ")) >= 3)
    words = F.split("text", " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(words) - 3),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, 3)),
    )
    n_total = F.size(grams)
    n_distinct = F.size(F.array_distinct(grams))
    return docs.select(
        "doc_id",
        n_total.alias("n_3grams"),
        n_distinct.alias("n_distinct_3grams"),
        (F.round(F.lit(1.0) - n_distinct.cast("double") / n_total, 6) + F.lit(0.0))
        .alias("dup_fraction"),
    )


def quality_gates(text_col):
    """Shared C4/Gopher gate expressions over any text column: returns
    (ok_word_count, ok_mean_word_len, ok_repetition, keep). The single
    source of truth for the gate logic — quality_filter and webtext's
    corpus_build_counts both build from here so thresholds cannot
    diverge."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.split(t, " ")
    n_words = F.size(words)
    mean_wl = F.length(F.regexp_replace(t, " ", "")).cast("double") / n_words
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n_words - 3, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, 3)),
    )
    dup_frac = F.when(
        n_words >= 3,
        F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / F.size(grams),
    ).otherwise(F.lit(0.0))
    ok_len = (n_words >= QF_MIN_WORDS) & (n_words <= QF_MAX_WORDS)
    ok_wl = (mean_wl >= QF_MIN_MEAN_WORD_LEN) & (mean_wl <= QF_MAX_MEAN_WORD_LEN)
    ok_rep = dup_frac <= QF_MAX_DUP_3GRAM_FRACTION
    return ok_len, ok_wl, ok_rep, ok_len & ok_wl & ok_rep


def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite keep/drop gate in the C4/Gopher mold: word-count bounds,
    mean-word-length band, duplicate-3-gram ceiling. Emits per-rule flags
    plus the final keep verdict so downstream can audit drop reasons —
    all codegen, one narrow pass."""
    docs = _docs(spark, sf_dir)
    ok_len, ok_wl, ok_rep, _keep = quality_gates("text")
    return docs.select(
        "doc_id",
        ok_len.alias("ok_word_count"),
        ok_wl.alias("ok_mean_word_len"),
        ok_rep.alias("ok_repetition"),
        _keep.alias("keep"),
    )


SAMPLE_MOD = 10  # keep doc when md5-bucket == 0 -> ~10% deterministic sample


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sample with per-language accounting: a doc is
    kept iff md5(doc_id) lands in bucket 0 of SAMPLE_MOD — reproducible
    on any engine and stable under reruns/resumes (unlike rand()-based
    sampling). Reports per-lang kept/total, the corpus-subsampling
    audit every training run records."""
    docs = _docs_raw(spark, sf_dir)
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") % SAMPLE_MOD
    return (
        docs.select("lang", (bucket == 0).cast("int").alias("kept"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("kept").alias("n_sampled"))
    )


# temperature-scaled language rebalancing (alpha = 0.5): keep
# probability K/sqrt(n_lang) per doc gives an expected per-language
# sample ∝ n_lang^0.5 — the Gopher/LLaMA-style data-mix flattening that
# up-weights low-resource languages relative to raw proportions
LANG_SAMPLE_K = 3.0


def lang_balance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.5) language rebalancing, built
    scale-correct: per-language keep FRACTIONS are one tiny aggregate
    broadcast back, and selection is a narrow deterministic
    hash-threshold filter (u(doc) < K/sqrt(n_lang), u = first 32 md5
    bits / 2^32). No per-language window/rank — a row_number quota
    would shuffle 10^12 rows into one partition per language; the
    threshold form touches each row once, is exactly reproducible under
    reruns/resumes, and its quota error is O(sqrt(sample)).
    Cross-engine determinism: sqrt and double division are
    correctly-rounded IEEE ops, so the DuckDB twin selects the
    identical doc set (boundary equality has measure zero)."""
    docs = _docs_raw(spark, sf_dir)
    fracs = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n_lang"))
        .select(
            "lang",
            F.least(
                F.lit(1.0), F.lit(LANG_SAMPLE_K) / F.sqrt(F.col("n_lang"))
            ).alias("keep_frac"),
        )
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        / F.lit(float(1 << 32))
    )
    return (
        docs.join(F.broadcast(fracs), "lang")
        .filter(u < F.col("keep_frac"))
        .select("doc_id", "lang")
    )


TFIDF_TOPK = 3


def _vocab_dim(dim: DataFrame, broadcast_vocab: bool) -> DataFrame:
    """The term-frequency dimension side of the tfidf/unigram joins.

    broadcast_vocab=True replicates it to every task — right when the
    vocabulary fits the broadcast budget (a (term, double) row is ~tens
    of bytes, so Spark's default 10 MB autoBroadcastJoinThreshold holds
    to roughly 10^5..10^6 distinct terms; the test corpora are far
    under). At open-web vocabulary (~10^9 terms, tens of GB) pass
    False: the dimension then joins as an ordinary keyed shuffle join
    (both sides exchange on term — the fact table is already
    term-keyed from its aggregate, so AQE typically plans a shuffled
    hash join with no extra pass over the big side)."""
    return F.broadcast(dim) if broadcast_vocab else dim


def tfidf_top_terms(spark: SparkSession, sf_dir: str,
                    broadcast_vocab: bool = True) -> DataFrame:
    """Per-document TF-IDF keywords: (doc_id, term, score, rank) for the
    top-3 terms of every doc — the classic salience signal (topic
    tagging, keyword-based routing, near-dup explanation). Shape at
    10^12 docs: term frequencies are one keyed aggregate on
    (doc_id, term); document frequencies reuse that table (one more
    aggregate on term); the tf-df join is keyed on term and broadcast
    or shuffled per ``broadcast_vocab`` (see _vocab_dim for the size
    bound); top-k is a per-doc window — partitioned by doc_id, so no
    single-partition funnel. Cross-engine determinism: idf =
    ln(n_docs/df) snapped to 9 decimals (ln is ~1ulp in both engines —
    drift can't reach the grid), score = tf * idf_snapped snapped to 6;
    ties rank by (score desc, term)."""
    from pyspark.sql import Window

    docs = _docs_raw(spark, sf_dir)
    n_docs = parquet_num_rows(spark, f"{sf_dir}/documents.parquet")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.round(F.log(F.lit(float(n_docs)) / F.col("df")), 9)
    scored = (
        tf.join(_vocab_dim(df_tbl.select("term", idf.alias("idf")),
                           broadcast_vocab),
                "term")
        .select(
            "doc_id", "term",
            F.round(F.col("tf") * F.col("idf"), 6).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.col("term")
    )
    # Width-pinned exchange for the top-k window: the scored rows are
    # bytes-small but every one pays the per-doc sort/rank, so AQE's
    # size-based coalescing would funnel the stage onto 1-2 cores (the
    # same trap as the LSH candidate pairs, guide §2.5). The explicit
    # hash repartition on doc_id satisfies the window's required
    # distribution, so the exchange count is unchanged — only its
    # width is pinned to the cluster's parallelism.
    return (
        scored.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOPK)
    )


def unigram_surprisal(spark: SparkSession, sf_dir: str,
                      broadcast_vocab: bool = True) -> DataFrame:
    """Per-document mean unigram surprisal (nats) against the corpus
    unigram model — the self-contained analogue of CCNet's LM-perplexity
    quality filter: low surprisal = boilerplate-like/common text, high =
    rare-token or garbled text; pipelines bucket on it to drop both
    tails. Shape: one explode+aggregate builds the unigram counts, the
    frequency table joins back broadcast or shuffled per
    ``broadcast_vocab`` (see _vocab_dim for the vocabulary-size bound),
    then one keyed aggregate per doc. Determinism: -ln(cnt/total)
    snapped to 9 decimals per term (ln ~1ulp both engines), the per-doc
    mean snapped to 6 (accumulation-order drift ~1e-14 cannot reach the
    grid)."""
    docs = _docs_raw(spark, sf_dir)
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    counts = words.groupBy("term").agg(F.count("*").alias("cnt"))
    # corpus token total WITHOUT materializing a row per word: one
    # narrow agg of per-doc sizes — same exact integer as the old
    # explode+count, one cheap pass instead of a 10^15-row generate.
    # A 1-row aggregate crossJoined back broadcast (the PageRank
    # dangling-mass shape), so building the query runs no job.
    total = docs.agg(
        F.coalesce(F.sum(F.size(F.split("text", " "))), F.lit(0))
        .alias("total")
    )
    surprisal = F.round(
        -F.log(F.col("cnt").cast("double") / F.col("total").cast("double")),
        9,
    )
    model = counts.crossJoin(F.broadcast(total)).select(
        "term", surprisal.alias("s")
    )
    return (
        words.join(_vocab_dim(model, broadcast_vocab), "term")
        .groupBy("doc_id")
        .agg(
            F.round(F.avg("s"), 6).alias("mean_surprisal"),
            F.count("*").alias("n_tokens"),
        )
    )


def bigram_surprisal(spark: SparkSession, sf_dir: str,
                     broadcast_vocab: bool = True) -> DataFrame:
    """Per-document mean CONDITIONAL surprisal -ln p(w2|w1) against the
    corpus bigram model — one rung up from unigram_surprisal toward
    CCNet's LM-perplexity filter (a conditional model scores garbled
    word ORDER, which unigram frequency cannot see). Bigrams are built
    NARROWLY per row (zip_with over two shifted slices of the word
    array — no per-doc window, no exchange before the aggregates), the
    model is two keyed aggregates (c(w1,w2) and c(w1·) over bigram
    positions), and the dimension joins back broadcast or shuffled per
    ``broadcast_vocab`` (see _vocab_dim). Docs with fewer than two words
    have no bigram and drop out (mirrored in the oracle). Determinism:
    -ln(c2/c1) snapped to 9 decimals, per-doc mean snapped to 6 — same
    grid argument as unigram_surprisal."""
    docs = _docs_raw(spark, sf_dir)
    ws = F.split("text", " ")
    pairs = F.zip_with(
        F.slice(ws, 1, F.size(ws) - 1),
        F.slice(ws, 2, F.size(ws) - 1),
        lambda a, b: F.struct(a.alias("prev"), b.alias("term")),
    )
    big = docs.select("doc_id", F.explode(pairs).alias("bg")).select(
        "doc_id", "bg.prev", "bg.term"
    )
    c2 = big.groupBy("prev", "term").agg(F.count("*").alias("c2"))
    c1 = big.groupBy("prev").agg(F.count("*").alias("c1"))
    surprisal = F.round(
        -F.log(F.col("c2").cast("double") / F.col("c1")), 9
    )
    model = c2.join(c1, "prev").select("prev", "term", surprisal.alias("s"))
    return (
        big.join(_vocab_dim(model, broadcast_vocab), ["prev", "term"])
        .groupBy("doc_id")
        .agg(
            F.round(F.avg("s"), 6).alias("mean_surprisal"),
            F.count("*").alias("n_bigrams"),
        )
    )


WSAMPLE_K = 50


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, one pass — Efraimidis &
    Spirtakis 2006 (the A-ES exponential-key method every distributed
    importance sampler uses): each doc draws a deterministic uniform
    u from its md5 and races with key = -ln(u)/w, w = token count; the
    WSAMPLE_K smallest keys win, which is exactly a weight-proportional
    draw without replacement. The training-mix use: sample a budget of
    documents proportional to token mass (or any quality weight)
    without ever materializing cumulative weights.

    Scale shape: keys are a narrow in-row map; the selection is
    orderBy+limit = TakeOrderedAndProject — per-partition partial
    top-K then a driver merge of K rows per partition, never a global
    sort and never the sequential cumulative-weight scan of the
    textbook algorithm. Determinism: u = (h+1)/2^32 is an exact dyadic
    double (h the first 32 md5 bits — u in (0, 1], never ln(0)); the
    ln is snapped to 9 BEFORE the division by the exact integer weight
    (correctly-rounded double ops in identical order both engines);
    ties break by doc_id."""
    docs = _docs_raw(spark, sf_dir)
    w = F.size(F.split("text", " ")).cast("long")
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("doc_id"), F.lit("ws"))),
                    1, 8),
        16, 10,
    ).cast("long")
    u = (h + 1) / F.lit(4294967296.0)
    key = F.round(-F.log(u), 9) / w
    return (
        docs.select(
            "doc_id", w.alias("weight"), key.alias("sample_key")
        )
        .orderBy(F.asc("sample_key"), F.asc("doc_id"))
        .limit(WSAMPLE_K)
    )


PMI_MIN_COUNT = 5
PMI_TOPK = 20


def pmi_collocations(spark: SparkSession, sf_dir: str,
                     broadcast_vocab: bool = True) -> DataFrame:
    """Top-PMI_TOPK bigram collocations by pointwise mutual information
    — the phrase-mining pass a tokenizer/vocabulary build runs to find
    multi-word units worth merging (Church & Hanks 1990): pmi =
    ln( p(w1,w2) / (p(w1) p(w2)) ), keeping pairs seen at least
    PMI_MIN_COUNT times (PMI of rare pairs is noise). Returns
    (w1, w2, c12, pmi) ordered by (pmi desc, w1, w2).

    Scale shape: bigrams are built narrowly in-row (the
    bigram_surprisal zip_with — no exchange before the aggregates);
    c(w1,w2) and the unigram model are keyed aggregates with map-side
    partials; the unigram dimension joins back twice (w1/w2 side),
    broadcast or shuffled per ``broadcast_vocab`` (see _vocab_dim for
    the size bound); both join sides reuse the unigram aggregate's one
    exchange (ReusedExchange), so the corpus is exploded once. Top-k is
    orderBy+limit = TakeOrderedAndProject, never a global sort.

    Determinism: counts and totals are exact integers; the probability
    ratio is evaluated in the SAME operation order in both engines
    (each division/multiply correctly rounded -> bit-identical
    doubles), and the single ln is snapped to 9 decimals (~1ulp engine
    drift cannot reach the grid)."""
    docs = _docs_raw(spark, sf_dir)
    ws = F.split("text", " ")
    # both corpus totals in ONE narrow agg of per-doc sizes (every doc
    # has >= 1 split token, so its bigram positions = size - 1 >= 0): a
    # 1-row aggregate crossJoined back broadcast, so no job at build time
    totals = docs.agg(
        F.coalesce(F.sum(F.size(ws)), F.lit(0)).cast("double").alias("n_uni"),
        F.coalesce(F.sum(F.size(ws) - 1), F.lit(0)).cast("double").alias("n_bi"),
    )
    pairs = F.zip_with(
        F.slice(ws, 1, F.size(ws) - 1),
        F.slice(ws, 2, F.size(ws) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = docs.select(F.explode(pairs).alias("bg")).select(
        "bg.w1", "bg.w2"
    )
    c12 = (
        big.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .filter(F.col("c12") >= PMI_MIN_COUNT)
    )
    uni = (
        docs.select(F.explode(ws).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    pmi = F.round(
        F.log(
            (F.col("c12") / F.col("n_bi"))
            / (
                (F.col("c1") / F.col("n_uni"))
                * (F.col("c2") / F.col("n_uni"))
            )
        ),
        9,
    )
    d1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    d2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        c12.join(_vocab_dim(d1, broadcast_vocab), "w1")
        .join(_vocab_dim(d2, broadcast_vocab), "w2")
        .crossJoin(F.broadcast(totals))
        .select("w1", "w2", "c12", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(PMI_TOPK)
    )


SHARD_TOKEN_BUDGET = 1000
SHARD_CHUNKS = 8


def pack_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing — the sequence-packing pass that turns
    a cleaned corpus into fixed-token-budget training shards: shard_id =
    floor(prefix_tokens_before_doc / SHARD_TOKEN_BUDGET) over doc_id
    order (greedy packing, the standard pre-tokenization layout step).

    The interesting part is the SHAPE: a naive formulation is one global
    window (ORDER BY doc_id with no partition) — an
    Exchange-SinglePartition over the whole corpus, the canonical
    scale-killer. This runs the classic DISTRIBUTED PREFIX SUM instead:
    (1) closed-form chunk = doc_id / chunk_span (deterministic range
    partitioning without a sampling pass); (2) per-chunk token totals —
    one tiny keyed aggregate (SHARD_CHUNKS rows); (3) exclusive running
    offsets across chunks — one row collecting those few totals, summed
    in-row (the one single-partition exchange, on a dimension-sized
    input); (4) offsets broadcast back and added to a within-chunk
    running sum (window PARTITIONED BY chunk). Arithmetic is exact
    integer addition, so the two-pass sum equals the global prefix sum
    bit-for-bit — the DuckDB oracle is the naive global window. Plan shape (no full-data
    single-partition exchange, broadcast offsets) is pinned in
    tests/test_plans.py."""
    from pyspark.sql import Window

    docs = _docs_raw(spark, sf_dir)
    n_docs = parquet_num_rows(spark, f"{sf_dir}/documents.parquet")
    span = max(1, -(-n_docs // SHARD_CHUNKS))  # ceil
    toks = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.expr(f"doc_id div {span}").alias("chunk"),
    )
    # exclusive prefix sums over the chunk totals in one row (no
    # unpartitioned window): chunk i's offset adds the totals before it
    totals = (
        toks.groupBy("chunk").agg(F.sum("n_tokens").alias("tokens"))
        .agg(F.sort_array(F.collect_list(F.struct("chunk", "tokens")))
             .alias("ts"))
    )
    offsets = totals.select(F.inline(F.transform(
        "ts",
        lambda t, i: F.struct(
            t["chunk"].alias("chunk"),
            F.aggregate(F.slice("ts", 1, i), F.lit(0).cast("long"),
                        lambda acc, u: acc + u["tokens"])
            .alias("chunk_offset"),
        ),
    )))
    doc_w = Window.partitionBy("chunk").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    packed = toks.join(F.broadcast(offsets), "chunk").select(
        "doc_id",
        "n_tokens",
        (F.col("chunk_offset")
         + F.coalesce(F.sum("n_tokens").over(doc_w), F.lit(0)))
        .alias("cum_before"),
    )
    # `div` = exact integral division (no double round-trip; prefix sums
    # at 100 TB approach the double mantissa)
    return packed.select(
        "doc_id",
        "n_tokens",
        F.expr(f"cum_before div {SHARD_TOKEN_BUDGET}").alias("shard_id"),
    )


N_SHUFFLE_SHARDS = 16


def training_shuffle_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudo-random global shuffle — the reproducible
    corpus-order randomization every training run needs before packing
    (doc order must be shuffled, but re-runs must produce the SAME
    order). shard = first 8 hex digits of md5(doc_id) mod
    N_SHUFFLE_SHARDS (a pure narrow map), position within shard =
    row_number over the full hex digest (doc_id as the theoretical
    tie-break). Reading shards 0..n-1 each in pos order IS the shuffled
    epoch order.

    Scale shape: the only window is PARTITIONED BY shard — n_shards
    independent sorts of ~N/n_shards rows each, never the naive global
    ORDER BY rand() window (an Exchange-SinglePartition over the whole
    corpus). At 100 TB n_shards is set to O(corpus/shard-budget) so
    every sort fits an executor; determinism comes from md5, not a
    seeded rng, so any engine reproduces the identical manifest."""
    from pyspark.sql import Window

    docs = _docs_raw(spark, sf_dir)
    hashed = docs.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("hx"),
    ).select(
        "doc_id",
        "hx",
        F.pmod(
            F.conv(F.substring("hx", 1, 8), 16, 10).cast("long"),
            F.lit(N_SHUFFLE_SHARDS),
        ).cast("int").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("hx", "doc_id")
    return hashed.select(
        "doc_id",
        "shard",
        (F.row_number().over(w) - 1).cast("long").alias("pos_in_shard"),
    )


EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PHONE_RE = "\\d{3}-\\d{3}-\\d{4}"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails + phone numbers) — the standard pre-training
    scrub pass, entirely JVM-side regexp_replace/regexp_count (patterns
    chosen to mean the same thing in Java regex and RE2 so the DuckDB
    twin is literal). The testdata corpus carries no PII, so each doc
    first gets a deterministic synthetic contact line derived from its
    doc_id; the oracle applies the identical construction, then both
    engines must agree on counts and on the scrubbed text byte-for-byte.
    At 100 TB this is a pure narrow map — zero exchange."""
    docs = _docs(spark, sf_dir)
    contact = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(contact, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        F.regexp_count(contact, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(contact, F.lit(PHONE_RE)).alias("n_phones"),
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ["join", "table", "query"]
BM25_TOPK = 10


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the corpus for a fixed query term set — the
    scoring half of the decontamination/eval-retrieval loop (find the
    training docs most relevant to a benchmark prompt). Okapi BM25 with
    the Lucene idf variant: idf = ln((N - df + 0.5)/(df + 0.5) + 1),
    score = sum_t idf_t * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).
    Returns the top BM25_TOPK (doc_id, score), ties broken by doc_id.
    Docs containing none of the query terms never enter the ranking.

    Scale shape: the query-term filter lands INSIDE the explode (the
    array is filtered before generation), so the per-(doc,term) tf
    aggregate only ever carries |query| terms per doc; df is one more
    tiny aggregate over that (|query| rows, broadcast back); N is the
    footer's row count and avgdl a 1-row aggregate broadcast back, so
    building the query runs no job. Top-k is orderBy+limit —
    Spark plans TakeOrderedAndProject (per-partition partial top-k,
    driver merge of K rows), never a single-partition global sort.

    Determinism: N, df, tf, dl are exact integers; avgdl is one double
    division of two exact integers (identical in both engines); idf is
    snapped to 9 decimals, the per-term score to 9, the per-doc sum
    (<= |query| addends, drift ~1e-15) to 6."""
    docs = _docs_raw(spark, sf_dir)
    words = F.split("text", " ")
    n_docs = parquet_num_rows(spark, f"{sf_dir}/documents.parquet")
    # sum(size(words)) is the exact token total without a row per token;
    # exact ints -> one correctly-rounded double (no row reads it if
    # empty), as a 1-row aggregate crossJoined back broadcast
    avgdl = docs.agg(
        (F.coalesce(F.sum(F.size(words)), F.lit(0)) / F.lit(max(n_docs, 1)))
        .alias("avgdl")
    )
    hits = docs.select(
        "doc_id",
        F.size(words).alias("dl"),
        F.explode(F.filter(words, lambda w: w.isin(BM25_QUERY)))
        .alias("term"),
    )
    tf = hits.groupBy("doc_id", "dl", "term").agg(F.count("*").alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.round(
        F.log((F.lit(float(n_docs)) - F.col("df") + 0.5)
              / (F.col("df") + 0.5) + 1.0), 9)
    term_score = F.round(
        F.col("idf") * (F.col("tf") * (BM25_K1 + 1.0))
        / (F.col("tf")
           + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))),
        9,
    )
    scored = (
        tf.join(F.broadcast(df_tbl.select("term", idf.alias("idf"))), "term")
        .crossJoin(F.broadcast(avgdl))
        .select("doc_id", term_score.alias("s"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 6).alias("score"))
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(BM25_TOPK)


SURPRISAL_TERCILES = [1 / 3, 2 / 3]


def surprisal_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail selection completed end-to-end: bucket
    every doc by where its mean unigram surprisal falls within its
    LANGUAGE's tercile thresholds (head = most fluent third). Pipelines
    keep head+middle and drop tail — this emits the assignment:
    (doc_id, lang, mean_surprisal, bucket).

    Scale shape: deliberately NOT a per-lang ntile window (a handful of
    langs => a handful of sort partitions — the same single-partition
    funnel lang_balance_sample avoids). Instead the thresholds are a
    tiny per-lang aggregate (2 cut points/lang) broadcast back, and
    bucketing is a narrow CASE. Exact `percentile` under the gate for
    the bit-matching quantile_cont twin; at 10^12 rows production swaps
    approx_percentile, same plan shape (length_percentiles precedent).
    The surprisal subtree feeds both the threshold aggregate and the
    join-back; its per-doc aggregate exchange is canonically identical
    on both branches, so AQE ReuseExchange runs it once (same property
    pinned for exact_substring_dup). Determinism: inputs are on the
    1e-6 grid; interpolated thresholds snap to 9 decimals (engine
    interpolation-order drift ~1 ulp cannot reach that grid)."""
    docs = _docs_raw(spark, sf_dir)
    s = unigram_surprisal(spark, sf_dir).join(
        docs.select("doc_id", "lang"), "doc_id"
    ).select("doc_id", "lang", "mean_surprisal")
    qs = F.percentile(
        "mean_surprisal", F.array(*[F.lit(p) for p in SURPRISAL_TERCILES])
    )
    th = (
        s.groupBy("lang").agg(qs.alias("qs"))
        .select(
            "lang",
            F.round(F.element_at("qs", 1), 9).alias("t1"),
            F.round(F.element_at("qs", 2), 9).alias("t2"),
        )
    )
    bucket = (
        F.when(F.col("mean_surprisal") <= F.col("t1"), "head")
        .when(F.col("mean_surprisal") <= F.col("t2"), "middle")
        .otherwise("tail")
    )
    return s.join(F.broadcast(th), "lang").select(
        "doc_id", "lang", "mean_surprisal", bucket.alias("bucket")
    )


# Count-Min Sketch (Cormode & Muthukrishnan 2005) — the frequency twin
# of host_url_hll's cardinality sketch: term counts compress into
# CMS_D x CMS_W integer counters whose cells come from the shared md5,
# so the DuckDB twin rebuilds the identical sketch. All-integer math —
# no rounding grid needed anywhere.
CMS_D = 4     # hash rows
CMS_W = 256   # counters per row
CMS_TOPK = 20


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters with CMS error columns: the top-CMS_TOPK terms by
    true corpus frequency (ties by term), each with its sketch estimate
    min over CMS_D rows of counter[r][md5(r:term) % CMS_W]. CMS
    guarantees est >= true; collisions only ever inflate. At 10^12
    tokens the sketch build is the scale path — the (r, bucket) keyed
    aggregate map-side-combines into <= CMS_D*CMS_W cells per task, so
    the shuffle carries ~1k rows per task regardless of vocabulary; the
    exact side rides along as the verification/error column (same
    honest framing as host_url_hll's n_exact). The per-term fold is
    checkpointed once — three subtrees (counters, top-k, probe) would
    otherwise re-run it."""
    tc = (
        _docs_raw(spark, sf_dir)
        .select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        # kept: unshared, the term fold runs twice (2 scans, not 1)
        .localCheckpoint(eager=True)
    )
    rows = spark.range(CMS_D).select(F.col("id").cast("int").alias("r"))
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("r"), F.col("term"))), 1, 8
            ),
            16, 10,
        ).cast("long") % CMS_W
    )
    buck = tc.crossJoin(F.broadcast(rows)).select(
        "r", "term", "n", bucket.alias("bucket")
    )
    cnt = buck.groupBy("r", "bucket").agg(F.sum("n").alias("c"))
    top = tc.orderBy(F.desc("n"), F.asc("term")).limit(CMS_TOPK)
    probe = F.broadcast(top).join(buck.select("r", "term", "bucket"), "term")
    return (
        probe.join(F.broadcast(cnt), ["r", "bucket"])
        .groupBy("term", "n")
        .agg(F.min("c").alias("cms_est"))
        .select("term", F.col("n").alias("n_true"), "cms_est")
    )
