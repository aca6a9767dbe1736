"""Value-level semantics of the round-5 crawl/training-data operators
(cross-engine equality lives in the DuckDB oracle gate; these pin the
hand-computable contracts)."""
from pyspark.sql import functions as F

from pdfi_spark import ops
from pdfi_spark.ops.textstats import SHARD_TOKEN_BUDGET

SF = "/root/testdata/sf0.001"


def test_crawl_delay_parsing():
    from pdfi_spark.core.robots import ROBOTS_TXT, crawl_delay

    assert crawl_delay(ROBOTS_TXT["example.com"]) == 2.0
    assert crawl_delay(ROBOTS_TXT["www.example.com"]) is None
    assert crawl_delay("User-agent: *\nCrawl-delay: 0.5\n") == 0.5
    assert crawl_delay("User-agent: *\nCrawl-delay: soon\n") is None
    assert crawl_delay("") is None
    # non-finite / negative values parse as floats but are garbage as
    # delays (NaN would break the order-insensitive value hash): treated
    # like any other unparsable value
    assert crawl_delay("User-agent: *\nCrawl-delay: inf\n") is None
    assert crawl_delay("User-agent: *\nCrawl-delay: -inf\n") is None
    assert crawl_delay("User-agent: *\nCrawl-delay: nan\n") is None
    assert crawl_delay("User-agent: *\nCrawl-delay: -3\n") is None


def test_frontier_schedule_spacing_and_politeness(spark):
    rows = ops.frontier_schedule(spark, SF).collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r)
    # example.com declares Crawl-delay: 2 -> fetches spaced 2s apart;
    # www.example.com has none -> 1s default
    for host, delay in (("example.com", 2.0), ("www.example.com", 1.0)):
        hr = sorted(by_host[host], key=lambda r: r.fetch_order)
        assert [r.fetch_order for r in hr] == list(range(len(hr)))
        assert all(r.scheduled_sec == r.fetch_order * delay for r in hr)
        # per-host order follows doc_id (the frontier's stable order)
        ids = [r.doc_id for r in hr]
        assert ids == sorted(ids)
    # robots verdicts are respected: no scheduled page may be disallowed
    verdicts = {
        r.doc_id: r.allowed for r in ops.robots_filter(spark, SF).collect()
    }
    assert all(verdicts[r.doc_id] for r in rows)
    assert not all(verdicts.values())  # the filter actually dropped some


def test_pack_training_shards_matches_naive_prefix_sum(spark):
    # the two-pass distributed prefix sum must equal the naive global
    # scan, and greedy packing means every shard BOUNDARY doc starts
    # because the previous shard crossed the budget
    rows = sorted(
        ops.pack_training_shards(spark, SF).collect(),
        key=lambda r: r.doc_id,
    )
    cum = 0
    for r in rows:
        assert r.shard_id == cum // SHARD_TOKEN_BUDGET
        cum += r.n_tokens
    # shards are contiguous, start at 0, and each holds >= 1 doc
    shard_ids = [r.shard_id for r in rows]
    assert shard_ids[0] == 0
    assert shard_ids == sorted(shard_ids)
    assert set(shard_ids) == set(range(max(shard_ids) + 1))


def test_anchor_text_index_matches_planted_graph(spark):
    from pdfi_spark.core.htmlgen import outlink_targets

    n_docs = 500  # the sf0.001 documents table
    rows = {r.dst: r for r in ops.anchor_text_index(spark, SF).collect()}
    # rebuild the planted in-link census in pure Python
    inlinks = {}
    for src in range(n_docs):
        for dst in outlink_targets(src, n_docs):
            inlinks.setdefault(dst, []).append(src)
    assert set(rows) == set(inlinks)
    for dst, srcs in inlinks.items():
        r = rows[dst]
        assert r.n_inlinks == len(srcs)
        assert r.n_unique_srcs == len(set(srcs))
        assert r.first_src == min(srcs)
        assert r.top_anchor == f"document {dst}"


def test_bigram_surprisal_semantics(spark):
    import math

    from pdfi_spark.ops.textstats import bigram_surprisal
    from pdfi_spark.ops import textstats

    docs = spark.createDataFrame(
        [(0, "a b a b a b"), (1, "a b x"), (2, "solo")],
        "doc_id long, text string",
    )
    orig = textstats._docs_raw
    textstats._docs_raw = lambda s, d: docs
    try:
        rows = {r.doc_id: r for r in bigram_surprisal(spark, "x").collect()}
    finally:
        textstats._docs_raw = orig
    # corpus bigrams: a>b x4 (of 5 'a·'... wait: a-starts = 4), b>a x2,
    # b>x x1. c(a·)=4 (doc0 x3 + doc1 x1), all 'a b' -> -ln(4/4)=0;
    # c(b·)=3: b>a -> -ln(2/3), b>x -> -ln(1/3)
    assert rows[0].n_bigrams == 5
    exp0 = round((0 * 3 + round(-math.log(2 / 3), 9) * 2) / 5, 6)
    assert rows[0].mean_surprisal == exp0
    assert rows[1].n_bigrams == 2
    exp1 = round((0 + round(-math.log(1 / 3), 9)) / 2, 6)
    assert rows[1].mean_surprisal == exp1
    assert 2 not in rows  # single-word doc has no bigram


def test_frontier_streaming_equals_batch_schedule(spark):
    """Per-host fetch counters must persist ACROSS micro-batches: the
    input is split into 4 doc_id-range files delivered one per trigger,
    so a state reset would restart each host's order at 0 per batch
    (duplicate fetch_orders) — equality with the batch operator proves
    continuous state."""
    from pdfi_spark.streaming import frontier_schedule_streaming

    stream_rows = sorted(
        map(tuple, frontier_schedule_streaming(spark, SF).collect())
    )
    batch_rows = sorted(map(tuple, ops.frontier_schedule(spark, SF).collect()))
    assert stream_rows == batch_rows
    # sanity: per-host orders are strictly continuous 0..n-1
    per_host = {}
    for _doc, host, order, _sec in stream_rows:
        per_host.setdefault(host, []).append(order)
    for orders in per_host.values():
        assert sorted(orders) == list(range(len(orders)))


def test_crawl_diff_statuses(spark):
    rows = {r.url: r.status for r in ops.crawl_diff(spark, SF).collect()}
    assert len(rows) == 500
    base = "https://example.org/page/"
    # first 20% only in the old crawl; last 20% only in the new one
    assert rows[base + "0"] == "gone" and rows[base + "99"] == "gone"
    assert rows[base + "400"] == "new" and rows[base + "499"] == "new"
    # overlap: every 5th doc's content was amended
    assert rows[base + "200"] == "changed"
    assert rows[base + "201"] == "unchanged"
    from collections import Counter
    c = Counter(rows.values())
    assert c == {"gone": 100, "new": 100,
                 "changed": 60, "unchanged": 240}, c


def test_paragraph_dedup_counts_planted_repeats(spark):
    res = ops.paragraph_dedup(spark, SF)
    # every 8-word line of every doc is accounted for exactly once
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_lines = docs.select(
        F.ceil(F.size(F.split("text", " ")) / 8).alias("n")
    ).agg(F.sum("n")).first()[0]
    assert res.agg(F.sum("n_occurrences")).first()[0] == n_lines
    # the synthetic corpus shares a small vocabulary: some paragraphs
    # genuinely repeat across documents (the signal this op exists for)
    assert res.filter(F.col("n_docs") > 1).count() > 0
    assert res.filter(F.col("first_doc").isNull()).count() == 0


def test_host_url_hll_matches_pure_python_replica(spark):
    """Third-engine check: recompute the m=64 HLL from the same canon
    URLs in pure Python (hashlib md5, integer bit ops — no Spark or
    DuckDB expressions) and demand the exact 6-decimal estimate."""
    import hashlib
    import math

    from pdfi_spark.ops.webtext import HLL_ALPHA, HLL_M

    canon = {
        (r["host"], r["canon_url"])
        for r in ops.url_canonicalize(spark, SF)
        .select(
            F.regexp_extract("canon_url", "^[a-z]+://([^/:?#]+)", 1)
            .alias("host"),
            "canon_url",
        )
        .collect()
    }
    regs: dict[str, dict[int, int]] = {}
    exact: dict[str, set] = {}
    for host, url in canon:
        hx = hashlib.md5(url.encode()).hexdigest()
        h1, h2 = int(hx[:8], 16), int(hx[8:16], 16)
        rho = 33 if h2 == 0 else 33 - h2.bit_length()
        r = regs.setdefault(host, {})
        r[h1 % HLL_M] = max(r.get(h1 % HLL_M, 0), rho)
        exact.setdefault(host, set()).add(url)
    want = {}
    for host, r in regs.items():
        v = float(HLL_M - len(r))
        z = sum(2.0 ** -m for m in r.values()) + v
        raw = (HLL_ALPHA * HLL_M * HLL_M) / z
        if raw <= 2.5 * HLL_M and v > 0:
            est = HLL_M * round(math.log(HLL_M / v), 9)
        else:
            est = raw
        want[host] = (len(exact[host]), round(est, 6))
    got = {r["host"]: (r["n_exact"], r["hll_est"])
           for r in ops.host_url_hll(spark, SF).collect()}
    assert got == want
    # the estimate is a real estimate of the real cardinality: within
    # the ~1.04/sqrt(64) error band (x3 for slack) for every host
    for host, (n, est) in got.items():
        assert abs(est - n) / n < 3 * 1.04 / (HLL_M ** 0.5), (host, n, est)


def test_cms_heavy_hitters_matches_pure_python_replica(spark):
    """Third-engine check for the Count-Min sketch: rebuild the
    CMS_D x CMS_W counters in pure Python from the raw parquet text and
    demand identical estimates; also pin the CMS one-sided guarantee
    (estimate never undercounts)."""
    import hashlib
    from collections import Counter

    import pandas as pd

    from pdfi_spark.ops.textstats import CMS_D, CMS_TOPK, CMS_W

    texts = pd.read_parquet(f"{SF}/documents.parquet", columns=["text"])
    tc = Counter(t for s in texts["text"] for t in s.split(" "))
    counters = [[0] * CMS_W for _ in range(CMS_D)]
    for term, n in tc.items():
        for r in range(CMS_D):
            hx = hashlib.md5(f"{r}:{term}".encode()).hexdigest()
            counters[r][int(hx[:8], 16) % CMS_W] += n
    top = sorted(tc.items(), key=lambda kv: (-kv[1], kv[0]))[:CMS_TOPK]
    want = {}
    for term, n in top:
        est = min(
            counters[r][int(hashlib.md5(f"{r}:{term}".encode())
                            .hexdigest()[:8], 16) % CMS_W]
            for r in range(CMS_D)
        )
        want[term] = (n, est)
    got = {r["term"]: (r["n_true"], r["cms_est"])
           for r in ops.cms_heavy_hitters(spark, SF).collect()}
    assert got == want
    for term, (n, est) in got.items():
        assert est >= n, (term, n, est)


def test_bloom_dedup_gate_matches_pure_python_replica(spark):
    """Third-engine check for the Bloom gate: rebuild the m-bit filter
    in pure Python from the raw parquet and demand identical verdicts;
    also pin the no-false-negative guarantee (every exact dup probes
    positive) and that the corpus actually exercises false positives."""
    import hashlib

    import pandas as pd

    from pdfi_spark.ops.webtext import BLOOM_K, BLOOM_M

    docs = pd.read_parquet(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    )
    n = len(docs)
    lo, hi = int(n * 0.2), int(n * 0.8)

    def pos(j, digest):
        hx = hashlib.md5(f"{j}:{digest}".encode()).hexdigest()
        return int(hx[:8], 16) % BLOOM_M

    old = {hashlib.md5(t.encode()).hexdigest()
           for t in docs[docs.doc_id < hi]["text"]}
    bits = {pos(j, d) for d in old for j in range(BLOOM_K)}
    want = {}
    for doc_id, text in zip(docs.doc_id, docs.text):
        if doc_id < lo:
            continue
        if doc_id % 5 == 0:
            text = text + " updated"
        digest = hashlib.md5(text.encode()).hexdigest()
        want[doc_id] = (
            all(pos(j, digest) in bits for j in range(BLOOM_K)),
            digest in old,
        )
    got = {r["doc_id"]: (r["bloom_maybe_dup"], r["exact_dup"])
           for r in ops.bloom_dedup_gate(spark, SF).collect()}
    assert got == want
    assert all(maybe for maybe, exact in got.values() if exact)  # no FN
    assert any(maybe and not exact for maybe, exact in got.values())


def test_host_cap_sample_cap_and_hash_order(spark):
    """Per host: ranks are exactly 1..n_pages, kept == (rank <= cap),
    and the within-host order is the md5-of-decimal-doc_id order
    (replicated in pure Python for every host)."""
    import hashlib

    from pdfi_spark.ops.webtext import HOST_CAP

    rows = ops.host_cap_sample(spark, SF).collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r)
    for host, hr in by_host.items():
        hr.sort(key=lambda r: r.host_rank)
        assert [r.host_rank for r in hr] == list(range(1, len(hr) + 1))
        for r in hr:
            assert r.kept == (r.host_rank <= HOST_CAP)
        want = sorted(
            (r.doc_id for r in hr),
            key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d),
        )
        assert [r.doc_id for r in hr] == want, host
    # the corpus actually exercises the cap (some host over HOST_CAP)
    assert any(len(hr) > HOST_CAP for hr in by_host.values())


def test_pmi_collocations_matches_pure_python_replica(spark):
    """Replica of the PMI formula over the raw parquet: same bigram
    liner, same min-count gate, same ratio — pmi equal to the snapped
    grid (1e-9 tolerance for the replica's own ln rounding)."""
    import math
    from collections import Counter

    import pandas as pd

    from pdfi_spark.ops.textstats import PMI_MIN_COUNT, PMI_TOPK

    texts = pd.read_parquet(f"{SF}/documents.parquet", columns=["text"])
    uni, big = Counter(), Counter()
    for t in texts["text"]:
        ws = t.split(" ")
        uni.update(ws)
        big.update(zip(ws, ws[1:]))
    n_uni = sum(uni.values())
    n_bi = sum(big.values())
    scored = {
        (w1, w2): round(
            math.log((c / n_bi) / ((uni[w1] / n_uni) * (uni[w2] / n_uni))),
            9,
        )
        for (w1, w2), c in big.items()
        if c >= PMI_MIN_COUNT
    }
    want = sorted(scored.items(), key=lambda kv: (-kv[1], kv[0]))[:PMI_TOPK]
    got = ops.pmi_collocations(spark, SF).collect()
    assert [(r.w1, r.w2) for r in got] == [k for k, _ in want]
    for r, (k, pmi) in zip(got, want):
        assert abs(r.pmi - pmi) <= 1e-9, (k, r.pmi, pmi)
        assert r.c12 == big[k]


def test_weighted_sample_matches_pure_python_replica(spark):
    """Replica of the A-ES exponential-key race over the raw parquet:
    same dyadic uniform, same snapped ln, same top-K — plus the
    weight-proportionality property (winners average heavier than the
    corpus, since bigger w shrinks the key)."""
    import hashlib
    import math

    import pandas as pd

    from pdfi_spark.ops.textstats import WSAMPLE_K

    docs = pd.read_parquet(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    )
    keyed = []
    for doc_id, text in zip(docs.doc_id, docs.text):
        w = len(text.split(" "))
        h = int(hashlib.md5(f"{doc_id}:ws".encode()).hexdigest()[:8], 16)
        key = round(-math.log((h + 1) / 4294967296.0), 9) / w
        keyed.append((key, doc_id, w))
    keyed.sort()
    want = keyed[:WSAMPLE_K]
    got = ops.weighted_sample(spark, SF).collect()
    assert [(r.doc_id, r.weight) for r in got] == [
        (d, w) for _, d, w in want
    ]
    for r, (key, _, _) in zip(got, want):
        assert abs(r.sample_key - key) <= 1e-9
    corpus_mean = sum(w for _, _, w in keyed) / len(keyed)
    winner_mean = sum(r.weight for r in got) / len(got)
    assert winner_mean > corpus_mean


def test_length_histogram_quantiles_replica_and_error_bound(spark):
    """Replica of the histogram-quantile sketch in pure Python (same
    grid, same double ceil, same interpolation), plus the documented
    error bound: every estimate within one bucket width of the true
    (exact, nearest-rank) quantile."""
    import math

    import pandas as pd

    from pdfi_spark.ops.textstats import HIST_BUCKET_WORDS, HIST_QS

    docs = pd.read_parquet(
        f"{SF}/documents.parquet", columns=["lang", "text"]
    )
    by_lang = {}
    for lang, text in zip(docs.lang, docs.text):
        by_lang.setdefault(lang, []).append(len(text.split(" ")))
    want = {}
    for lang, ws in by_lang.items():
        hist = {}
        for w in ws:
            hist[w // HIST_BUCKET_WORDS] = hist.get(
                w // HIST_BUCKET_WORDS, 0) + 1
        n = len(ws)
        for q in HIST_QS:
            rank = math.ceil(q * n)
            cum = 0
            for bucket in sorted(hist):
                cnt = hist[bucket]
                cum += cnt
                if cum >= rank:
                    est = round(
                        bucket * HIST_BUCKET_WORDS
                        + HIST_BUCKET_WORDS * (rank - (cum - cnt)) / cnt,
                        9,
                    )
                    want[(lang, q)] = est
                    break
    got = {(r.lang, r.q): r.est_words
           for r in ops.length_histogram_quantiles(spark, SF).collect()}
    assert set(got) == set(want)
    for k, est in got.items():
        assert abs(est - want[k]) <= 1e-9, (k, est, want[k])
    # grid-resolution error bound vs the exact nearest-rank quantile
    for (lang, q), est in got.items():
        ws = sorted(by_lang[lang])
        exact = ws[math.ceil(q * len(ws)) - 1]
        assert abs(est - exact) <= HIST_BUCKET_WORDS, (lang, q, est, exact)


def test_link_graph_triangles_matches_pure_python_replica(spark):
    """Third-engine check: rebuild the planted closed-form link graph
    in pure Python, orient low->high, count wedges and closed
    triangles by brute force — and demand identical census numbers."""
    import pandas as pd

    n = len(pd.read_parquet(f"{SF}/documents.parquet", columns=["doc_id"]))
    und = set()
    for doc_id in range(n):
        for i in range(doc_id % 3 + 2):
            dst = (doc_id * 31 + 17 * i + 7) % n
            if dst != doc_id:
                und.add((min(doc_id, dst), max(doc_id, dst)))
    by_lo = {}
    for lo, hi in und:
        by_lo.setdefault(lo, []).append(hi)
    wedges = sum(len(by_lo.get(hi, [])) for _, hi in und)
    triangles = sum(
        1 for lo, hi in und for c in by_lo.get(hi, [])
        if (lo, c) in und
    )
    row = ops.link_graph_triangles(spark, SF).collect()[0]
    assert (row.n_edges, row.n_wedges, row.n_triangles) == (
        len(und), wedges, triangles
    )
    assert row.n_triangles > 0  # the planted graph actually closes some
