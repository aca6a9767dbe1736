"""Dump the physical plans of registered queries
(``__spark_entry__.queries()``). Two modes:

    python tools/dump_plans.py
        Regenerate PLANS.md: the executed plans of the headline queries
        at sf0.001, each with the scale-relevant property it is expected
        to show (also asserted mechanically in tests/test_plans.py).

    python tools/dump_plans.py --out DIR --suffix SUFFIX QUERY [QUERY ...]
        Write ``explain("formatted")`` of each named query to
        DIR/QUERY_SUFFIX.txt, over $SPARK_GRAFT_SF_DIR (default: the
        sf0.1 tables beside SF). Run once per tree (say "before" and
        "after") for a plans/rNN/ before/after set.
"""
from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.001"

EXTRACT_CLAIM = (
    "zero Exchange: scan -> mapInPandas; the salted shuffle is paid once "
    "at ingest (bucket-written table), not per run"
)

# (query name in queries(), the plan's scale property)
CASES = [
    ("minhash_signatures",
     "zero Exchange AND one md5 per word: the digest transform is the "
     "fold input (md5 appears ONCE in the plan); h1..h4 slice the four "
     "32-bit lanes in a separate non-collapsed projection"),
    ("simhash",
     "zero shuffle: vectorized numpy mapInPandas (batch-distinct word "
     "md5s + one +-1 bit matrix + add.reduceat; bit-identical to the "
     "retained Catalyst-HOF twin, pinned in test_dedup_clusters)"),
    ("minhash_lsh_buckets",
     "single Exchange: the groupBy(band, bucket) — coding is narrow"),
    ("minhash128_signatures",
     "zero Exchange, still one md5 per distinct word: the 128-lane fold "
     "runs in the Arrow-batched numpy mapInPandas (hashlib digest loop + "
     "frombuffer lanes + minimum.reduceat — bit-identical to the "
     "Catalyst-HOF twin, 2.1x faster: HOF lambdas never enter codegen); "
     "scan pruned to doc_id+text"),
    ("minhash128_lsh_buckets",
     "single Exchange: 16-band banding explodes in-row (16 band-key "
     "md5s over the signature, word md5 still once), then one "
     "combiner-friendly groupBy(band, bucket)"),
    ("dedup_clusters",
     "bucket-capped LSH candidates from ONE keyed aggregate with "
     "in-row i<j pair generation (sum(bucket^2) pairs, no self-join, "
     "never N^2) -> Jaccard verify -> large-star/small-star connected "
     "components (O(log n) rounds), lineage cut per round"),
    ("cosine_topk",
     "broadcast 1-row query side + TakeOrderedAndProject: no shuffle, "
     "no sort of the full corpus"),
    ("nation_revenue_topk",
     "lineitem partially aggregated BEFORE joining (paired partial/final "
     "HashAggregates); 25-row nation joined via BroadcastHashJoin"),
    ("media_metadata",
     "hex() only ever sees substring(payload, 1, 4) — the blob is never "
     "widened to a 2x hex string"),
    ("html_boiler",
     "zero Exchange: fused generate+strip mapInPandas; scan pruned to "
     "doc_id+text"),
    ("warc_extract",
     "zero Exchange: the whole .warc.gz roundtrip (member gunzip, record "
     "parse, HTTP split, boilerplate strip) is one fused mapInPandas "
     "with the scan pruned to doc_id+text"),
    ("link_graph_degrees",
     "edge fan-out happens inside the extraction UDF (zero-Exchange edge "
     "list), so the in-degree census is exactly one hash-aggregate "
     "Exchange on dst with map-side partials"),
    ("link_graph_pagerank",
     "each power iteration is materialized (localCheckpoint) so the "
     "final plan is TakeOrderedAndProject over the checkpointed ranks — "
     "top-k with no global sort and no cartesian"),
    ("link_graph_pagerank_dangling",
     "the per-iteration dangling-mass scalar is a 1-row aggregate "
     "broadcast back into the rank update (BroadcastNestedLoopJoin of "
     "one row, never a CartesianProduct over data, never a collect); "
     "final stage still TakeOrderedAndProject"),
    ("url_canonicalize",
     "the whole canonicalization rule chain is built-in string "
     "functions inside one WholeStageCodegen span: zero Exchange, zero "
     "Python, scan pruned to doc_id"),
    ("lang_balance_sample",
     "temperature rebalancing as a broadcast hash-threshold filter: "
     "the per-language fraction table is a BroadcastHashJoin back onto "
     "a narrow filter — no per-language Window/rank (which would be "
     "one partition per language at 10^12 rows)"),
    ("pack_training_shards",
     "distributed prefix sum: the only Exchange SinglePartition sits on "
     "the SHARD_CHUNKS-row chunk-sums side (inside the "
     "BroadcastExchange); the full-data window is partitioned by chunk "
     "and the offsets come back as a broadcast join — never a "
     "global-order window over the corpus"),
    ("frontier_schedule",
     "per-host window (politeness makes a host inherently serial) over "
     "robots-allowed pages; rules and Crawl-delay dimensions broadcast; "
     "no global-order window, no cartesian"),
    ("bigram_surprisal",
     "bigrams built in-row by zip_with over two shifted slices (no "
     "per-doc window, zero Exchange before the model aggregates); the "
     "bigram model joins back as a BroadcastHashJoin (broadcast_vocab "
     "switch for open-web vocabulary)"),
    ("paragraph_dedup",
     "narrow in-row line explode (JVM-side, no Python) into exactly one "
     "keyed hash-aggregate Exchange on the paragraph text"),
    ("training_shuffle_manifest",
     "deterministic epoch shuffle: md5-derived shard is a narrow map and "
     "the only window is PARTITIONED BY shard (n_shards independent "
     "sorts) — never the naive global ORDER BY rand() single-partition "
     "funnel; scan pruned to doc_id"),
    ("semdedup",
     "within-cell pair stage joins KEYED on centroid_id (cost "
     "sum(cell^2), cluster count grows with N in production) over the "
     "once-checkpointed trained assignment; the dimension-sized "
     "codebook ships INTO the vectorized in-row assignment scorer — "
     "no per-(vector,centroid) row blowup, no cartesian anywhere"),
    ("cdx_index",
     "the CDX capture index is a pure narrow codegen rule chain over "
     "the canonicalizer (SURT urlkey + planted ts + payload digest): "
     "zero Exchange, no Python stage; the globally-sorted CDX file is "
     "a sink property (range partition + sortWithinPartitions), not "
     "part of the per-capture map"),
    ("link_graph_hits",
     "HITS mutual power iteration: per half-step one keyed join + one "
     "hash-aggregate; the L1 normalizer is a 1-row aggregate broadcast "
     "back (BroadcastNestedLoopJoin of one row, never a collect, never "
     "a cartesian over data); final stage TakeOrderedAndProject"),
    ("exact_substring_dup",
     "Lee-et-al exact-substring census re-expressed distributed: "
     "rolling 8-word window hashes are a narrow in-row fold (one "
     "JVM-side md5 per window), the corpus-wide repeat test is one "
     "keyed aggregate + one keyed join on the 16-byte hash — never "
     "text-to-text, never cartesian, no single-partition funnel"),
    ("exact_substring_excise",
     "the excision half of the Lee-et-al pass: duplicated offsets come "
     "back as one keyed join + per-doc collect_list; the word drop is an "
     "in-row filter-with-index lambda — text never joins against text"),
    ("surprisal_buckets",
     "CCNet head/middle/tail selection with NO per-lang ntile window "
     "(few langs = few sort partitions = a funnel): per-lang tercile "
     "thresholds are a 2-value aggregate broadcast back, bucketing a "
     "narrow CASE; exact percentile under the gate, approx_percentile "
     "the documented 10^12-row swap"),
    ("bm25_topk",
     "BM25 over a fixed query set: the term filter lands inside the "
     "explode so the tf aggregate carries only |query| terms/doc; the "
     "|query|-row df dimension is a BroadcastExchange; top-k is "
     "TakeOrderedAndProject (per-partition partial top-k, driver merge "
     "of K rows) — never a global single-partition sort"),
    ("pq_topk_refine",
     "two-stage PQ serving: the ADC shortlist (PQ_SHORTLIST rows) and "
     "the 1-row query ride BroadcastExchanges back onto the full-vector "
     "scan for the exact re-rank — the big side never shuffles; final "
     "stage TakeOrderedAndProject"),
    ("host_url_hll",
     "deterministic HyperLogLog: register index/rank are narrow md5 "
     "slices, the first aggregate collapses to <= m rows per host "
     "BEFORE the shuffle (max-combining partials), so the exchange "
     "carries registers, never URLs"),
    ("cms_heavy_hitters",
     "Count-Min sketch: the (r,bucket) aggregate map-side-combines to "
     "<= CMS_D*CMS_W cells per task regardless of vocabulary; sketch, "
     "hash-row dimension, and top-k probe all ride BroadcastExchanges; "
     "top-k is TakeOrderedAndProject"),
    ("bloom_dedup_gate",
     "Bloom membership gate: collect_set's partial aggregate IS the "
     "map-side combine (<= BLOOM_M positions per task into one tiny "
     "SinglePartition exchange), the filter broadcasts back as ONE "
     "array row, and the probe is an in-row forall — the new-snapshot "
     "side never shuffles for the gate"),
    ("host_cap_sample",
     "per-host diversity cap: ONE exchange (hash on host) feeding ONE "
     "per-host window in deterministic md5 hash order — never a global "
     "sort/funnel; kept is a narrow comparison on the rank"),
    ("pmi_collocations",
     "PMI phrase mining: bigrams fold in-row (zip_with), c12 and the "
     "unigram counts are keyed aggregates, the unigram dimension joins "
     "back twice as BroadcastHashJoins whose second side reuses the "
     "first's exchange once executed (broadcast_vocab switch for "
     "open-web vocabulary), top-k is TakeOrderedAndProject"),
    ("weighted_sample",
     "Efraimidis-Spirtakis weighted sampling without replacement: "
     "exponential keys are a narrow in-row map, selection is "
     "TakeOrderedAndProject — zero Exchange, never the sequential "
     "cumulative-weight scan"),
    ("length_histogram_quantiles",
     "mergeable histogram-quantile sketch: the (lang, bucket) "
     "aggregate collapses map-side to fixed cells; every later stage "
     "is bucket-cardinality sized (per-lang window, 3-row broadcast "
     "quantile dimension) — no single-partition funnel"),
    ("q1_pricing_summary",
     "TPC-H Q1: cutoff filter pushed to the scan, partial+final "
     "HashAggregate pair (the shuffle carries #groups rows per task), "
     "exact-integer sums"),
    ("q3_shipping_priority",
     "TPC-H Q3: date/segment filters pushed to all three scans, "
     "lineitem partially aggregated to per-order revenue BEFORE any "
     "join, top-k TakeOrderedAndProject"),
    ("q5_local_supplier_volume",
     "TPC-H Q5: snowflake join with the cross-branch same-nation "
     "equi-condition riding the orderkey join (never a post-join "
     "filter over a wider product); 25x5-row nation-region dimension "
     "broadcast"),
    ("q4_order_priority",
     "TPC-H Q4: the EXISTS correlated subquery as a LEFT SEMI join "
     "keyed on orderkey with the lateness residual — aggregate input "
     "bounded by orders, never lineitems"),
    ("q18_large_volume_customer",
     "TPC-H Q18: HAVING prunes the per-order aggregate to the tiny "
     "survivor set BEFORE any join touches orders/customer; top-k "
     "TakeOrderedAndProject"),
    ("link_graph_triangles",
     "NodeIterator++ triangle census: low->high orientation, wedge "
     "join keyed on the middle vertex over the checkpointed edge "
     "list, closing join on the endpoint pair — keyed joins only, "
     "the only nested loops are the 1-row census crossJoins"),
]


def _extract(spark):
    from pyspark.sql import functions as F

    from pdfi_spark.pipeline import extract_text

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode("text", "utf-8").alias("html"),
    )
    return extract_text(docs, payload_col="html")


def _section(name: str, claim: str, df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        "",
        f"## {name}",
        "",
        f"**Scale property:** {claim}. (Exchanges in plan: "
        f"{plan.count('Exchange')})",
        "",
        "```",
        plan.strip()[:4000],
        "```",
    ]


def write_plans_md(spark, registry) -> None:
    lines = [
        "# PLANS — physical plans of the headline queries",
        "",
        "Auto-generated by `python tools/dump_plans.py` at sf0.001 on "
        "local[4] (plan SHAPE is what matters; AQE may further adapt at "
        "runtime). The property named for each query is asserted "
        "mechanically in `tests/test_plans.py`. Round-6 note: a "
        "RoundRobinPartitioning exchange directly above a scan is the "
        "adaptive fan-out for under-split single-row-group inputs "
        "(ops/_scan.py) — absent at production split counts; 'zero "
        "Exchange'/'single Exchange' claims count the OTHER exchanges, "
        "exactly as tests/test_plans.py::_shuffles does.",
    ]
    lines += _section("extract (pre-bucketed)", EXTRACT_CLAIM, _extract(spark))
    for name, claim in CASES:
        lines += _section(name, claim, registry[name](spark, SF))
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("PLANS.md written")


def write_formatted(spark, registry, names: list[str], out_dir: str,
                    suffix: str) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR",
                            os.path.join(os.path.dirname(SF), "sf0.1"))
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            registry[name](spark, sf_dir).explain(mode="formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--out")
    ap.add_argument("--suffix")
    args = ap.parse_args()
    if bool(args.names) != bool(args.out and args.suffix):
        ap.error("name queries together with --out and --suffix, "
                 "or give none of them to regenerate PLANS.md")

    from __spark_entry__ import queries
    from pdfi_spark.pipeline import make_spark

    registry = queries()
    unknown = [n for n in args.names if n not in registry]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    # the plans/rNN sets were dumped at local[8]; PLANS.md at local[4]
    master, partitions = ("local[8]", 32) if args.names else ("local[4]", 8)
    spark = make_spark("plan-dump", master=master,
                       shuffle_partitions=partitions)
    spark.sparkContext.setLogLevel("ERROR")
    if args.names:
        write_formatted(spark, registry, args.names, args.out, args.suffix)
    else:
        write_plans_md(spark, registry)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
