"""Physical-plan regression guards.

Each test pins the plan property that makes an operator scale — if a
refactor reintroduces a shuffle, drops a broadcast, or widens a scan,
these fail even though results stay correct. (The 100 TB argument lives
in the plan, not the output.)
"""
import os

import pytest

from pyspark.sql import functions as F

from pdfi_spark import ops
from pdfi_spark.pipeline import extract_text

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    """Exchange count EXCLUDING the adaptive scan fan-out (ops/_scan.py):
    on under-split inputs — this testdata is one single-row-group file
    per table — a RoundRobinPartitioning exchange sits directly above the
    scan so narrow work parallelizes; at production split counts that
    node does not exist at all. Every operator contract below pins the
    OTHER exchanges (the ones that exist at any scale)."""
    return plan.count("Exchange") - plan.count("RoundRobinPartitioning")


def test_minhash_signatures_has_zero_exchanges(spark):
    plan = _plan(ops.minhash_signatures(spark, SF))
    assert _shuffles(plan) == 0
    # ONE md5 per word: the digest transform must appear exactly once —
    # if projection collapse ever inlines the fold into the four h1..h4
    # projections, md5 shows up 4x and per-word hashing quadruples
    assert plan.count("md5") == 1, plan


def test_simhash_has_zero_exchanges(spark):
    plan = _plan(ops.simhash(spark, SF))
    assert _shuffles(plan) == 0


def test_minhash128_signatures_vectorized_zero_exchanges(spark):
    # the 128-lane fold runs in the Arrow-batched numpy mapInPandas (the
    # word md5s happen in-Python, so only the sig_md5 digest view's one
    # JVM md5 call site remains), the scan is pruned to doc_id+text, and
    # the signature still never leaves the row (zero exchanges)
    plan = _plan(ops.minhash128_signatures(spark, SF))
    assert _shuffles(plan) == 0
    assert "MapInPandas" in plan, plan
    assert plan.count("md5(") == 1, plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "doc_id" in read_schema[0], plan
    assert "lang" not in read_schema[0] and "source" not in read_schema[0]


def test_minhash128_hof_fold_one_md5_zero_exchanges(spark):
    # the Catalyst-HOF twin (kept as the cross-check for the vectorized
    # path) must still cost ONE md5 per distinct word: if CollapseProject
    # ever inlined the 128-lane fold into a downstream projection, the
    # count would multiply
    from reference_folds import minhash128_sig_hof

    from pdfi_spark.ops.dedup import _docs

    plan = _plan(minhash128_sig_hof(_docs(spark, SF)))
    assert _shuffles(plan) == 0
    assert plan.count("md5(") == 1, plan


def test_minhash128_banding_single_exchange(spark):
    # banding is the ONLY exchange (groupBy band,bucket); exactly one
    # bucket md5 per band on the JVM side (word md5s live in the
    # vectorized fold)
    from pdfi_spark.ops.dedup import MINHASH128_BANDS

    plan = _plan(ops.minhash128_lsh_buckets(spark, SF))
    assert plan.count("md5(") == MINHASH128_BANDS, plan
    # AQE may report the exchange twice (pre/post reuse); assert on the
    # logical count of distinct shuffle origins instead
    assert "Exchange" in plan
    assert plan.count("hashpartitioning") <= 2, plan


def _payload_docs(spark):
    # the driver table has no binary column; derive (url, html) narrowly
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode("text", "utf-8").alias("html"),
    )


def test_prebucketed_extract_has_zero_exchanges(spark):
    plan = _plan(extract_text(_payload_docs(spark), payload_col="html"))
    assert plan.count("Exchange") == 0


def test_extract_scan_prunes_unused_columns(spark):
    plan = _plan(extract_text(_payload_docs(spark), payload_col="html"))
    # ReadSchema must not include lang/source/n_chars — only what the UDF
    # consumes (doc_id + text feeding url + payload)
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    assert "lang" not in read_schema[0] and "source" not in read_schema[0]
    assert "n_chars" not in read_schema[0]


def test_nation_revenue_broadcasts_the_dimension(spark):
    plan = _plan(ops.nation_revenue_topk(spark, SF))
    assert "BroadcastHashJoin" in plan
    # lineitem partial-aggregates before its first join: two HashAggregate
    # levels (partial+final) precede any join in the plan text
    assert plan.count("HashAggregate") >= 4


def test_cosine_topk_is_broadcast_plus_take_ordered(spark):
    plan = _plan(ops.cosine_topk(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_media_metadata_hexes_only_a_slice(spark):
    plan = _plan(ops.media_metadata(spark, SF))
    # every hex() in the plan must wrap a substring of the payload, never
    # the whole binary
    import re

    for m in re.finditer(r"hex\(([^)]*)", plan):
        assert "substring" in m.group(1), plan


def test_lsh_ann_buckets_single_exchange(spark):
    # one shuffle: the final groupBy(bucket); coding itself is narrow
    plan = _plan(ops.lsh_ann_buckets(spark, SF))
    assert _shuffles(plan) == 1


@pytest.mark.parametrize("fn", [ops.quality_scores, ops.token_counts,
                                ops.lang_id_ngram, ops.lang_stopword_counts])
def test_textstats_are_narrow_maps(spark, fn):
    plan = _plan(fn(spark, SF))
    assert _shuffles(plan) == 0


def test_pii_scrub_is_a_narrow_map(spark):
    plan = _plan(ops.pii_scrub(spark, SF))
    assert _shuffles(plan) == 0


def test_dedup_clusters_128_candidates_keyed_not_cartesian(spark):
    # the production-sketch dedup pipeline's candidate stage (the final
    # dedup_clusters_128 plan is post-CC-checkpoint and shows only the
    # label projection, so pin the stage that could degenerate): the
    # 16-band join is keyed on (band, bucket), and the 128-lane fold is
    # checkpointed so the ONLY md5s on the join sides are the 16
    # band-key digests per side's shared source — never the per-word
    # fold (which would show as nested transform/aggregate md5s)
    from pdfi_spark.ops.dedup import (_docs, _minhash128_artifacts,
                                      _minhash128_members, _pairs_from_members)

    sig = _minhash128_artifacts(_docs(spark, SF)).localCheckpoint(eager=True)
    plan = _plan(_pairs_from_members(_minhash128_members(sig)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ExistingRDD" in plan  # the checkpointed signature
    assert "aggregate(" not in plan, "128-lane fold re-executes past checkpoint"


def test_simhash_neardup_pairs_is_keyed_not_cartesian(spark):
    # the candidate join must be keyed on (band, key) — any refactor that
    # degenerates to an all-pairs product shows up as a nested-loop join
    plan = _plan(ops.simhash_neardup_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("fn", [ops.asof_join_events, ops.range_join_counts])
def test_temporal_ops_are_single_shuffle_no_join(spark, fn):
    # as-of and range joins are rewritten to ONE window shuffle on
    # user_id — no join operator may appear (a SortMergeJoin + residual
    # filter is the O(n^2)-ish shape these rewrites exist to avoid)
    plan = _plan(fn(spark, SF))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1


def test_html_extraction_is_narrow_and_prunes_scan(spark):
    # the fused generate+strip mapInPandas: zero exchanges, and only
    # doc_id+text reach Python (lang/n_chars/source pruned at the scan)
    plan = _plan(ops.html_main_content("boiler")(spark, SF))
    assert _shuffles(plan) == 0
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    assert "lang" not in read_schema[0] and "n_chars" not in read_schema[0]


def test_outlink_extraction_is_narrow_and_degrees_one_shuffle(spark):
    # edge fan-out happens inside the mapInPandas UDF: the edge list
    # itself needs zero exchanges, and the in-degree census exactly one
    # (hash-aggregate on dst with map-side partials)
    plan = _plan(ops.html_outlinks(spark, SF))
    assert _shuffles(plan) == 0, plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "lang" not in read_schema[0]
    plan = _plan(ops.link_graph_degrees(spark, SF))
    assert _shuffles(plan) == 1, plan
    assert "HashAggregate" in plan


def test_materialized_folds_do_not_reexecute(spark):
    # the subtree-reuse rule (CLAUDE.md): an expensive narrow fold with
    # several consumers runs once. minhash_lsh_buckets explodes both
    # bands from one select, so its plan holds ONE MinHash fold (one
    # md5) and no Union branch; the self-join queries that share one
    # exchange instead are pinned on their executed final plans in
    # test_shared_work_runs_once_in_the_action. Where a fold IS
    # localCheckpoint'ed, its consumers read ExistingRDD and contain
    # ZERO fold re-execution — dropping that .localCheckpoint silently
    # reintroduces the measured 2x-4x re-execution these guards pin
    plan = _plan(ops.minhash_lsh_buckets(spark, SF))
    assert plan.count("md5(") == 1, plan
    assert "Union" not in plan, plan
    plan = _plan(ops.embedding_neardup_topk(spark, SF))
    assert "ExistingRDD" in plan
    assert _shuffles(plan) == 1  # only the bucket self-join shuffle
    # ngram_jaccard: the shingle fold is materialized once, so neither
    # self-join side may recompute it (concat_ws marks the fold)
    plan = _plan(ops.ngram_jaccard_pairs(spark, SF))
    assert "ExistingRDD" in plan
    assert "concat_ws" not in plan, "shingle fold re-executes"
    # trained k-means: with per-iteration lineage cuts the final cell
    # count reads the embeddings scan ONCE plus the checkpointed codebook
    # the embeddings scan is now materialized ONCE up front (it used
    # to re-execute per Lloyd-iteration action), so the final plan reads
    # only checkpoints — zero parquet scans
    plan = _plan(ops.ivf_train_cells(spark, SF))
    assert "ExistingRDD" in plan
    assert plan.count("Scan parquet") == 0, plan


def test_warc_extract_is_narrow_and_prunes_scan(spark):
    # the whole container roundtrip (gzip members, record parse, HTTP
    # split, boilerplate strip) is one fused mapInPandas: zero
    # exchanges, scan pruned to doc_id+text
    plan = _plan(ops.warc_extract(spark, SF))
    assert _shuffles(plan) == 0, plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "lang" not in read_schema[0]


def test_pagerank_topk_avoids_full_sort(spark):
    # the iterative body is materialized per iteration (localCheckpoint,
    # same subtree-reuse rule as dedup); the FINAL stage must be a
    # TakeOrderedAndProject over the checkpointed ranks — top-k without
    # a global sort, and no cartesian anywhere
    plan = _plan(ops.link_graph_pagerank(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Cartesian" not in plan
    assert "Sort " not in plan


def test_pagerank_dangling_mass_is_broadcast_not_cartesian(spark):
    # the per-iteration dangling-mass scalar joins back as a BROADCAST
    # of one row (BroadcastNestedLoopJoin), never a CartesianProduct
    # over data and never a driver-side collect; final stage is still
    # top-k without a global sort
    plan = _plan(ops.link_graph_pagerank_dangling(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Cartesian" not in plan
    assert "Sort " not in plan


def test_cdx_index_zero_exchange(spark):
    # the capture index is a pure narrow codegen rule chain over the
    # canonicalizer: zero Exchange, no Python stage
    plan = _plan(ops.cdx_index(spark, SF))
    assert plan.count("Exchange") == 0, plan
    assert "mapInPandas" not in plan and "BatchEvalPython" not in plan


def test_hits_l1_total_is_broadcast_not_cartesian(spark):
    # each half-step's L1 total joins back as a BROADCAST of one row
    # (BroadcastNestedLoopJoin), never a CartesianProduct over data and
    # never a driver-side collect; final stage is top-k without a
    # global sort (same recipe as the pagerank dangling-mass scalar)
    plan = _plan(ops.link_graph_hits(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Cartesian" not in plan
    # the final authority-hub join is keyed (its SMJ sorts are
    # per-partition); the funnel guard is no single-partition Exchange
    assert "Exchange SinglePartition" not in plan, plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """The steady-state 100 TB layout claim, executed: two tables
    bucketed by the SAME key/count join with ZERO Exchange (each task
    zips co-located buckets). This is the join-side twin of the
    pre-bucketed extraction path."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # spark.sql.warehouse.dir is static: tables land in ./spark-warehouse
    # (gitignored) and are dropped in the finally
    spark.sql("CREATE DATABASE IF NOT EXISTS bucketdemo")
    try:
        (docs.select("doc_id", "text").write.mode("overwrite")
         .bucketBy(8, "doc_id").sortBy("doc_id")
         .saveAsTable("bucketdemo.docs_a"))
        (docs.select("doc_id", "lang", "n_chars").write.mode("overwrite")
         .bucketBy(8, "doc_id").sortBy("doc_id")
         .saveAsTable("bucketdemo.docs_b"))
        a = spark.table("bucketdemo.docs_a")
        b = spark.table("bucketdemo.docs_b")
        # disable broadcast so the join would otherwise shuffle both sides
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, "doc_id")
            plan = _plan(joined)
            assert "SortMergeJoin" in plan
            assert plan.count("Exchange") == 0, plan
            assert joined.count() == docs.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketdemo.docs_a")
        spark.sql("DROP TABLE IF EXISTS bucketdemo.docs_b")
        spark.sql("DROP DATABASE IF EXISTS bucketdemo")


def test_pagerank_iteration_over_bucketed_edges_moves_only_ranks(spark):
    """The docstring claim in _pagerank_topk — "production would
    co-partition edges and ranks on src so only the rank side moves" —
    executed: with the edge-weight table bucket-written by src (the
    one-time ingest layout), a power-iteration join shuffles ONLY the
    rank side; the 10^12-edge side is read in place with zero Exchange
    above its scan."""
    from pdfi_spark.ops.webtext import html_outlinks

    nodes = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    n_docs = nodes.count()
    edges = html_outlinks(spark, SF)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    ew = edges.join(deg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("deg")).alias("w")
    )
    spark.sql("CREATE DATABASE IF NOT EXISTS prdemo")
    try:
        (ew.write.mode("overwrite").bucketBy(8, "src").sortBy("src")
         .saveAsTable("prdemo.edge_weights"))
        ewb = spark.table("prdemo.edge_weights")
        ranks = nodes.select(
            F.col("doc_id").alias("src"),
            F.lit(1.0 / n_docs).alias("rank"),
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            contribs = (
                ewb.join(ranks, "src")
                .groupBy(F.col("dst").alias("doc_id"))
                .agg(F.sum(F.col("w") * F.col("rank")).alias("s"))
            )
            plan = _plan(contribs)
            assert "SortMergeJoin" in plan, plan
            # exchanges: the rank side into the join + the groupBy(dst);
            # the bucketed edge side contributes NONE
            ew_scan = [ln for ln in plan.splitlines()
                       if "Scan" in ln and "edge_weights" in ln]
            assert ew_scan, plan
            assert "Bucketed: true" in ew_scan[0], ew_scan[0]
            # walk up from the edge scan: no Exchange between it and the
            # join — equivalently, total Exchanges == 2 (ranks + agg)
            assert plan.count("Exchange") == 2, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS prdemo.edge_weights")
        spark.sql("DROP DATABASE IF EXISTS prdemo")


def test_url_ops_are_codegen_narrow_and_one_shuffle(spark):
    # canonicalization is a pure built-in-function chain: zero Exchange,
    # zero Python (no mapInPandas/BatchEvalPython), scan pruned to
    # doc_id; the dedup count adds exactly one keyed hash-aggregate
    plan = _plan(ops.url_canonicalize(spark, SF))
    assert plan.count("Exchange") == 0, plan
    assert "Python" not in plan, plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "text" not in read_schema[0], plan
    plan = _plan(ops.url_dedup_counts(spark, SF))
    assert plan.count("Exchange") == 1, plan
    assert "HashAggregate" in plan


def test_lang_balance_sample_is_broadcast_filter_no_window(spark):
    # temperature rebalancing must be the scale-correct shape: the tiny
    # per-language fraction table broadcast back onto a narrow filter —
    # never a per-language window/rank (one partition per language at
    # 10^12 rows)
    plan = _plan(ops.lang_balance_sample(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_wet_export_is_narrow_and_prunes_scan(spark):
    # the WET writer+reader roundtrip is one fused mapInPandas: zero
    # exchanges, scan pruned to doc_id+text (the export stage adds no
    # shuffle on top of extraction)
    plan = _plan(ops.wet_export(spark, SF))
    assert _shuffles(plan) == 0, plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "lang" not in read_schema[0]


def test_tfidf_is_keyed_aggregates_and_per_doc_window(spark):
    # tf and df are keyed hash-aggregates; the tf-df join is broadcast
    # (small vocab) — never a cartesian; top-k is a window partitioned
    # by doc_id (no single-partition funnel, unlike a global rank)
    plan = _plan(ops.tfidf_top_terms(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" in plan
    assert "HashAggregate" in plan
    # the window's exchange is width-pinned (explicit repartition on
    # doc_id -> REPARTITION_BY_NUM, exempt from AQE size coalescing):
    # scored rows are bytes-small but each pays the per-doc sort/rank,
    # so size-based coalescing would funnel the stage onto 1-2 cores
    # (the LSH-candidate-pair trap). Being a hash repartition on the
    # window key it REPLACES the window's own required exchange, so
    # the shuffle count must not grow.
    # 5 total as at round start: tf agg (planned once per join side),
    # df agg, the vocab broadcast, and the window's pinned exchange.
    assert plan.count("REPARTITION_BY_NUM") == 1, plan
    assert _shuffles(plan) == 5, plan


def test_unigram_surprisal_broadcasts_the_model(spark):
    # the unigram frequency table must come back as a broadcast
    # dimension onto the exploded words — never a sort-merge join of
    # two 10^15-row exploded sides
    plan = _plan(ops.unigram_surprisal(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_vocab_dim_non_broadcast_shape(spark):
    # broadcast_vocab=False is the open-web-vocabulary path (a ~10^9-term
    # frequency table blows any broadcast budget): the term join must
    # plan as an ordinary keyed shuffle join with NO broadcast exchange.
    # Statistics-based auto-broadcast would still kick in on the tiny
    # test corpus, so pin the threshold off for the duration.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for op in (ops.tfidf_top_terms, ops.unigram_surprisal,
                   ops.bigram_surprisal, ops.pmi_collocations):
            plan = _plan(op(spark, SF, broadcast_vocab=False))
            assert "BroadcastHashJoin" not in plan, plan
            assert ("SortMergeJoin" in plan
                    or "ShuffledHashJoin" in plan), plan
            assert "CartesianProduct" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bigram_surprisal_narrow_bigrams_no_window(spark):
    # bigrams come from zip_with over shifted slices INSIDE the row — no
    # per-doc window (and so no doc_id exchange) before the keyed
    # aggregates; the model comes back broadcast
    plan = _plan(ops.bigram_surprisal(spark, SF))
    assert "Window" not in plan, plan
    assert "zip_with" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pack_training_shards_distributed_prefix_sum_shape(spark):
    # the single-partition exchange must sit on the CHUNK-SUMS side only
    # (SHARD_CHUNKS rows, under the broadcast), never on the full data:
    # the big side's window is partitioned by chunk, and the offsets come
    # back as a broadcast join
    plan = _plan(ops.pack_training_shards(spark, SF))
    assert plan.count("Exchange SinglePartition") == 1, plan
    single = plan.index("Exchange SinglePartition")
    bcast = plan.index("BroadcastExchange")
    assert bcast < single, "single-partition exchange is not on the tiny side"
    assert "windowspecdefinition(chunk#" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_training_shuffle_manifest_no_global_sort(spark):
    # the shuffle manifest's only window is PARTITIONED BY shard — never
    # the naive global ORDER BY rand() funnel — and the scan reads only
    # doc_id (shard + position derive from md5(doc_id))
    plan = _plan(ops.training_shuffle_manifest(spark, SF))
    assert "Exchange SinglePartition" not in plan, plan
    assert "windowspecdefinition(shard#" in plan, plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "doc_id" in read_schema[0], plan
    assert "text" not in read_schema[0], plan


def test_incremental_content_dedup_keyed_on_digest(spark):
    # novelty check is a join KEYED on the 16-byte digest (broadcast at
    # test scale, shuffle-keyed at corpus scale — never cartesian), and
    # the scan reads only doc_id+text (digests computed in-row)
    plan = _plan(ops.incremental_content_dedup(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "digest" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and all("lang" not in ln for ln in read_schema), plan


def test_exact_substring_dup_keyed_on_whash(spark):
    # corpus-wide repeat test is a keyed aggregate + keyed join on the
    # window hash — never cartesian, never a single-partition funnel;
    # scan reads only doc_id+text (window hashes computed in-row)
    df = ops.exact_substring_dup(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "whash" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and all("lang" not in ln for ln in read_schema), plan
    # the (doc_id, whash) aggregate feeds BOTH the global-count branch
    # and the join side; AQE must dedupe it via ReuseExchange so the
    # window-hash fold runs once (the no-checkpoint design depends on
    # this — if it regresses, localCheckpoint the inst stage instead)
    df.collect()
    final = _plan(df)
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final, final


@pytest.mark.parametrize("name, maps, scans, keyed, reused", [
    ("minhash_lsh_buckets", 0, 1, 1, False),
    ("simhash_neardup_pairs", 1, 1, 2, True),
    ("pmi_collocations", 0, 3, 2, True),
])
def test_shared_work_runs_once_in_the_action(spark, name, maps, scans,
                                             keyed, reused):
    # work shared by several consumers runs once inside the query's own
    # action, with no materialized checkpoint (Scan ExistingRDD): one
    # MapInPandas per Python fold, no table scanned more often than by
    # the old eager checkpoint job plus its action, each keyed shuffle
    # once, and the join sides reading one exchange (ReusedExchange)
    # where the plan shares one
    from __spark_entry__ import queries

    df = queries()[name](spark, os.path.join(os.path.dirname(SF), "sf0.01"))
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert "Scan ExistingRDD" not in final, final
    assert final.count("MapInPandas") == maps, final
    assert final.count("Scan parquet") == scans, final
    assert final.count("+- Exchange hashpartitioning") == keyed, final
    assert ("ReusedExchange" in final) == reused, final


def test_exact_substring_excise_in_row(spark):
    # excision is in-row (filter-with-index over the words array): the
    # text side never joins against text — the only joins are the
    # whash-keyed dup join and the doc_id-keyed offsets join-back
    plan = _plan(ops.exact_substring_excise(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "collect_list" in plan and "whash" in plan, plan


def test_bm25_topk_take_ordered(spark):
    # top-k must be TakeOrderedAndProject (per-partition partial top-k),
    # never a global sort through a single partition; the 3-row df
    # dimension joins broadcast. The one single-partition exchange is
    # the 1-row avgdl aggregate's, under its broadcast
    plan = _plan(ops.bm25_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert plan.index("BroadcastExchange IdentityBroadcastMode") \
        < plan.index("Exchange SinglePartition"), plan
    assert "BroadcastExchange HashedRelationBroadcastMode" in plan, plan


def test_surprisal_buckets_no_per_lang_window(spark):
    # bucketing is threshold-broadcast + narrow CASE — never a per-lang
    # ntile window (few langs => few sort partitions = a funnel);
    # thresholds ride back as a BroadcastExchange
    plan = _plan(ops.surprisal_buckets(spark, SF))
    # "ntile" is a substring of "percentile" — the Window check is the
    # real funnel guard
    assert "Window" not in plan, plan
    assert "percentile" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_semdedup_pairs_keyed_on_cell(spark):
    # the within-cell pair stage must be a join KEYED on centroid_id
    # (cost sum(cell^2)) — never a cartesian; the codebook rides along
    # broadcast (BroadcastNestedLoopJoin on the 8-row centroid side is
    # the assignment cross-score, same shape as _ivf_assign)
    plan = _plan(ops.semdedup(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "centroid_id" in plan
    joins = [ln for ln in plan.splitlines()
             if ("SortMergeJoin" in ln or "ShuffledHashJoin" in ln
                 or "BroadcastHashJoin" in ln)]
    assert any("centroid_id" in ln for ln in joins), plan


def test_frontier_schedule_per_host_window_broadcast_delays(spark):
    # ordering is per-host (politeness makes a host inherently serial):
    # no global-order window, delays dimension broadcast
    plan = _plan(ops.frontier_schedule(spark, SF))
    assert "Exchange SinglePartition" not in plan, plan
    assert "windowspecdefinition(host#" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_anchor_text_index_single_keyed_exchange(spark):
    # anchor parse is a narrow mapInPandas; the rollup is ONE keyed
    # aggregate on dst (map-side partials)
    plan = _plan(ops.anchor_text_index(spark, SF))
    assert "MapInPandas" in plan
    assert plan.count("hashpartitioning") <= 2, plan  # agg (+AQE reuse)
    assert "CartesianProduct" not in plan


def test_paragraph_dedup_narrow_explode_one_aggregate(spark):
    # the line explode is narrow (no shuffle before the keyed aggregate)
    # and entirely JVM-side — no Python stage
    plan = _plan(ops.paragraph_dedup(spark, SF))
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "Generate explode" in plan, plan
    assert plan.count("hashpartitioning") <= 2, plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "lang" not in read_schema[0]


def test_crawl_diff_full_outer_sort_merge(spark):
    # full outer can never broadcast (both sides must surface
    # non-matches): the diff must be one keyed SortMergeJoin, digests
    # computed in-row before the shuffle
    plan = _plan(ops.crawl_diff(spark, SF))
    assert "SortMergeJoin" in plan and "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_robots_filter_broadcasts_rules_no_cartesian(spark):
    # the parsed rules dimension is host-count-sized and must come back
    # as a broadcast join onto the canonicalized pages
    plan = _plan(ops.robots_filter(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_pq_codes_broadcast_codebook_two_shuffles(spark):
    # the PQ_M*PQ_CODES sub-codebook rides a BroadcastExchange; the only
    # shuffles are the per-(vector,subspace) argmin and the code pivot —
    # nothing ever shuffles per candidate centroid
    plan = _plan(ops.pq_codes(spark, SF))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") == 1
    assert _shuffles(plan) - plan.count("BroadcastExchange") == 2


def test_pq_topk_adc_is_broadcast_lookup_plus_take_ordered(spark):
    # ADC: query table + sub-codebook are broadcast; candidates never
    # sort globally (TakeOrderedAndProject) and never cross-join
    plan = _plan(ops.pq_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") == 3
    assert _shuffles(plan) - plan.count("BroadcastExchange") == 2


def test_pq_topk_refine_exact_pass_is_broadcast_semi_join(spark):
    # the 50-row ADC shortlist and the 1-row query vector both ride
    # BroadcastExchanges back onto the embedding scan — the exact-math
    # pass never shuffles the big side, and the final rank is a
    # TakeOrderedAndProject
    plan = _plan(ops.pq_topk_refine(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") == 5
    assert _shuffles(plan) - plan.count("BroadcastExchange") == 2


def test_host_url_hll_shuffles_registers_not_urls(spark):
    # after the first (host, reg) aggregate the sketch side carries at
    # most 64 rows per host; everything stays keyed on host (no
    # cartesian, no sort-merge at this size), the tiny sketch-vs-exact
    # join broadcasts
    plan = _plan(ops.host_url_hll(spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 4


def test_cms_heavy_hitters_broadcast_probe_no_smj(spark):
    # the sketch (<= CMS_D*CMS_W rows), the hash-row dimension, and the
    # top-k probe all ride BroadcastExchanges; the term fold is
    # checkpointed so no subtree recomputes; top-k never global-sorts
    plan = _plan(ops.cms_heavy_hitters(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") == 4
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 2


def test_bloom_dedup_gate_probe_never_shuffles(spark):
    # the <= BLOOM_M set-bit array, the 4-row hash dimension, and the
    # exact-verification index all ride BroadcastExchanges; the only
    # non-broadcast exchange is the SinglePartition bit collection
    # (<= BLOOM_M longs per task after collect_set's partial combine) —
    # the new-snapshot side stays narrow end-to-end
    plan = _plan(ops.bloom_dedup_gate(spark, SF))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") == 3
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThanOrEqual" in plan


def test_host_cap_sample_one_host_window_no_funnel(spark):
    # ONE exchange (hash on host) feeding ONE per-host window — never a
    # global sort or single-partition funnel
    plan = _plan(ops.host_cap_sample(spark, SF))
    assert plan.count("Window") == 1
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1
    assert "SortMergeJoin" not in plan


def test_pmi_collocations_broadcast_dims_topk(spark):
    # the two unigram dimension sides ride ONE BroadcastExchange of the
    # vocab aggregate (the second side is its ReusedExchange, so the
    # corpus is exploded into unigrams once); the data shuffles are the
    # c12 and unigram aggregates, and the one single-partition exchange
    # is the 1-row totals aggregate's, under its broadcast; top-k is
    # TakeOrderedAndProject, never a global sort
    df = ops.pmi_collocations(spark, SF)
    df.collect()
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("+- BroadcastExchange HashedRelationBroadcastMode") == 1
    assert plan.count("ReusedExchange") == 1, plan
    assert plan.count("BroadcastExchange IdentityBroadcastMode") == 1
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert plan.index("BroadcastExchange IdentityBroadcastMode") \
        < plan.index("Exchange SinglePartition"), plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_weighted_sample_zero_exchange_topk(spark):
    # the exponential keys are a narrow in-row map; selection is
    # TakeOrderedAndProject (per-partition partial top-K, driver merge)
    # — zero Exchange, no global sort
    plan = _plan(ops.weighted_sample(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_length_histogram_quantiles_no_funnel(spark):
    # after the (lang, bucket) aggregate everything is
    # bucket-cardinality sized: a per-lang window (never a global
    # sort), a 3-row broadcast quantile dimension, no single-partition
    # exchange anywhere
    plan = _plan(ops.length_histogram_quantiles(spark, SF))
    assert "Exchange SinglePartition" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") == 1
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 3


def test_q3_shipping_priority_pushdown_partial_agg_topk(spark):
    # both date filters and the segment filter reach the scans
    # (PushedFilters); lineitem partially aggregates to per-order
    # revenue before any join; top-k is TakeOrderedAndProject
    plan = _plan(ops.q3_shipping_priority(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("PushedFilters: [IsNotNull(l_shipdate), GreaterThan") == 1, plan
    assert plan.count("PushedFilters: [IsNotNull(o_orderdate), LessThan") == 1, plan
    # the per-order partial aggregate precedes the first join: both
    # HashAggregate levels appear below the join in the plan tree
    assert plan.count("HashAggregate") >= 2


def test_q5_local_supplier_volume_broadcast_dims_no_cartesian(spark):
    # the nation-region dimension rides a BroadcastExchange; the
    # cross-branch s_nationkey = c_nationkey lands as an equi-join
    # condition, never a cartesian + filter
    plan = _plan(ops.q5_local_supplier_volume(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastExchange") >= 2
    assert plan.count("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual") == 1, plan


def test_q1_pricing_summary_pushdown_partial_agg(spark):
    # the cutoff filter reaches the scan; partial+final HashAggregate
    # pair (map-side combine -> the shuffle carries #groups rows per
    # task); the final ORDER BY sorts only the handful of flag pairs
    plan = _plan(ops.q1_pricing_summary(spark, SF))
    assert "LessThanOrEqual(l_shipdate" in plan, plan
    assert plan.count("HashAggregate") == 2, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_q14_promo_revenue_month_filter_before_join(spark):
    # the ship-month filter pushes into the lineitem scan (the join
    # input is one month, never the corpus); the part dimension rides
    # a BroadcastExchange; conditional sums partial-aggregate map-side
    plan = _plan(ops.q14_promo_revenue(spark, SF))
    assert "GreaterThanOrEqual(l_shipdate" in plan, plan
    assert plan.count("BroadcastExchange") == 1
    assert plan.count("HashAggregate") == 2
    assert "CartesianProduct" not in plan


def test_q18_having_prunes_before_joins(spark):
    # the per-order aggregate + HAVING run below the joins (the join
    # input is the survivor set); top-k is TakeOrderedAndProject
    plan = _plan(ops.q18_large_volume_customer(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # the sum_qty filter sits between the aggregate and the first join
    assert "(sum_qty" in plan and "HashAggregate" in plan, plan


def test_link_graph_triangles_keyed_joins_only(spark):
    # wedge enumeration and closure are KEYED joins on the checkpointed
    # oriented edge list — never a cartesian/nested-loop over edges
    # (the two BroadcastNestedLoopJoins in the plan are the 1-row
    # census crossJoins, not data joins)
    plan = _plan(ops.link_graph_triangles(spark, SF))
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan  # checkpointed edge list
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan


def test_q4_order_priority_plans_left_semi(spark):
    # the EXISTS lands as a LEFT SEMI join keyed on orderkey with the
    # lateness comparison as the residual — one row out per qualifying
    # order (the aggregate input is bounded by orders, not lineitems);
    # the half-year filter reaches the orders scan
    plan = _plan(ops.q4_order_priority(spark, SF))
    assert "LeftSemi" in plan, plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan
    assert "CartesianProduct" not in plan


def test_scan_fanout_adaptive(spark, tmp_path):
    # ops/_scan.py: a single-row-group file scans as ONE task, so the
    # reader inserts a round-robin repartition right above the scan —
    # and column pruning / filter pushdown must still reach the scan
    # THROUGH that node. On an input with >= defaultParallelism splits
    # the reader must be a strict no-op (the production shape).
    from pdfi_spark.ops._scan import read

    fanned = read(spark, f"{SF}/documents.parquet", fan="fanned")
    plan = _plan(fanned.filter(F.col("doc_id") == 3).select("doc_id", "text"))
    assert "RoundRobinPartitioning" in plan, plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "lang" not in read_schema[0], plan
    assert "PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,3)]" in plan, plan

    # many-split input: one file per partition >= cores -> no-op
    p = spark.sparkContext.defaultParallelism
    multi = str(tmp_path / "multi.parquet")
    spark.range(p * 4).repartition(p * 2).write.parquet(multi)
    plan2 = _plan(read(spark, multi, fan="fanned"))
    assert "RoundRobinPartitioning" not in plan2, plan2


def test_scan_auto_size_threshold(spark, tmp_path):
    # ops/_scan.py::read(fan="auto") — the size-adaptive reader for
    # aggregate-bound operators: RAW below MIN_FAN_BYTES (the exchange
    # costs more than the serial narrow work), fanned above it.
    from pyspark.sql import functions as F

    from pdfi_spark.ops._scan import MIN_FAN_BYTES, read

    # the sf0.001 documents file is far below the threshold -> raw
    small = read(spark, f"{SF}/documents.parquet", fan="auto")
    assert "RoundRobinPartitioning" not in _plan(small), "small input fanned"

    # a single >threshold single-row-group file -> fanned
    import glob
    import os
    import shutil

    big_dir = str(tmp_path / "big.d")
    # distinct md5 strings defeat parquet's dictionary/RLE encoding so
    # the file size actually reflects the data volume
    (spark.range(60_000)
     .select(F.col("id"),
             F.concat(F.md5(F.col("id").cast("string")),
                      F.md5((F.col("id") + 1).cast("string"))).alias("pad"))
     .coalesce(1).write.option("compression", "none").parquet(big_dir))
    part = glob.glob(f"{big_dir}/part-*.parquet")[0]
    big_file = str(tmp_path / "big.parquet")
    shutil.move(part, big_file)
    assert os.path.getsize(big_file) > MIN_FAN_BYTES, "fixture too small"
    big = read(spark, big_file, fan="auto")
    assert "RoundRobinPartitioning" in _plan(big), "large input not fanned"
