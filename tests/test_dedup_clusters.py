"""Connected-components keep-list (the dedup pipeline's final stage)."""
from pyspark.sql import functions as F

from pdfi_spark.ops.dedup import connected_components


def test_transitive_chain_forms_one_cluster(spark):
    # 1-2 and 2-3 are near-dups; 1-3 never directly compared -> still one
    # cluster. 5 is a singleton.
    nodes = spark.createDataFrame([(1,), (2,), (3,), (5,)], "doc_id long")
    pairs = [(1, 2), (2, 3)]
    edges = spark.createDataFrame(
        [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs], "u long, v long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(edges, nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 5}


def test_two_components_and_keeper_flags(spark):
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = [(1, 4), (2, 6), (6, 7)]
    edges = spark.createDataFrame(
        [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs], "u long, v long"
    )
    labels = connected_components(edges, nodes)
    got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {1: 1, 4: 1, 2: 2, 6: 2, 7: 2, 3: 3, 5: 5}
    keepers = {
        r["doc_id"]
        for r in labels.where(F.col("cluster_id") == F.col("doc_id")).collect()
    }
    assert keepers == {1, 2, 3, 5}


def test_minhash128_sketch_behavior(spark):
    """Sketch-quality sanity for the production-scale 128-perm MinHash:
    identical docs collide on every band, a 1-word-in-50 edit (Jaccard
    ~0.96, above the 16x8 s-curve threshold ~0.71) still shares
    bucket(s), and disjoint-vocabulary docs share none."""
    from pdfi_spark.ops.dedup import (
        MINHASH128_BANDS,
        MINHASH128_PERMS,
        _minhash128_artifacts,
    )

    base = " ".join(f"w{i}" for i in range(50))
    near = " ".join(("CHANGED" if i == 17 else f"w{i}") for i in range(50))
    far = " ".join(f"z{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    sig = {r["doc_id"]: r["sig"]
           for r in _minhash128_artifacts(docs).collect()}
    assert all(len(s) == MINHASH128_PERMS for s in sig.values())
    assert sig[0] == sig[1]  # identical text -> identical signature
    agree_near = sum(a == b for a, b in zip(sig[0], sig[2]))
    agree_far = sum(a == b for a, b in zip(sig[0], sig[3]))
    # E[agree] = J * 128: ~125 for the near pair, ~0 for disjoint vocab
    assert agree_near > 100, agree_near
    assert agree_far < 10, agree_far

    def bands(s):
        return {
            tuple(s[b * 8:(b + 1) * 8]) for b in range(MINHASH128_BANDS)
        }

    assert bands(sig[0]) & bands(sig[2])  # near-dup: candidate pair
    assert not (bands(sig[0]) & bands(sig[3]))  # unrelated: no collision


def test_minhash128_numpy_fold_matches_hof_fold(spark):
    """The vectorized numpy fold (_minhash128_artifacts) and the
    Catalyst-HOF fold are the SAME function: lane-for-lane identical on
    awkward inputs — empty string, repeated/duplicate words, consecutive
    spaces (split(' ') emits empty-string words), non-ASCII (md5 over
    UTF-8 bytes), and a single-word doc."""
    from reference_folds import minhash128_sig_hof

    from pdfi_spark.ops.dedup import _minhash128_artifacts

    docs = spark.createDataFrame(
        [
            (0, ""),
            (1, "one"),
            (2, "a a b b a"),
            (3, "x  y   z"),   # consecutive spaces -> empty-string words
            (4, "héllo wörld ünïcode"),
            (5, " ".join(f"w{i}" for i in range(200))),
        ],
        "doc_id long, text string",
    )
    hof = {r["doc_id"]: list(r["sig"])
           for r in minhash128_sig_hof(docs).collect()}
    np_ = {r["doc_id"]: list(r["sig"])
           for r in _minhash128_artifacts(docs).collect()}
    assert hof == np_


def test_simhash_numpy_fold_matches_hof_fold(spark):
    """The vectorized numpy SimHash (the default) and the Catalyst-HOF
    fold are the SAME function — bit-identical on the same awkward
    inputs as the minhash twin (frequency weighting included: repeated
    words must tip sign bits exactly like the sequential fold)."""
    from reference_folds import simhash_hof

    from pdfi_spark.ops.dedup import _simhash_np

    docs = spark.createDataFrame(
        [
            (0, ""),
            (1, "one"),
            (2, "a a b b a"),
            (3, "x  y   z"),
            (4, "héllo wörld ünïcode"),
            (5, " ".join(f"w{i % 17}" for i in range(200))),
        ],
        "doc_id long, text string",
    )
    hof = {r["doc_id"]: r["simhash"] for r in simhash_hof(docs).collect()}
    np_ = {r["doc_id"]: r["simhash"] for r in _simhash_np(docs).collect()}
    assert hof == np_


def test_shingles_df_matches_hof_expression(spark):
    """The Python shingle builder (the default for ngram_jaccard and
    the 4-perm dedup path) emits the SAME first-occurrence-distinct
    shingle list as the _shingles HOF expression, element for element
    (both sides pre-filter docs with >= 3 words, per the contract)."""
    from pyspark.sql import functions as F

    from pdfi_spark.ops.dedup import _shingles, _shingles_df

    docs = spark.createDataFrame(
        [
            (0, "a b c d e"),
            (1, "a a a a"),           # repeated shingles dedup
            (2, "x  y   z q"),        # empty-string words from split
            (3, "héllo wörld ünïcode ok"),
            (4, " ".join(f"w{i % 5}" for i in range(50))),
        ],
        "doc_id long, text string",
    ).filter(F.size(F.split("text", " ")) >= 3)
    hof = {r["doc_id"]: list(r["sh"])
           for r in docs.select("doc_id", _shingles().alias("sh")).collect()}
    py = {r["doc_id"]: list(r["shingles"])
          for r in _shingles_df(docs).collect()}
    assert hof == py


def test_pairs_from_members_matches_join_semantics(spark):
    """The in-row pair generator must produce exactly the pair set of
    the old windowed self-join: all doc_a < doc_b pairs within capped
    (band, bucket) groups, distinct across bands."""
    from pdfi_spark.ops.dedup import _pairs_from_members

    members = spark.createDataFrame(
        [
            # band 1, bucket x: {1, 2, 3} -> 3 pairs
            (1, "x", 1), (1, "x", 2), (1, "x", 3),
            # band 2, bucket y: {2, 3} -> duplicate pair (2,3) across bands
            (2, "y", 2), (2, "y", 3),
            # band 2, bucket z: singleton -> no pair
            (2, "z", 9),
            # band 1, bucket big: oversized -> capped away entirely
            *[(1, "big", i) for i in range(100, 170)],
        ],
        "band int, bucket string, doc_id long",
    )
    got = {(r["doc_a"], r["doc_b"])
           for r in _pairs_from_members(members).collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}
