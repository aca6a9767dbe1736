"""Catalyst higher-order-function twins of the vectorized numpy folds.

The product folds in ``pdfi_spark.ops.dedup`` and the IVF assignment in
``pdfi_spark.ops.similarity`` run in numpy inside ``mapInPandas``. These
twins compute the same results as pure JVM expressions
(``transform``/``aggregate``/``zip_with``/``max_by``), the form the
DuckDB oracles mirror. They are the proof that the numpy folds are
bit-identical: ``tests/test_dedup_clusters.py`` compares the sketches
lane for lane, ``tests/test_kmeans.py`` the cell assignments, and
``tests/test_plans.py`` pins the one-md5-per-word plan of the MinHash
twin. Only tests import this module.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdfi_spark.ops.dedup import (
    MINHASH128_P,
    MINHASH128_PERMS,
    MINHASH_LANE_OFFSETS,
    SIMHASH_BITS,
    _minhash128_params,
)
from pdfi_spark.ops.similarity import _centroids, _dot, _norm


def hash32(col):
    """First 8 hex digits of md5 as an unsigned 32-bit value in a long —
    reproducible in DuckDB as ('0x' || substr(md5(x),1,8))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def minhash128_sig_hof(docs: DataFrame) -> DataFrame:
    """(doc_id, sig: array<long>[128]) — the 128-permutation signature as
    a NARROW zero-exchange per-row fold, still ONE md5 per distinct word:
    the nested transform materializes each word's digest once and slices
    it into the four 32-bit base lanes; the fold then runs all 128
    universal-hash lanes ((a*h+b) mod P over the lane picked per
    permutation) as a zip_with against a LITERAL params array (built once
    at plan time). Per word that is 1 hash + ~384 integer ops — the hash
    stays the dominant CPU term, so 32x more permutations than
    minhash_signatures costs far less than 32x. The signature never
    leaves the row (no explode shuffle: the same 10^15-row-exchange
    argument as minhash_signatures); the fold output is projected in a
    SEPARATE select, which Catalyst keeps separate because
    CollapseProject refuses to duplicate non-cheap producer
    expressions. Single-evaluation is asserted in tests/test_plans.py."""
    words = F.array_distinct(F.split("text", " "))
    lanes = F.transform(
        F.transform(words, F.md5),
        lambda hx: F.array(*[
            F.conv(hx.substr(off, 8), 16, 10).cast("long")
            for off in MINHASH_LANE_OFFSETS
        ]),
    )
    params = F.array(*[
        F.struct(
            F.lit(a).cast("long").alias("a"),
            F.lit(b).cast("long").alias("b"),
            F.lit(lane + 1).alias("li"),
        )
        for a, b, lane in _minhash128_params()
    ])
    init = F.array_repeat(
        F.lit(MINHASH128_P).cast("long"), MINHASH128_PERMS
    )
    mins = F.aggregate(
        lanes,
        init,
        lambda acc, lv: F.zip_with(
            acc,
            params,
            lambda m, p: F.least(
                m,
                (p["a"] * F.element_at(lv, p["li"]) + p["b"])
                % F.lit(MINHASH128_P).cast("long"),
            ),
        ),
    )
    return docs.select("doc_id", mins.alias("sig"))


def simhash_hof(docs: DataFrame) -> DataFrame:
    """32-bit SimHash as a NARROW per-row Catalyst fold: hash each word
    once (transform), accumulate the 32 per-bit +-1 counts with
    aggregate/zip_with, recombine sign bits — all inside the row, no
    explode shuffle (same 10^15-row-exchange argument as
    minhash_signatures). The JVM cross-check for ``_simhash_np``."""
    hashes = F.transform(F.split("text", " "), lambda w: hash32(w))
    # bit masks as a LITERAL array: the old sequence+pow formulation
    # recomputed pow(2.0, b) per word per bit — 32 pow calls/word of pure
    # waste; a literal array is built once at plan time
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(SIMHASH_BITS)])
    bit_counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                masks,
                lambda mask: F.when(h.bitwiseAND(mask) != 0, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long"),
            ),
            lambda a, d: a + d,
        ),
    )
    powers = F.array(*[F.lit(1 << b).cast("long") for b in range(SIMHASH_BITS)])
    sim = F.aggregate(
        F.zip_with(
            bit_counts, powers,
            lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return docs.select("doc_id", sim.alias("simhash"))


def ivf_assign_hof(emb: DataFrame,
                   centroids: DataFrame | None = None) -> DataFrame:
    """The Catalyst twin of ``similarity._ivf_assign``: broadcast cross
    join + argmax cosine via ``max_by`` under groupBy (map-side
    partials — the shuffle carries one row per vector, not one per
    (vector, centroid)). Norms are folded once per vector and per
    centroid, the same fold results the numpy scorer reproduces."""
    cent = centroids if centroids is not None else _centroids(emb)
    embn = emb.withColumn("_nrm", _norm(F.col("embedding")))
    centn = cent.select(
        "centroid_id", "cvec", _norm(F.col("cvec")).alias("_cnrm")
    )
    scored = embn.crossJoin(F.broadcast(centn)).select(
        "vec_id",
        "embedding",
        "centroid_id",
        (
            _dot(F.col("embedding"), F.col("cvec"))
            / (F.col("_nrm") * F.col("_cnrm"))
        ).alias("cos_c"),
    )
    # lexicographic (cos_c, -centroid_id) == ORDER BY cos_c DESC, centroid ASC
    return scored.groupBy("vec_id").agg(
        F.max_by(
            "centroid_id", F.struct(F.col("cos_c"), (-F.col("centroid_id")))
        ).alias("centroid_id"),
        F.first("embedding").alias("embedding"),
    ).select("vec_id", "embedding", "centroid_id")
