"""Deduplication operators: exact, MinHash(+LSH banding), SimHash, n-gram
Jaccard, and the end-to-end LSH -> verify -> connected-components keep-list.
All JVM-side (higher-order functions / groupBy); hashes are md5-derived so
the DuckDB oracles can reproduce them bit-for-bit, and each word is hashed
exactly ONCE per operator (the md5 digest's four 32-bit lanes supply the
MinHash permutations).

Scale notes (100 TB): MinHash/SimHash are ZERO-exchange narrow per-row
folds (the signature never leaves the row); dedup_exact and LSH banding
are a single shuffle on their grouping key. The band-bucket pair join is
the only potentially skewed stage (popular buckets) — buckets are capped
at MAX_LSH_BUCKET first, and residual moderate skew is AQE skew-join
territory. Connected components uses the alternating large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond"), which converges in O(log n) rounds even on long-chain
components.
"""
from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._scan import read

MINHASH_PERMS = 4
# hex-digit start offsets (1-based) of the four 32-bit lanes of one md5
MINHASH_LANE_OFFSETS = [1 + 8 * i for i in range(MINHASH_PERMS)]
SIMHASH_BITS = 32

# --- production-scale MinHash: 128 permutations from the SAME one md5 ---
# GPT-3/Gopher-style near-dup dedup runs ~128 permutations in ~9-16 bands
# for usable precision/recall at a ~0.8 Jaccard bar; the 4-perm sketch
# above is the didactic core. 16 bands x 8 rows puts the LSH s-curve
# threshold at (1/16)^(1/8) ~= 0.71.
MINHASH128_PERMS = 128
MINHASH128_BANDS = 16
MINHASH128_ROWS = 8
MINHASH128_P = (1 << 31) - 1  # Mersenne prime 2^31-1


def _minhash128_params() -> list[tuple[int, int, int]]:
    """(a, b, lane) per permutation: universal-hash coefficients over
    Z_P applied to one of the four 32-bit md5 lanes — still exactly ONE
    md5 call per distinct word; the other 127 "hash functions" are two
    integer ops each. a*h < P * 2^32 < 2^63, so the arithmetic is exact
    in signed 64-bit on BOTH engines (no overflow; ANSI-safe).
    Deterministic seed => the DuckDB twin regenerates identical
    coefficients from this same function."""
    rng = random.Random(0x5EED128)
    return [
        (rng.randrange(1, MINHASH128_P), rng.randrange(0, MINHASH128_P),
         i % MINHASH_PERMS)
        for i in range(MINHASH128_PERMS)
    ]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read(spark, f"{sf_dir}/documents.parquet", fan="fanned")


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a 5-word prefix key: one hash-aggregate shuffle."""
    docs = _docs(spark, sf_dir)
    key = F.concat_ws(" ", F.slice(F.split("text", " "), 1, 5))
    return (
        docs.select(key.alias("dedup_key"), "doc_id")
        .groupBy("dedup_key")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_id"))
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-permutation MinHash over the distinct word set of each document,
    computed as a NARROW per-row map with ONE md5 per distinct word: the
    128-bit digest is sliced into four independent 32-bit lanes (hex
    digits [8i, 8i+8)), so the k "permutations" cost substrings, not k
    hash invocations — at 100 TB the hash calls are the dominant CPU term
    of this operator, and this is a straight 4x cut. The digest transform
    is the aggregate's INPUT (evaluated once per word); the four running
    minima accumulate in a single fold; h1..h4 are projected from the
    result array in a SEPARATE select, which Catalyst keeps separate
    because CollapseProject refuses to duplicate non-cheap producer
    expressions. NO explode and NO shuffle — the signature never leaves
    the row (an explode+groupBy formulation shuffles one row per word: a
    10^15-row exchange at 10^12 docs; this plan exchanges nothing).
    Single-evaluation + zero-exchange are both asserted in
    tests/test_plans.py."""
    docs = _docs(spark, sf_dir)
    words = F.array_distinct(F.split("text", " "))
    digests = F.transform(words, lambda w: F.md5(w))
    offsets = F.array(*[F.lit(o) for o in MINHASH_LANE_OFFSETS])
    init = F.array_repeat(F.lit(1 << 32).cast("long"), MINHASH_PERMS)
    mins = F.aggregate(
        digests,
        init,
        lambda acc, hx: F.zip_with(
            acc,
            offsets,
            lambda m, off: F.least(
                m, F.conv(hx.substr(off, F.lit(8)), 16, 10).cast("long")
            ),
        ),
    )
    sig = docs.select("doc_id", mins.alias("sig"))
    return sig.select(
        "doc_id",
        *[
            F.element_at("sig", i + 1).alias(f"h{i + 1}")
            for i in range(MINHASH_PERMS)
        ],
    )


def minhash_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding of the MinHash signature: band1=(h1,h2), band2=(h3,h4);
    bucket sizes per band — near-duplicate candidates share a bucket."""
    return (
        _lsh_members(spark, sf_dir)
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("n_docs"))
    )


def _batch_vocab(words_per_doc: list[list[str]]):
    """The batch vocabulary of an Arrow batch's per-doc word lists:
    (vocab, widx, starts). ``vocab`` maps each BATCH-distinct word to its
    row, in first-occurrence order; ``widx`` is the vocab row of every
    word occurrence, docs concatenated; ``starts`` are the per-doc
    segment offsets into ``widx`` for ``np.<ufunc>.reduceat``. Real
    corpora share vocabulary across documents, so a fold hashes and
    expands each vocab row once and gathers it with ``widx`` — per-word
    results are identical, so signatures stay bit-for-bit unchanged
    (pinned against the HOF twins in test_dedup_clusters.py). Every doc
    holds at least one word (``split`` yields ``[""]`` for ""), so no
    segment is empty."""
    import numpy as np

    vocab: dict[str, int] = {}
    setdefault = vocab.setdefault
    widx = np.asarray(
        [setdefault(w, len(vocab)) for ws in words_per_doc for w in ws],
        dtype=np.int64,
    )
    counts = np.asarray([len(ws) for ws in words_per_doc])
    starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    return vocab, widx, starts


def _shingle_lists(words_per_doc, n: int) -> list[list[str]]:
    """Distinct word n-gram shingles per doc over the RAW word sequence,
    in first-occurrence order — the same list as the ``_shingles``
    expression (a doc with fewer than n words gets [])."""
    return [
        list(dict.fromkeys(
            " ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)
        ))
        for ws in words_per_doc
    ]


def _minhash128_artifacts(docs: DataFrame, with_words: bool = False,
                          with_shingles: bool = False) -> DataFrame:
    """ONE fused Arrow pass producing every per-doc artifact the sketch
    family needs: the 128-lane signature (always), and optionally the
    distinct word set (`words`, for true-Jaccard audits) and the
    distinct word 3-gram shingles (`shingles`, for pair verification).

    Signature math is the bit-identical numpy twin of the HOF fold
    ``minhash128_sig_hof`` in tests/reference_folds.py: Catalyst
    higher-order functions never enter whole-stage codegen (every
    lambda element is interpreted, so the 128-lane fold costs ~8x the
    4-lane op for 32x the permutations — measured; CLAUDE.md). Here the
    batch vocabulary (``_batch_vocab``) is hashed in one hashlib loop
    (one md5 per distinct word), digests framed as a (V,4) big-endian
    uint32 lane matrix (exactly the hex substrings at offsets
    1/9/17/25), expanded to (V,128) by column gather, gathered per word
    and segment-reduced per doc with np.minimum.reduceat; a_i*h+b_i <
    2^63 stays exact in int64 (same ANSI-safety argument as the JVM
    side).

    The optional columns exist so downstream consumers scan the corpus
    ONCE: dedup_clusters_128 previously ran a second scan+fold for
    shingles, and the estimator audit a third for word sets — at 100 TB
    each extra pass is a full read of the corpus. `shingles` matches
    ops.dedup._shingles (n-grams over the RAW word sequence, first-
    occurrence dedup; consumers only take intersect/union sizes, which
    are order-insensitive). Still a NARROW zero-exchange map — scan
    pruned to doc_id+text -> mapInPandas (asserted in test_plans)."""
    import numpy as np
    import pandas as pd

    params = _minhash128_params()
    a_np = [p[0] for p in params]
    b_np = [p[1] for p in params]
    idx_np = [p[2] for p in params]

    def fold(iterator):
        import hashlib

        A = np.asarray(a_np, dtype=np.int64)
        B = np.asarray(b_np, dtype=np.int64)
        IDX = np.asarray(idx_np, dtype=np.int64)
        P = np.int64(MINHASH128_P)
        md5 = hashlib.md5
        for batch in iterator:
            raw_per_doc = [str(t).split(" ") for t in batch["text"]]
            words_per_doc = [
                list(dict.fromkeys(ws)) for ws in raw_per_doc
            ]
            vocab, widx, starts = _batch_vocab(words_per_doc)
            digests = b"".join(
                md5(w.encode("utf-8")).digest() for w in vocab
            )
            # digest bytes [4i,4i+4) big-endian == hex[8i:8i+8] parsed
            lanes = np.frombuffer(digests, dtype=">u4").reshape(-1, 4)
            vals_u = (lanes.astype(np.int64)[:, IDX] * A + B) % P
            mins = np.minimum.reduceat(vals_u[widx], starts, axis=0)
            out = {"doc_id": batch["doc_id"], "sig": list(mins)}
            if with_words:
                out["words"] = words_per_doc
            if with_shingles:
                out["shingles"] = _shingle_lists(raw_per_doc, 3)
            yield pd.DataFrame(out)

    schema = "doc_id long, sig array<long>"
    if with_words:
        schema += ", words array<string>"
    if with_shingles:
        schema += ", shingles array<string>"
    return docs.select("doc_id", "text").mapInPandas(fold, schema=schema)


def minhash128_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest view of the 128-perm signature: (doc_id, sig_md5) where
    sig_md5 = md5 of the comma-joined lane minima — 2 columns instead of
    128, but the value hash still pins every lane bit-for-bit against
    the DuckDB twin."""
    sig = _minhash128_artifacts(_docs(spark, sf_dir))
    joined = F.concat_ws(
        ",", F.transform("sig", lambda x: x.cast("string"))
    )
    return sig.select("doc_id", F.md5(joined).alias("sig_md5"))


def _minhash128_members(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) membership rows of a 128-lane ``sig``
    column: per band, bucket = md5 of the band's comma-joined 8 lanes."""
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", F.transform(
                F.slice("sig", b * MINHASH128_ROWS + 1, MINHASH128_ROWS),
                lambda x: x.cast("string"),
            ))).alias("bucket"),
        )
        for b in range(MINHASH128_BANDS)
    ])
    return (
        sig.select("doc_id", F.explode(bands).alias("bb"))
        .select("doc_id", F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket"))
    )


def minhash128_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding of the 128-perm signature: 16 bands x 8 rows, bucket
    key = md5 of the band's comma-joined lanes. One groupBy shuffle on
    (band, bucket) — the banding explode multiplies rows 16x but each
    row is ~50 bytes, and at 10^12 docs the exchange is keyed and
    combiner-friendly (map-side partial counts)."""
    sig = _minhash128_artifacts(_docs(spark, sf_dir))
    return (
        _minhash128_members(sig)
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("n_docs"))
    )


def minhash128_jaccard_estimates(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The estimator the sketch exists for: for every 16-band candidate
    pair, the MinHash Jaccard estimate (fraction of agreeing lanes,
    E[est] = J) next to the TRUE word-set Jaccard — the per-pair error
    a production pipeline monitors when tuning bands/rows. Signature
    agreement is a zip_with+filter over the two checkpointed 128-lane
    arrays (never a re-fold); true Jaccard is array_intersect/union on
    distinct word sets. Everything downstream of the capped candidate
    join is narrow. The fused artifacts pass emits signature AND word
    set together (the corpus is scanned once, not twice), so each pair
    side is a single join against the checkpointed artifacts instead of
    two."""
    # kept: a shared repartition("doc_id") was 2.1-2.7x slower (2 maps)
    art = _minhash128_artifacts(
        _docs(spark, sf_dir), with_words=True
    ).localCheckpoint(eager=True)
    pairs = _pairs_from_members(_minhash128_members(art))
    est = (
        pairs
        .join(art.select(F.col("doc_id").alias("doc_a"),
                         F.col("sig").alias("sig_a"),
                         F.col("words").alias("ws_a")), "doc_a")
        .join(art.select(F.col("doc_id").alias("doc_b"),
                         F.col("sig").alias("sig_b"),
                         F.col("words").alias("ws_b")), "doc_b")
    )
    agree = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda a, b: a == b),
        lambda x: x,
    ))
    return est.select(
        "doc_a",
        "doc_b",
        F.round(agree.cast("double") / F.lit(float(MINHASH128_PERMS)), 6)
        .alias("est_jaccard"),
        F.round(
            F.size(F.array_intersect("ws_a", "ws_b")).cast("double")
            / F.size(F.array_union("ws_a", "ws_b")),
            6,
        ).alias("true_jaccard"),
    )


def _simhash_np(docs: DataFrame) -> DataFrame:
    """Vectorized numpy SimHash fold (the default — same precedent as
    _minhash128_artifacts: Catalyst HOF lambdas are interpreted per
    element, so the 32-lane zip_with costs ~32 interpreter steps per
    WORD; here the batch vocabulary (``_batch_vocab``) hashes once per
    distinct word, the +-1 bit matrix expands once per distinct word,
    and the per-doc accumulation is one np.add.reduceat). All-integer
    math in the identical bit layout (first 4 md5 bytes big-endian ==
    the conv(substr(md5,1,8)) lane), so the result is bit-identical to
    the HOF fold ``simhash_hof`` in tests/reference_folds.py — pinned
    lane-for-lane in tests/test_dedup_clusters.py."""
    import numpy as np
    import pandas as pd

    def fold(iterator):
        import hashlib

        md5 = hashlib.md5
        powers = 1 << np.arange(SIMHASH_BITS, dtype=np.int64)
        shifts = np.arange(SIMHASH_BITS, dtype=np.int64)
        for batch in iterator:
            vocab, widx, starts = _batch_vocab(
                [str(t).split(" ") for t in batch["text"]]
            )
            digests = b"".join(
                md5(w.encode("utf-8")).digest()[:4] for w in vocab
            )
            h = np.frombuffer(digests, dtype=">u4").astype(np.int64)
            # (vocab, 32) of +-1: bit b set -> +1 else -1
            bits = (((h[:, None] >> shifts) & 1) * 2 - 1)
            acc = np.add.reduceat(bits[widx], starts, axis=0)
            sim = ((acc > 0) * powers).sum(axis=1)
            yield pd.DataFrame({"doc_id": batch["doc_id"], "simhash": sim})

    return docs.select("doc_id", "text").mapInPandas(
        fold, schema="doc_id long, simhash long"
    )


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash with word-frequency weights (see _simhash_np)."""
    return _simhash_np(_docs(spark, sf_dir))


SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 8
SIMHASH_HAM_THRESHOLD = 3


def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairing at the 100 TB shape: the 32-bit signature
    is banded into four 8-bit keys — by pigeonhole, any pair within
    hamming distance 3 agrees exactly on at least one band — candidates
    bucket-join on (band, key) (sum(bucket^2), never N^2), and the exact
    hamming check is bit_count(xor), all whole-stage codegen. The four
    bands (literal shifts: a per-row band column would force a
    non-codegen path) explode from one select, and both join sides read
    one (band, key) exchange (ReusedExchange), so the per-word SimHash
    fold runs once per document, inside the query's own action."""
    bands = F.array(*[
        F.struct(
            F.lit(i).alias("band"),
            F.shiftright("simhash", SIMHASH_BAND_BITS * i)
            .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
            .alias("key"),
        )
        for i in range(SIMHASH_BANDS)
    ])
    members = (
        simhash(spark, sf_dir)
        .select(F.explode(bands).alias("bk"), "doc_id",
                F.col("simhash").alias("s"))
        .select("bk.band", "bk.key", "doc_id", "s")
        .repartition("band", "key")
    )
    a = members.select(
        "band", "key", F.col("doc_id").alias("doc_a"), F.col("s").alias("sa")
    )
    b = members.select(
        "band", "key", F.col("doc_id").alias("doc_b"), F.col("s").alias("sb")
    )
    return (
        a.join(b, ["band", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= SIMHASH_HAM_THRESHOLD)
    )


def _shingles(col="text", n=3):
    """Distinct word n-gram shingles as an array<string> expression
    (Catalyst-HOF form; callers must pre-filter docs with >= n words).
    Kept as the JVM cross-check / expression-level consumer form —
    the scan-level builder below is the vectorized default."""
    words = F.split(col, " ")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        )
    )


def _shingles_df(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingles): distinct word n-gram shingles built in
    Python per Arrow batch (``_shingle_lists``) — the same
    first-occurrence-distinct set as the _shingles HOF expression
    (pinned element-for-element in tests/test_dedup_clusters.py),
    without the per-window interpreted concat_ws/slice lambdas (the HOF
    fold never enters whole-stage codegen; one Python join per window
    is measurably cheaper). Callers must pre-filter docs with >= n
    words, exactly like _shingles."""
    import pandas as pd

    def fold(iterator):
        for batch in iterator:
            sh = _shingle_lists([str(t).split(" ") for t in batch["text"]], n)
            yield pd.DataFrame({"doc_id": batch["doc_id"], "shingles": sh})

    return docs.select("doc_id", "text").mapInPandas(
        fold, schema="doc_id long, shingles array<string>"
    )


JACCARD_THRESHOLD = 0.5
CC_MAX_ITERS = 20
# LSH buckets larger than this are dropped before pairing: a bucket
# holding a large fraction of the corpus means that band carries no
# near-dup signal (tiny shared vocab / stop-signature collisions), and
# its B^2 pair blowup is pure waste — every production dedup pipeline
# caps or re-bands such buckets. True near-dup clusters are far smaller.
MAX_LSH_BUCKET = 64


def _lsh_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(band, bucket, doc_id) membership rows — the joinable form of
    minhash_lsh_buckets.

    Both bands explode from one select (the _minhash128_members form),
    so the per-word MinHash fold runs once, inside the query's action."""
    sig = minhash_signatures(spark, sf_dir)
    bands = F.array(
        F.struct(F.lit(1).alias("band"),
                 F.concat_ws(":", "h1", "h2").alias("bucket")),
        F.struct(F.lit(2).alias("band"),
                 F.concat_ws(":", "h3", "h4").alias("bucket")),
    )
    return sig.select(F.explode(bands).alias("bb"), "doc_id").select(
        "bb.band", "bb.bucket", "doc_id"
    )


def candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs = docs sharing an LSH band bucket
    (doc_a < doc_b, distinct across bands). The self-join is keyed on
    (band, bucket), so its cost is sum(bucket_size^2) — the whole point
    of LSH banding vs the all-pairs cross join. Buckets larger than
    MAX_LSH_BUCKET are dropped first (an explicit coverage cap, mirrored
    in the DuckDB oracle, not a silent one); residual moderate-bucket
    skew is AQE skew-join territory."""
    return _pairs_from_members(_lsh_members(spark, sf_dir))


def _pairs_from_members(members: DataFrame,
                        max_bucket: int = MAX_LSH_BUCKET) -> DataFrame:
    """(band, bucket, doc_id) membership rows -> distinct candidate
    pairs, with oversized buckets capped first (see candidate_pairs).

    Shape: ONE keyed aggregate collects each bucket's member list, the
    cap filter drops oversized buckets, and the <= C(max_bucket, 2)
    pairs per bucket generate IN-ROW (sorted doc list -> i<j
    combinations) — replacing the old count-window + keyed SELF-JOIN,
    which shuffled the membership twice (Catalyst re-plans the windowed
    subtree per join side) and re-sorted both sides. Same exchange
    bytes (the member lists), one fewer shuffle + no join, identical
    pair set: within a (band, bucket) every doc_id is distinct, so
    sorted i<j combinations == the join's doc_a < doc_b condition; the
    final distinct() still dedupes across bands."""
    ids = F.array_sort(F.collect_list("doc_id"))
    grouped = (
        members.groupBy("band", "bucket")
        .agg(ids.alias("ids"))
        .filter(F.size("ids") <= max_bucket)
    )
    pairs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    exploded = (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )
    # candidate pairs are BYTES-tiny (16 B/row) but every pair pays real
    # array math downstream (shingle Jaccard / 128-lane agreement), so
    # size-based AQE coalescing would funnel the verify stage onto one
    # or two cores. Spreading and dedup FUSE into one exchange: the
    # explicit hash repartition on the pair key (pinned partition count
    # — AQE leaves it alone) satisfies the distinct's partitioning
    # requirement, so the aggregate runs in place with no second
    # shuffle; the exchange moves only id pairs, a rounding error next
    # to the artifact joins.
    sc = exploded.sparkSession.sparkContext
    return exploded.repartition(
        sc.defaultParallelism, "doc_a", "doc_b"
    ).distinct()


def _large_star(sym: DataFrame) -> DataFrame:
    """Large-star step over the SYMMETRIC edge list: for each node u with
    m(u) = min(Gamma(u) + {u}), attach every strictly-larger neighbor v
    to m(u). Output is directed (child, parent) with parent < child."""
    m = (
        sym.groupBy("u").agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    # no dedup here: duplicate (child, m) rows cannot change any
    # downstream min/relink (small_star's final distinct restores the
    # set property each round, so rounds stay bounded), and the join
    # output multiset is deterministic so the convergence witness still
    # observes a stable fixpoint — dropping the exchange saves one
    # shuffle per CC round
    return (
        sym.where(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(directed: DataFrame) -> DataFrame:
    """Small-star step over directed (child, parent) edges (parent <
    child): for each child u with parent set P(u), m = min(P(u)); relink
    every other parent to m and keep (u, m)."""
    m = directed.groupBy("u").agg(F.min("v").alias("m"))
    relink = (
        directed.join(m, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    keep = m.select("u", F.col("m").alias("v"))
    return relink.unionAll(keep).distinct()


def connected_components(edges: DataFrame, nodes: DataFrame,
                         max_iters: int = CC_MAX_ITERS) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    each round is two groupBy-min + join passes, and the edge set
    converges to a forest of stars centered at each component's minimum
    node in O(log n) rounds — including on adversarial long-chain
    components, where plain hash-min label propagation needs O(diameter)
    rounds (both pinned in tests/test_dedup_cc.py). Lineage is cut per
    round with localCheckpoint so plans stay flat.

    Convergence is detected for free on the checkpoint job itself via an
    Observation: the star steps are deterministic, so an unchanged edge
    multiset is a fixpoint. The multiset is witnessed by exact aggregates
    (count, sum(u), sum(v), and a bit-mixed xxhash64 checksum); the sums
    use try_sum, so a (theoretical, 10^12-scale) overflow yields NULL,
    which is treated as "not converged" — the loop then just runs more
    rounds, never falsely stops.

    If the round cap is hit before the fixpoint is observed, a
    UserWarning is raised (labels may be truncated mid-merge) rather than
    returning silently.

    edges: (u, v) directed both ways; nodes: (doc_id). Returns
    (doc_id, cluster_id) where cluster_id = the smallest doc_id in the
    node's component (singletons map to themselves)."""
    import warnings

    from pyspark.sql import Observation

    directed: DataFrame | None = None
    prev: tuple | None = None
    converged = False
    for i in range(max_iters):
        if directed is None:
            sym = edges.select("u", "v")
        else:
            sym = directed.unionAll(
                directed.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
        obs = Observation(f"cc_round_{i}")
        stepped = (
            _small_star(_large_star(sym))
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.try_sum("u").alias("su"),
                F.try_sum("v").alias("sv"),
                F.try_sum(F.shiftright(F.xxhash64("u", "v"), 8)).alias("ck"),
            )
            .localCheckpoint(eager=True)
        )
        got = obs.get
        cur = (got["n"], got["su"], got["sv"], got["ck"])
        directed = stepped
        if cur[0] == 0 or (cur == prev and all(x is not None for x in cur)):
            converged = True
            break
        prev = cur
    if not converged:
        warnings.warn(
            f"connected_components hit the {max_iters}-round cap before "
            "the star-forest fixpoint was observed; labels may be "
            "truncated mid-merge",
            stacklevel=2,
        )
    if directed is None:  # max_iters <= 0: no rounds ran, all singletons
        return nodes.select("doc_id", F.col("doc_id").alias("cluster_id"))
    parents = directed.groupBy("u").agg(F.min("v").alias("parent"))
    return (
        nodes.join(parents, nodes["doc_id"] == parents["u"], "left")
        .select(
            "doc_id",
            F.coalesce("parent", F.col("doc_id")).alias("cluster_id"),
        )
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data dedup path: LSH candidate pairs -> word-3-gram
    Jaccard verification (>= 0.5) -> connected components -> keep-list.
    Every doc gets a cluster_id (= smallest doc_id in its near-dup
    component; singletons map to themselves) and is_keeper marks the one
    row per cluster a pipeline would retain."""
    return _dedup_clusters_from(spark, sf_dir,
                                candidate_pairs(spark, sf_dir))


def dedup_clusters_128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup path fed by the PRODUCTION 128-permutation
    sketch: 16-band LSH candidates (s-curve ~0.71) -> the same capped
    buckets, Jaccard verification, and large-star/small-star connected
    components as dedup_clusters. Same output contract; only the
    candidate generator differs — this is the configuration a
    GPT-3/Gopher-style pipeline would actually run, with the 4-perm
    variant kept as the didactic/regression twin. Signature and
    verification shingles come out of ONE fused Arrow pass (at 100 TB
    a second scan+fold for shingles is a second full read of the
    corpus); a doc with <3 words gets an empty shingle array, whose
    Jaccard against anything is NULL/0 — dropped by the >= threshold
    filter exactly like the old inner-join-on-filtered-docs shape."""
    art = _minhash128_artifacts(
        _docs(spark, sf_dir), with_shingles=True
    ).localCheckpoint(eager=True)
    return _dedup_clusters_from(
        spark, sf_dir, _pairs_from_members(_minhash128_members(art)),
        shingle_df=art.select("doc_id", "shingles"),
    )


def _dedup_clusters_from(spark: SparkSession, sf_dir: str,
                         pairs: DataFrame,
                         shingle_df: DataFrame | None = None) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # subtree-reuse rule (CLAUDE.md): the shingle fold feeds BOTH join
    # sides and the verified pairs feed BOTH union branches — without
    # materialization the scan+fold runs 4x and the pair join + Jaccard
    # verification 2x (measured in the executed plan). A caller that
    # already materialized shingles (the fused 128-perm artifacts pass)
    # hands them in; the 4-perm path keeps the standalone HOF fold.
    sh = shingle_df if shingle_df is not None else (
        _shingles_df(docs.filter(F.size(F.split("text", " ")) >= 3))
        .localCheckpoint(eager=True)
    )
    verified = (
        pairs.join(sh.select(F.col("doc_id").alias("doc_a"),
                             F.col("shingles").alias("sh_a")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"),
                        F.col("shingles").alias("sh_b")), "doc_b")
        .where(
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b"))
            >= JACCARD_THRESHOLD
        )
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    edges = verified.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(
        verified.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    labels = connected_components(edges, docs.select("doc_id"))
    return labels.select(
        "doc_id",
        "cluster_id",
        (F.col("cluster_id") == F.col("doc_id")).alias("is_keeper"),
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard stats between consecutive doc_ids (a linear
    candidate chain keeps this a broadcast-able self-join at test scale;
    the production bucket->pair->verify->cluster path is materialized in
    ``dedup_clusters`` above)."""
    docs = _docs(spark, sf_dir).filter(F.size(F.split("text", " ")) >= 3)
    # both join sides read it (slower: explode+max_by 1.44x, repartition 1.4x)
    sh = _shingles_df(docs).localCheckpoint(eager=True)
    right = sh.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("shingles").alias("shingles_b")
    )
    joined = sh.join(right, "doc_id")
    return joined.select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + 1).alias("doc_b"),
        F.size(F.array_intersect("shingles", "shingles_b")).alias("n_intersect"),
        F.size(F.array_union("shingles", "shingles_b")).alias("n_union"),
    )


DUP_WINDOW_WORDS = 8


def exact_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication census (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): for
    every rolling DUP_WINDOW_WORDS-word window, is that exact word
    sequence repeated ANYWHERE in the corpus (any doc, including the
    same one)? Returns per doc (doc_id, n_windows, n_dup_windows,
    dup_frac) — the span-level duplication fraction pipelines threshold
    on before paying substring excision. Docs shorter than the window
    produce no row (same convention as doc_fingerprint).

    Scale shape: the single-machine reference algorithm is a suffix
    array; the distributed re-expression is rolling-window HASHES — one
    narrow in-row fold builds md5 per window (JVM-side, one md5 per
    window), then the corpus-wide repeat test is ONE keyed aggregate on
    the 16-byte hash and one keyed join back (never text-to-text).
    Per-(doc,window) counts aggregate BEFORE the global count, so the
    shuffle carries distinct (doc_id, whash) rows, and the final
    per-doc rollup is a second keyed aggregate. Boilerplate windows
    skew-cluster on popular hashes; AQE splits those reduce partitions.
    The (doc_id, whash) aggregate feeds both the global-count branch
    and the join side; AQE's ReuseExchange dedupes the two canonically
    identical shuffles at runtime, so the window fold executes ONCE
    (pinned in test_plans — no localCheckpoint needed here).
    """
    docs = _docs(spark, sf_dir)
    k = DUP_WINDOW_WORDS
    words = F.split("text", " ")
    whashes = F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - k),
            lambda i: F.md5(F.concat_ws(" ", F.slice(words, i + 1, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    inst = (
        docs.select("doc_id", F.explode(whashes).alias("whash"))
        .groupBy("doc_id", "whash")
        .agg(F.count("*").alias("cnt"))
    )
    glob = inst.groupBy("whash").agg(F.sum("cnt").alias("gcnt"))
    dup_cnt = F.sum(
        F.when(F.col("gcnt") >= 2, F.col("cnt")).otherwise(F.lit(0))
    )
    per_doc = (
        inst.join(glob, "whash")
        .groupBy("doc_id")
        .agg(F.sum("cnt").alias("n_windows"),
             dup_cnt.alias("n_dup_windows"))
    )
    return per_doc.select(
        "doc_id", "n_windows", "n_dup_windows",
        F.round(F.col("n_dup_windows") / F.col("n_windows"), 6)
        .alias("dup_frac"),
    )


def exact_substring_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The action half of exact_substring_dup (Lee et al. 2021): remove
    every word covered by a corpus-repeated DUP_WINDOW_WORDS-word
    window and reassemble the doc. Returns one row per doc (doc_id,
    clean_text, n_removed_words) — short docs and dup-free docs pass
    through verbatim with 0 removed.

    Scale shape: same repeat test as the census — per-(doc, offset)
    window hashes are a narrow in-row fold, the repeated-hash set is
    one keyed aggregate, and the duplicated offsets come back as ONE
    keyed join + per-doc collect_list (offset lists are as small as
    the duplication they describe). Excision itself is in-row: a
    filter-with-index lambda drops positions covered by any duplicated
    offset — the text never joins against text. The inst subtree feeds
    both the repeat aggregate and the offsets join; AQE ReuseExchange
    dedupes the two whash shuffles at runtime (same property as the
    census, pinned there)."""
    docs = _docs(spark, sf_dir)
    k = DUP_WINDOW_WORDS
    wdocs = docs.select("doc_id", F.split("text", " ").alias("ws"))
    whashes = F.when(
        F.size("ws") >= k,
        F.transform(
            F.sequence(F.lit(0), F.size("ws") - k),
            lambda i: F.md5(F.concat_ws(" ", F.slice("ws", i + 1, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    inst = wdocs.select(
        "doc_id", F.posexplode(whashes).alias("off", "whash")
    )
    dup_hashes = (
        inst.groupBy("whash").agg(F.count("*").alias("gcnt"))
        .filter(F.col("gcnt") >= 2).select("whash")
    )
    offs_tbl = (
        inst.join(dup_hashes, "whash")
        .groupBy("doc_id")
        .agg(F.collect_list("off").alias("offs"))
    )
    joined = wdocs.join(offs_tbl, "doc_id", "left")
    offs = F.coalesce(F.col("offs"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("ws"),
        lambda w, i: ~F.exists(offs, lambda o: (i >= o) & (i <= o + k - 1)),
    )
    return joined.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        (F.size("ws") - F.size(kept)).cast("long")
        .alias("n_removed_words"),
    )
