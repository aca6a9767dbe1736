"""Similarity search over the embeddings table (array<float> column).

Brute-force cosine top-k is the exactness baseline; the LSH-bucketed
variant is the 100 TB scale path (bucket first, search within bucket:
turns an O(N) scan per query into an O(N/2^bits) bucket probe, and the
bucket assignment is a narrow map — no shuffle until the final group).

All math uses built-in higher-order functions (zip_with/aggregate) —
JVM-side, Arrow-free, codegen'd.
"""
from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._scan import read

LSH_PLANES = 8
LSH_MAX_DIMS = 64  # widest embedding the literal weight arrays cover
# every query-vector search ranks against this vector and returns the
# top SIM_TOPK rows (PQ keeps its own PQ_TOPK); the oracles read both
QUERY_VEC_ID = 0
SIM_TOPK = 10


def plane_weights(plane: int, n_dims: int = LSH_MAX_DIMS) -> list[int]:
    """The +-1 hyperplane weights for (plane, dim), derived from md5 so
    any engine can reproduce them. Computed ONCE at plan-build time and
    shipped as a literal array — the per-row/per-plane/per-dim md5 that
    used to run inside the aggregate lambda was pure wasted CPU."""
    return [
        (int(hashlib.md5(f"{plane}:{i}".encode()).hexdigest()[:2], 16) & 1) * 2 - 1
        for i in range(n_dims)
    ]


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read(spark, f"{sf_dir}/embeddings.parquet", fan="fanned")


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against the query vector (QUERY_VEC_ID).
    The single-row query side is broadcast; the scan side is a narrow
    map + TakeOrdered — no shuffle."""
    emb = _emb(spark, sf_dir)
    # query norm precomputed in the 1-row broadcast side (it was being
    # re-folded per scanned row); same fold -> same double -> same
    # product, so the scores are bit-identical
    query = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec"),
        _norm(F.col("embedding")).alias("qnrm"),
    )
    scored = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            (
                F.round(
                    _dot(F.col("embedding"), F.col("qvec"))
                    / (_norm(F.col("embedding")) * F.col("qnrm")),
                    3,
                )
                + F.lit(0.0)  # normalize IEEE -0.0
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(SIM_TOPK)


def cosine_adjacent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup scan over consecutive vec_ids (candidate chain;
    at scale candidates come from lsh_ann_buckets)."""
    emb = _emb(spark, sf_dir)
    right = emb.select(
        (F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("emb_b")
    )
    joined = emb.join(right, "vec_id")
    return joined.select(
        F.col("vec_id").alias("vec_a"),
        (F.col("vec_id") + 1).alias("vec_b"),
        (
            F.round(
                _dot(F.col("embedding"), F.col("emb_b"))
                / (_norm(F.col("embedding")) * _norm(F.col("emb_b"))),
                3,
            )
            + F.lit(0.0)  # normalize IEEE -0.0
        ).alias("cosine"),
    )


def _plane_sign(embedding, plane: int):
    """Deterministic random-hyperplane sign bit: weight for (plane, dim) is
    +-1 derived from md5 (see plane_weights) — reproducible in plain SQL
    on any engine. The weights ride along as a literal array sliced to the
    embedding width, so the hot loop is a pure multiply-add."""
    weights = F.array(*[F.lit(float(w)) for w in plane_weights(plane)])
    weighted = F.zip_with(
        embedding,
        F.slice(weights, F.lit(1), F.size(embedding)),
        lambda x, w: x.cast("double") * w,
    )
    total = F.aggregate(weighted, F.lit(0.0), lambda acc, v: acc + v)
    return F.when(total > 0, 1).otherwise(0)


def _lsh_code(embedding) -> object:
    """8-plane sign-bit bucket code as a column expression."""
    code = None
    for b in range(LSH_PLANES):
        term = _plane_sign(embedding, b) * (1 << b)
        code = term if code is None else code + term
    return code.cast("int")


def lsh_ann_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing (the ANN scale path): 8 sign bits
    -> bucket code; report bucket occupancy. ANN probe = exact cosine
    within the query's bucket (and neighboring codes for recall)."""
    emb = _emb(spark, sf_dir)
    coded = emb.select("vec_id", _lsh_code(F.col("embedding")).alias("bucket"))
    return coded.groupBy("bucket").agg(F.count("*").alias("n_vecs"))


def embedding_neardup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup candidates at the LSH-bucket scale shape:
    exact cosine is computed ONLY within each hyperplane bucket (the
    self-join is keyed on the bucket code, so cost is sum(bucket^2), not
    N^2), then the top-k most-similar pairs come back. In a production
    dedup run the ORDER BY/LIMIT becomes `WHERE cosine >= threshold`
    feeding dedup.connected_components; the driver's synthetic embeddings
    are random (max within-bucket cosine ~0.45), so a fixed threshold
    would select nothing to verify — top-k keeps the oracle non-trivial."""
    emb = _emb(spark, sf_dir)
    # kept: a shared repartition("bucket") was 1.32x slower (it adds a shuffle)
    # materialized: the two self-join sides are separate subtrees to
    # Catalyst, so the 8-plane sign-bit fold would otherwise run twice
    # norm precomputed per vector before the pair join (the interpreted
    # fold would otherwise run per PAIR on both sides — same recipe as
    # semdedup; the product of the same fold results is bit-identical)
    coded = emb.select(
        "vec_id", "embedding", _lsh_code(F.col("embedding")).alias("bucket"),
        _norm(F.col("embedding")).alias("nrm"),
    ).localCheckpoint(eager=True)
    a = coded.select(
        F.col("bucket"), F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"), F.col("nrm").alias("nrm_a"),
    )
    b = coded.select(
        F.col("bucket"), F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"), F.col("nrm").alias("nrm_b"),
    )
    pairs = (
        a.join(b, "bucket")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            (
                F.round(
                    _dot(F.col("emb_a"), F.col("emb_b"))
                    / (F.col("nrm_a") * F.col("nrm_b")),
                    3,
                )
                + F.lit(0.0)
            ).alias("cosine"),
        )
    )
    return pairs.orderBy(
        F.desc("cosine"), F.asc("vec_a"), F.asc("vec_b")
    ).limit(SIM_TOPK)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantize -> probe one cell
# ---------------------------------------------------------------------------

N_CENTROIDS = 8
LLOYD_ITERS = 2  # k-means steps behind ivf_train_cells and semdedup
IVF_NPROBE = 2   # cells ivf_topk_nprobe searches (ivf_topk: one)


def _centroids(emb: DataFrame, n: int = N_CENTROIDS) -> DataFrame:
    """Deterministic centroid stand-in: the first n vectors act as the
    coarse codebook (production trains k-means over a sample; the
    assignment/probe machinery below is identical either way)."""
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )


def kmeans_codebook(emb: DataFrame, n: int = N_CENTROIDS,
                    iters: int = LLOYD_ITERS) -> DataFrame:
    """Deterministic Lloyd iterations over the embedding column:
    init = first-n vectors, assign by cosine against the broadcast
    codebook, new centroid = element-wise mean of its members. The mean
    uses posexplode(dim) -> avg: avg partial-aggregates map-side, so the
    shuffle carries (n_centroids x n_dims) partial rows per task, not
    (vectors x dims) — the textbook distributed k-means step. Returns
    (centroid_id, cvec); empty cells keep their previous centroid."""
    cent = _centroids(emb, n)
    for _ in range(iters):
        assigned = _ivf_assign(emb, cent)
        dims = assigned.select(
            "centroid_id", F.posexplode("embedding").alias("dim", "v")
        )
        means = (
            dims.groupBy("centroid_id", "dim")
            .agg(F.avg("v").alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "m"))
                ).getField("m").alias("new_cvec")
            )
        )
        cent = (
            cent.join(means, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce(
                    F.col("new_cvec").cast("array<float>"), F.col("cvec")
                ).alias("cvec"),
            )
            # subtree-reuse rule: cent feeds BOTH the assignment broadcast
            # and the update join of the NEXT iteration — un-materialized,
            # earlier Lloyd iterations re-execute ~2^iters times (8 scans
            # at iters=2, measured); same per-iteration lineage cut as
            # link_graph_pagerank's ranks
            .localCheckpoint(eager=True)
        )
    return cent


def ivf_train_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF build with a TRAINED codebook (LLOYD_ITERS steps) instead of
    the first-n stand-in: cell occupancy per trained centroid. Has a full
    DuckDB twin (__spark_entry__._ivf_train_sql unrolls the same Lloyd
    steps in SQL): the per-iteration cast to array<float> below is what
    makes the float means cross-engine deterministic — it rounds away the
    sub-ULP double-summation-order noise, so both engines iterate from
    bit-identical codebooks. Exactness on hand-computable inputs is also
    pinned by tests/test_kmeans.py."""
    # materialized once: every Lloyd iteration's checkpoint action and
    # the final assignment would otherwise each re-pay the scan (and its
    # fan-out exchange) — same subtree-reuse rule as the codebook itself
    emb = _emb(spark, sf_dir).localCheckpoint(eager=True)
    assigned = _ivf_assign(emb, kmeans_codebook(emb))
    return assigned.groupBy("centroid_id").agg(F.count("*").alias("n_vecs"))


def _ivf_assign(emb: DataFrame,
                centroids: DataFrame | None = None) -> DataFrame:
    """vec_id -> nearest-centroid cell, vectorized: the codebook is a
    trained MODEL of dimension size (n_centroids x dims floats — KBs
    here, MBs at the paper-scale 11k clusters), so it is collected once
    and closed over by an Arrow-batched numpy scorer, exactly how a
    production pipeline ships a trained model into a UDF. The whole
    argmax happens IN-ROW — no per-(vector, centroid) row blowup and no
    groupBy exchange at all (the previous broadcast-cross-join +
    max_by shape, now the test twin ``ivf_assign_hof`` in
    tests/reference_folds.py, paid ~n_centroids interpreted 64-element
    HOF folds per vector plus a keyed shuffle).

    Bit-exactness: the scorer reproduces the Catalyst fold order
    exactly — per-dimension sequential accumulate of the
    correctly-rounded float->double products for dot and norm, one
    division — so every cosine is the identical double; the argmax
    replicates max_by's total ordering (NaN greatest, ties to the
    smaller centroid_id — the NaN branch is defensive only: a
    zero-norm vector makes the ANSI-mode Catalyst twin throw
    DIVIDE_BY_ZERO outright, and real corpora have none). Pinned
    output-for-output against that twin in tests/test_kmeans.py.
    ``centroids`` supplies an explicit (centroid_id, cvec) codebook
    (e.g. from kmeans_codebook); else the first-n stand-in of emb."""
    import numpy as np
    import pandas as pd

    cent = centroids if centroids is not None else _centroids(emb)
    rows = sorted(
        cent.select("centroid_id", "cvec").collect(),
        key=lambda r: r["centroid_id"],
    )
    cids = np.asarray([r["centroid_id"] for r in rows], dtype=np.int64)
    cvecs = [np.asarray(r["cvec"], dtype=np.float64) for r in rows]
    # centroid norms once, sequential fold order (bit-identical to the
    # _norm expression the HOF twin evaluates)
    cnorms = []
    for c in cvecs:
        acc = 0.0
        for x in c:
            acc = acc + x * x
        cnorms.append(np.sqrt(acc))
    cnorms = np.asarray(cnorms)

    def assign(iterator):
        for batch in iterator:
            if len(batch) == 0:
                yield pd.DataFrame(
                    {"vec_id": [], "embedding": [], "centroid_id": []}
                )
                continue
            E = np.stack(batch["embedding"].to_numpy()).astype(np.float64)
            nvec, dims = E.shape
            na = np.zeros(nvec)
            dots = np.zeros((nvec, len(cvecs)))
            C = np.stack(cvecs)  # (n_cent, dims)
            for i in range(dims):
                col = E[:, i]
                na = na + col * col
                dots = dots + col[:, None] * C[None, :, i]
            with np.errstate(invalid="ignore", divide="ignore"):
                na = np.sqrt(na)
                cos = dots / (na[:, None] * cnorms[None, :])
            # max_by total ordering: NaN sorts ABOVE +Inf and every
            # other double; ties resolve to the smaller centroid_id
            # (the struct's -centroid_id key). Columns are
            # centroid_id-ascending and argmax takes the FIRST max, so:
            # any-NaN rows pick the first NaN column, the rest the
            # first cosine maximum.
            nan_mask = np.isnan(cos)
            has_nan = nan_mask.any(axis=1)
            best = np.where(
                has_nan,
                np.argmax(nan_mask, axis=1),
                np.argmax(np.where(nan_mask, -np.inf, cos), axis=1),
            )
            yield pd.DataFrame({
                "vec_id": batch["vec_id"],
                "embedding": batch["embedding"],
                "centroid_id": cids[best],
            })

    return emb.select("vec_id", "embedding").mapInPandas(
        assign, schema="vec_id long, embedding array<float>, centroid_id long"
    )


def ivf_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF build step: cell occupancy histogram."""
    emb = _emb(spark, sf_dir)
    return _ivf_assign(emb).groupBy("centroid_id").agg(
        F.count("*").alias("n_vecs")
    )


def _ivf_probe(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """IVF probe: search only the query's `nprobe` nearest cells with
    exact cosine. Turns the brute-force O(N) scan into O(N/cells) per
    probed cell; more cells is the standard recall/latency knob (one
    cell can miss neighbors that quantized into an adjacent one). The
    cell shortlist is a tiny ranked broadcast, so the probe side stays
    pruned to sum(probed cell sizes) rows before any expensive math."""
    emb = _emb(spark, sf_dir)
    cent = _centroids(emb)
    assigned = _ivf_assign(emb, cent)
    # query norm precomputed once in the 1-row side (was re-folded per
    # candidate centroid and again per probed row; bit-identical)
    query = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec"),
        _norm(F.col("embedding")).alias("qnrm"),
    )
    # the nprobe best cells ranked in one row, no window: a descending
    # sort of (cos_c, -centroid_id) is ORDER BY cos_c DESC (NaN first,
    # as Spark sorts it above every value), centroid_id ASC
    cells = cent.crossJoin(F.broadcast(query)).select(F.struct(
        (
            _dot(F.col("cvec"), F.col("qvec"))
            / (_norm(F.col("cvec")) * F.col("qnrm"))
        ).alias("cos_c"),
        (-F.col("centroid_id")).alias("neg_id"),
        "centroid_id",
        "qvec",
        "qnrm",
    ).alias("cell"))
    qcells = cells.agg(
        F.slice(F.sort_array(F.collect_list("cell"), asc=False), 1, nprobe)
        .alias("cells")
    ).select(F.inline("cells")).select("centroid_id", "qvec", "qnrm")
    probe = (
        assigned.join(F.broadcast(qcells), "centroid_id")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id",
            (
                F.round(
                    _dot(F.col("embedding"), F.col("qvec"))
                    / (_norm(F.col("embedding")) * F.col("qnrm")),
                    3,
                )
                + F.lit(0.0)
            ).alias("cosine"),
        )
    )
    return probe.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(SIM_TOPK)


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k probing the query's own cell only (nprobe=1)."""
    return _ivf_probe(spark, sf_dir, 1)


def ivf_topk_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k probing the query's IVF_NPROBE nearest cells."""
    return _ivf_probe(spark, sf_dir, IVF_NPROBE)


SEMDEDUP_TAU = 0.3  # probe-derived: splits the driver corpus ~300 kept
# / ~200 removed (within-cell round-3 cosines: median 0.05, p99 0.33),
# so both verdicts are well represented in the oracle hash


def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering the embedding space and pruning
    near-duplicate pairs WITHIN each cluster only. Reuses the trained
    k-means codebook (kmeans_codebook — the cross-engine-deterministic
    Lloyd loop) and the IVF assignment; within a cell, every vector that
    has a lower-id cell-mate with cosine >= SEMDEDUP_TAU is dropped (the
    paper keeps one exemplar per epsilon-ball; "keep the lowest vec_id"
    makes that choice deterministic). Returns one row per vector:
    (vec_id, centroid_id, kept).

    Scale shape: the pair stage is a self-join KEYED on centroid_id, so
    cost is sum(cell_size^2), never N^2 — and in production the cluster
    count is chosen proportional to N (the paper runs 11k clusters for
    LAION-440M), holding cell sizes roughly constant as the corpus
    grows. The assignment is checkpointed once so the Lloyd fold does
    not re-execute per self-join side (Catalyst does not share subtrees
    across self-joins), and cosine is rounded to 3 decimals before the
    threshold compare so the verdict is reproducible across engines."""
    return _semdedup_from(_emb(spark, sf_dir))


def _semdedup_from(emb: DataFrame, iters: int = LLOYD_ITERS,
                   tau: float = SEMDEDUP_TAU,
                   n: int = N_CENTROIDS) -> DataFrame:
    """semdedup core over an explicit (vec_id, embedding) DataFrame —
    unit-testable on hand-computable inputs (tests/test_kmeans.py)."""
    # materialized once: the Lloyd iterations and the assignment below
    # are separate actions that would each re-execute the emb subtree
    # (scan + fan-out exchange) otherwise
    emb = emb.localCheckpoint(eager=True)
    codebook = kmeans_codebook(emb, n=n, iters=iters)
    # norm precomputed ONCE per vector before the pair join: the HOF
    # norm fold is interpreted per element, so recomputing it per PAIR
    # (2 x 64-element aggregates x sum(cell^2) pairs) would triple the
    # pair stage; sqrt(sum) per row then na*nb in the pair is
    # bit-identical to the inline formula, so the oracle is unchanged
    assigned = _ivf_assign(emb, codebook).select(
        "vec_id", "centroid_id", "embedding",
        _norm(F.col("embedding")).alias("nrm"),
    ).localCheckpoint(eager=True)
    a = assigned.select(
        "centroid_id", F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"), F.col("nrm").alias("nrm_a"),
    )
    b = assigned.select(
        "centroid_id", F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"), F.col("nrm").alias("nrm_b"),
    )
    cos = (
        F.round(
            _dot(F.col("emb_a"), F.col("emb_b"))
            / (F.col("nrm_a") * F.col("nrm_b")),
            3,
        )
        + F.lit(0.0)
    )
    removed = (
        a.join(b, "centroid_id")
        .where(F.col("vec_b") < F.col("vec_a"))
        .where(cos >= F.lit(tau))
        .select(F.col("vec_a").alias("vec_id"))
        .distinct()
        .withColumn("is_removed", F.lit(True))
    )
    return assigned.join(removed, "vec_id", "left").select(
        "vec_id",
        "centroid_id",
        F.col("is_removed").isNull().alias("kept"),
    )


# --- product quantization: the 10^12-vector ANN memory path ---
# IVF prunes which vectors to score; PQ shrinks what each vector costs
# to score (Jegou et al. 2011, "Product Quantization for Nearest
# Neighbor Search"): the 64-dim float vector becomes PQ_M sub-codebook
# codes, and query distance is an additive lookup (ADC) into a tiny
# per-query table — no full-vector math per candidate.
PQ_M = 4        # subspaces
PQ_SUBDIM = 16  # 64-dim embeddings -> 16 dims per subspace
PQ_CODES = 8    # centroids per sub-codebook
PQ_TOPK = 10


def _l2sq(a, b):
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_subspaces(df, id_col: str, out_col: str):
    """Explode each vector into its PQ_M subvectors: (id, m, out_col)."""
    structs = F.array(*[
        F.struct(
            F.lit(m).alias("m"),
            F.slice("embedding", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
        )
        for m in range(PQ_M)
    ])
    return df.select(id_col, F.explode(structs).alias("e")).select(
        id_col, F.col("e.m").alias("m"), F.col("e.sv").alias(out_col)
    )


def _pq_dim(emb: DataFrame) -> DataFrame:
    """(m, centroid_id, cvec): the M sub-codebooks from the first
    PQ_CODES vectors — the same deterministic stand-in as _centroids
    (production trains per-subspace k-means over a sample; the encode/
    search machinery below is identical either way)."""
    cent = emb.filter(F.col("vec_id") < PQ_CODES).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return _pq_subspaces(cent, "centroid_id", "cvec")


def _pq_codes_long(emb: DataFrame) -> DataFrame:
    """(vec_id, m, code): nearest sub-centroid per subspace by squared
    L2, ties to the smaller centroid_id. The sub-codebook is a
    PQ_M*PQ_CODES-row broadcast; the argmin is min_by under groupBy
    (map-side partials — the shuffle carries one row per (vector,
    subspace), never per candidate centroid)."""
    sv = _pq_subspaces(emb, "vec_id", "sv")
    scored = sv.join(F.broadcast(_pq_dim(emb)), "m").select(
        "vec_id", "m", "centroid_id",
        _l2sq(F.col("sv"), F.col("cvec")).alias("d2"),
    )
    return scored.groupBy("vec_id", "m").agg(
        F.min_by("centroid_id", F.struct("d2", "centroid_id")).alias("code")
    )


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode: every vector compressed to PQ_M one-byte codes
    (vec_id, code0..code3) — 64 floats (256 B) down to 4 B/vector, the
    compression that lets a 10^12-vector index live in memory."""
    return _pq_codes_from(_emb(spark, sf_dir))


def _pq_codes_from(emb: DataFrame) -> DataFrame:
    long = _pq_codes_long(emb)
    return long.groupBy("vec_id").agg(*[
        F.max(F.when(F.col("m") == m, F.col("code"))).alias(f"code{m}")
        for m in range(PQ_M)
    ])


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) search: the query's distance to
    every sub-centroid is a PQ_M*PQ_CODES-row table (computed once,
    broadcast); each candidate's estimated distance is then PQ_M table
    lookups summed — never full-vector math per candidate. Returns the
    top-k (vec_id, est_d2), estimated distance ascending, ties by
    vec_id; TakeOrderedAndProject, no global sort. Determinism: per-
    entry distances snap to 9 (element-order-exact sums both engines),
    the PQ_M-addend per-vector sum to 6."""
    return _pq_topk_from(_emb(spark, sf_dir))


def _pq_topk_from(emb: DataFrame, k: int = PQ_TOPK) -> DataFrame:
    q = _pq_subspaces(
        emb.filter(F.col("vec_id") == QUERY_VEC_ID), "vec_id", "qv"
    )
    qtab = q.join(_pq_dim(emb), "m").select(
        "m", F.col("centroid_id").alias("code"),
        F.round(_l2sq(F.col("qv"), F.col("cvec")), 9).alias("qd2"),
    )
    est = (
        _pq_codes_long(emb)
        .join(F.broadcast(qtab), ["m", "code"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("qd2"), 6).alias("est_d2"))
    )
    return est.orderBy("est_d2", "vec_id").limit(k)


PQ_SHORTLIST = 50


def pq_topk_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ retrieval, the standard IVF-PQ serving shape: the
    ADC pass shortlists PQ_SHORTLIST candidates from compressed codes
    (cheap, quantization-lossy), then ONLY those candidates pay exact
    full-vector distance — at 10^12 vectors the exact math touches 50
    rows, not the corpus. The shortlist rides a BroadcastExchange back
    onto the embedding scan (semi-join, no shuffle of the big side);
    final ranking is exact squared L2 ascending, ties by vec_id,
    TakeOrderedAndProject. Exact d2 snaps to 6 (element-order sums
    match DuckDB's list_sum bit-for-bit; ordering uses the snapped
    value so the rank grid is shared)."""
    return _pq_topk_refine_from(_emb(spark, sf_dir))


def _pq_topk_refine_from(emb: DataFrame) -> DataFrame:
    shortlist = _pq_topk_from(emb, PQ_SHORTLIST).select("vec_id")
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    exact = (
        emb.join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(_l2sq(F.col("embedding"), F.col("qvec")), 6).alias("d2"),
        )
    )
    return exact.orderBy("d2", "vec_id").limit(PQ_TOPK)
