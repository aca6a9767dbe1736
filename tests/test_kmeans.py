"""Deterministic Lloyd iterations for the IVF codebook (exact on
hand-computable inputs; the sf-scale query ivf_train_cells takes the
driver's rows-only check)."""
from pdfi_spark.ops.similarity import _ivf_assign, kmeans_codebook


def _emb_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_one_lloyd_iteration_exact_means(spark):
    emb = _emb_df(spark, [
        (0, [1.0, 0.0]),    # centroid 0 init
        (1, [0.0, 1.0]),    # centroid 1 init
        (2, [1.0, 0.1]),
        (3, [0.1, 1.0]),
        (4, [1.0, -0.1]),
    ])
    cent = {r["centroid_id"]: r["cvec"] for r in
            kmeans_codebook(emb, n=2, iters=1).collect()}
    # cell 0 = {v0, v2, v4} -> mean [1.0, 0.0]; cell 1 = {v1, v3} -> [0.05, 1.0]
    assert [round(x, 6) for x in cent[0]] == [1.0, 0.0]
    assert [round(x, 6) for x in cent[1]] == [0.05, 1.0]


def test_semdedup_removes_within_cell_neardups_keeps_lowest_id(spark):
    from pdfi_spark.ops.similarity import _semdedup_from

    emb = _emb_df(spark, [
        (0, [1.0, 0.0]),     # centroid 0 init
        (1, [0.0, 1.0]),     # centroid 1 init
        (2, [1.0, 0.01]),    # near-dup of v0 (cos ~0.99995) — removed
        (3, [0.01, 1.0]),    # near-dup of v1 — removed
        (4, [0.6, -0.8]),    # lands in cell 0 but cos(v0,v4)=0.6 — kept
    ])
    out = {r["vec_id"]: r["kept"]
           for r in _semdedup_from(emb, iters=1, tau=0.9, n=2).collect()}
    assert out == {0: True, 1: True, 2: False, 3: False, 4: True}


def test_trained_codebook_reassigns_all_vectors(spark):
    emb = _emb_df(spark, [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]),
        (2, [0.9, 0.2]), (3, [0.2, 0.9]), (4, [-1.0, 0.05]),
    ])
    codebook = kmeans_codebook(emb, n=2, iters=2)
    assigned = _ivf_assign(emb, centroids=codebook)
    cells = {r["vec_id"]: r["centroid_id"] for r in assigned.collect()}
    assert len(cells) == 5
    assert cells[0] == cells[2] and cells[1] == cells[3]


def _const_subspace_vec(levels):
    """64-dim vector: subspace m is [levels[m]] * 16."""
    from pdfi_spark.ops.similarity import PQ_M, PQ_SUBDIM

    assert len(levels) == PQ_M
    return [float(v) for v in levels for _ in range(PQ_SUBDIM)]


def _pq_emb(spark):
    """Codebook vectors 0..7 are constant [j]*64, so sub-codebook m's
    centroid j is [j]*16 in every subspace — distances are exactly
    16*(x-j)^2, hand-computable."""
    from pdfi_spark.ops.similarity import PQ_CODES

    rows = [(j, _const_subspace_vec([j] * 4)) for j in range(PQ_CODES)]
    rows.append((8, _const_subspace_vec([0.9, 2.2, 6.6, 7.4])))
    rows.append((9, _const_subspace_vec([2.5, 2.5, 2.5, 2.5])))  # exact tie 2/3
    return _emb_df(spark, rows)


def test_pq_codes_nearest_subcentroid_with_tie_to_lower_id(spark):
    from pdfi_spark.ops.similarity import _pq_codes_from

    out = {r["vec_id"]: (r["code0"], r["code1"], r["code2"], r["code3"])
           for r in _pq_codes_from(_pq_emb(spark)).collect()}
    assert out[8] == (1, 2, 7, 7)
    # 2.5 is exactly equidistant from sub-centroids 2 and 3 (both
    # 16*0.25, exact in binary): the tie must break to the lower code
    assert out[9] == (2, 2, 2, 2)
    for j in range(8):
        assert out[j] == (j, j, j, j)


def test_pq_topk_adc_distances_are_code_table_lookups(spark):
    from pdfi_spark.ops.similarity import _pq_topk_from

    # query = v0 = zeros, so qtab[m][j] = 16*j^2 and every vector's
    # est_d2 is the sum of its four code entries
    got = [(r["vec_id"], r["est_d2"])
           for r in _pq_topk_from(_pq_emb(spark), k=10).collect()]
    exp = {j: 4 * 16.0 * j * j for j in range(8)}
    exp[8] = 16.0 * (1 + 4 + 49 + 49)
    exp[9] = 4 * 16.0 * 4
    want = sorted(exp.items(), key=lambda kv: (kv[1], kv[0]))
    assert got == [(v, float(d)) for v, d in want]


def test_pq_topk_refine_reranks_quantization_error_exactly(spark):
    from pdfi_spark.ops.similarity import _pq_topk_from, _pq_topk_refine_from

    emb = _pq_emb(spark)
    # ADC ties v2 and v9 at 256 (v9's codes collapse onto sub-centroid
    # 2); exact re-rank separates them: d2(v9) = 64*2.5^2 = 400
    adc = [r["vec_id"] for r in _pq_topk_from(emb, k=10).collect()]
    assert adc.index(2) < adc.index(9)  # tie broken by vec_id only
    got = [(r["vec_id"], r["d2"])
           for r in _pq_topk_refine_from(emb).collect()]
    import numpy as np

    # the column is array<float>: levels like 0.9 quantize to float32
    # before the double subtraction, so expectations go through float32
    f32 = lambda v: float(np.float32(v))
    exact = {j: 64.0 * j * j for j in range(8)}
    exact[8] = round(16 * sum((f32(v)) ** 2
                              for v in (0.9, 2.2, 6.6, 7.4)), 6)
    exact[9] = 400.0
    want = sorted(exact.items(), key=lambda kv: (kv[1], kv[0]))
    assert [v for v, _ in got] == [v for v, _ in want]
    for (gv, gd), (wv, wd) in zip(got, want):
        assert abs(gd - wd) < 1e-6, (gv, gd, wd)


def test_ivf_assign_numpy_matches_hof(spark):
    """The vectorized in-row assignment (the default _ivf_assign) and
    the broadcast-cross-join + max_by Catalyst twin are the SAME
    function: identical (vec_id -> centroid_id) on the real sf0.001
    embeddings AND on adversarial hand inputs — exact cosine ties
    (duplicate vectors), scaled copies (cosine exactly 1 vs two
    centroids), and a zero vector (NaN cosine against every centroid:
    max_by sorts NaN greatest, ties to the smaller centroid_id)."""
    from pdfi_spark.ops.similarity import _centroids, _ivf_assign
    from reference_folds import ivf_assign_hof

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got_np = {r["vec_id"]: r["centroid_id"]
              for r in _ivf_assign(emb).collect()}
    got_hof = {r["vec_id"]: r["centroid_id"]
               for r in ivf_assign_hof(emb).collect()}
    assert got_np == got_hof and len(got_np) == 500

    hand = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [2.0, 0.0, 0.0, 0.0]),   # scaled copy of centroid 0
            (4, [1.0, 1.0, 0.0, 0.0]),   # exact tie vs centroids 0 and 1
            (5, [-1.0, -1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    two = _centroids(hand, 2)
    np_rows = {r["vec_id"]: r["centroid_id"]
               for r in _ivf_assign(hand, centroids=two).collect()}
    hof_rows = {r["vec_id"]: r["centroid_id"]
                for r in ivf_assign_hof(hand, centroids=two).collect()}
    assert np_rows == hof_rows
    assert np_rows[4] == 0  # exact cosine tie resolves to the smaller id

    with_zero = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.0, 0.0, 0.0, 0.0]),   # zero vector -> all-NaN cosines
        ],
        "vec_id long, embedding array<float>",
    )
    two = _centroids(with_zero, 2)
    z = {r["vec_id"]: r["centroid_id"]
         for r in _ivf_assign(with_zero, centroids=two).collect()}
    assert z[3] == 0  # all-NaN row resolves to the smallest id
