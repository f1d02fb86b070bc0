"""Product-quantization laws: codebook shape/determinism, encode =
numpy brute-force nearest sub-centroid, ADC identity on shared codes,
planted-copy retrieval, exact re-rank equivalence with brute force,
and loud argument failures."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from algebird_spark.operators import pq

rng = np.random.default_rng(7)


def _vec_df(spark, A, id_offset=0):
    return spark.createDataFrame(
        [(i + id_offset, A[i].tolist()) for i in range(len(A))],
        "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def clustered(spark):
    """8 well-separated clusters in 16-d; PQ with k_sub >= 8 per
    subspace should code cluster-mates identically."""
    centers = rng.standard_normal((8, 16)) * 10
    A = np.vstack([c + rng.standard_normal((40, 16)) * 0.01
                   for c in centers]).astype(np.float32)
    return _vec_df(spark, A).repartition(4), A.astype(np.float64)


def test_codebook_shape_and_determinism(clustered):
    df, A = clustered
    cb1 = pq.train_pq_codebook(df, m=4, k_sub=16, n_iter=4)
    cb2 = pq.train_pq_codebook(df, m=4, k_sub=16, n_iter=4)
    assert cb1.shape == (4, 16, 4)
    assert np.array_equal(cb1, cb2)  # deterministic init + Lloyd


def test_encode_matches_numpy_bruteforce(clustered):
    df, A = clustered
    cb = pq.train_pq_codebook(df, m=4, k_sub=16, n_iter=4)
    rows = pq.encode_pq(df, cb).select("vec_id", "pq_code").collect()
    got = {r["vec_id"]: np.frombuffer(bytes(r["pq_code"]), dtype=np.uint8)
           for r in rows}
    m, k_sub, sub = cb.shape
    for i in range(0, len(A), 37):
        subs = A[i].reshape(m, sub)
        want = np.array([((cb[j] - subs[j]) ** 2).sum(axis=1).argmin()
                         for j in range(m)], dtype=np.uint8)
        assert np.array_equal(got[i], want), i


def test_train_ignores_null_vectors(spark):
    df = spark.createDataFrame(
        [(0, None), (1, [1.0, 2.0]), (2, [3.0, 4.0]), (3, None),
         (4, [5.0, 6.0])],
        "vec_id long, embedding array<float>")
    cb = pq.train_pq_codebook(df, m=1, k_sub=2, n_iter=2)
    assert cb.shape == (1, 2, 2) and np.isfinite(cb).all()


def test_null_vectors_get_null_codes(spark):
    """A NULL vector gets a NULL code and a NULL projection, beside
    valid rows and in a batch of NULLs only (maxRecordsPerBatch 2 cuts
    the one partition into [0, 1], [2, 3], [4])."""
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0]), (1, None), (2, [0.0, 0.0, 1.0, 1.0]),
         (3, None), (4, None)],
        "vec_id long, embedding array<float>").coalesce(1)
    cb = rng.standard_normal((2, 4, 2))
    V = rng.standard_normal((3, 4))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(key)
    for batch in ("2", default):
        spark.conf.set(key, batch)
        try:
            codes = {r["vec_id"]: r["pq_code"]
                     for r in pq.encode_pq(df, cb).collect()}
            proj = {r["vec_id"]: r["p"]
                    for r in pq.fd_project(df, V, out_col="p").collect()}
        finally:
            spark.conf.set(key, default)
        assert [i for i in range(5) if codes[i] is None] == [1, 3, 4]
        assert [i for i in range(5) if proj[i] is None] == [1, 3, 4]
        assert len(bytes(codes[0])) == 2
        assert np.allclose(proj[2], V @ [0.0, 0.0, 1.0, 1.0])


def test_planted_copy_is_top1(clustered, spark):
    """An exact copy shares the query's code, so its ADC distance is
    the self-distance minimum — it must rank in the top 2 (original +
    copy tie; ids break the tie)."""
    df, A = clustered
    cb = pq.train_pq_codebook(df, m=4, k_sub=16, n_iter=4)
    copies = _vec_df(spark, A[:5].astype(np.float32), id_offset=10_000)
    enc = pq.encode_pq(df.unionByName(copies), cb)
    queries = spark.createDataFrame(
        [(int(i), A[i].tolist()) for i in range(5)],
        "q_id long, q_vec array<float>")
    top = pq.pq_topk(enc, queries, k=2, codebook=cb).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r["q_id"], set()).add(r["vec_id"])
    for i in range(5):
        assert {i, i + 10_000} == by_q[i], by_q[i]


def test_rerank_equals_bruteforce(clustered, spark):
    """rerank >= n makes the ADC stage recall-complete, so the final
    top-k must EXACTLY equal numpy brute force (squared L2, id ties)."""
    df, A = clustered
    n = len(A)
    cb = pq.train_pq_codebook(df, m=4, k_sub=16, n_iter=4)
    enc = pq.encode_pq(df, cb)
    q_idx = [3, 77, 200]
    queries = spark.createDataFrame(
        [(int(i), A[i].tolist()) for i in q_idx],
        "q_id long, q_vec array<float>")
    got = pq.pq_topk(enc, queries, k=5, codebook=cb, rerank=n,
                     vectors=df).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append((r["rank"], r["vec_id"]))
    A32 = A.astype(np.float32).astype(np.float64)  # match stored floats
    for i in q_idx:
        d = ((A32 - A32[i]) ** 2).sum(axis=1)
        order = np.lexsort((np.arange(n), d))[:5]
        want = [(r + 1, int(v)) for r, v in enumerate(order)]
        assert sorted(by_q[i]) == want, i


def test_adc_resolves_clusters_without_rerank(clustered, spark):
    """What pure ADC guarantees on tightly clustered data: every
    returned candidate comes from the QUERY'S OWN cluster (40 members
    each, separated by ~10 sigma — the quantizer collapses
    within-cluster distances to ties, so per-vector recall@5 is NOT a
    meaningful pure-ADC metric here; the re-rank test covers exact
    ranking)."""
    df, A = clustered
    n = len(A)
    cb = pq.train_pq_codebook(df, m=4, k_sub=16, n_iter=4)
    enc = pq.encode_pq(df, cb)
    q_idx = list(range(0, n, 29))
    queries = spark.createDataFrame(
        [(int(i), A[i].tolist()) for i in q_idx],
        "q_id long, q_vec array<float>")
    got = pq.pq_topk(enc, queries, k=5, codebook=cb).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], set()).add(r["vec_id"])
    for i in q_idx:
        cluster = set(range(i // 40 * 40, i // 40 * 40 + 40))
        assert by_q[i] <= cluster, (i, by_q[i] - cluster)
        assert len(by_q[i]) == 5


def test_ivf_pq_encode_matches_numpy(clustered):
    df, A = clustered
    coarse = pq.train_coarse_centroids(df, n_lists=8, n_iter=4)
    res = pq.residual_vectors(df, coarse)
    cb = pq.train_pq_codebook(res, m=4, k_sub=16, n_iter=3)
    rows = pq.encode_ivf_pq(df, coarse, cb).collect()
    got = {r["vec_id"]: (r["__list"],
                         np.frombuffer(bytes(r["pq_code"]), dtype=np.uint8))
           for r in rows}
    A32 = A.astype(np.float32).astype(np.float64)  # stored floats
    for i in range(0, len(A), 53):
        want_list = ((A32[i] - coarse) ** 2).sum(axis=1).argmin()
        assert got[i][0] == want_list, i
        r = (A32[i] - coarse[want_list]).reshape(4, 4)
        want_code = np.array([((cb[j] - r[j]) ** 2).sum(axis=1).argmin()
                              for j in range(4)], dtype=np.uint8)
        assert np.array_equal(got[i][1], want_code), i


def test_ivf_pq_full_probe_rerank_equals_bruteforce(clustered, spark):
    """nprobe = n_lists + rerank >= n degrades IVF-PQ to exact brute
    force — the oracle identity the whole machinery hangs on."""
    df, A = clustered
    n = len(A)
    coarse = pq.train_coarse_centroids(df, n_lists=8, n_iter=4)
    cb = pq.train_pq_codebook(pq.residual_vectors(df, coarse),
                              m=4, k_sub=16, n_iter=3)
    enc = pq.encode_ivf_pq(df, coarse, cb)
    q_idx = [5, 111]
    queries = spark.createDataFrame(
        [(int(i), A[i].tolist()) for i in q_idx],
        "q_id long, q_vec array<float>")
    got = pq.ivf_pq_topk(enc, queries, k=5, coarse=coarse, codebook=cb,
                         nprobe=8, rerank=n, vectors=df).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append((r["rank"], r["vec_id"]))
    A32 = A.astype(np.float32).astype(np.float64)
    for i in q_idx:
        d = ((A32 - A32[i]) ** 2).sum(axis=1)
        order = np.lexsort((np.arange(n), d))[:5]
        want = [(r + 1, int(v)) for r, v in enumerate(order)]
        assert sorted(by_q[i]) == want, i


def test_ivf_pq_planted_copy(clustered, spark):
    """An exact copy lands in the same list with the same residual
    code; after exact re-rank it must be rank 1 (dist 0, lower id via
    the negative-id plant) with the original at rank 2."""
    df, A = clustered
    copies = _vec_df(spark, A[:3].astype(np.float32)) \
        .select((-F.col("vec_id") - 1).alias("vec_id"), "embedding")
    view = df.unionByName(copies)
    coarse = pq.train_coarse_centroids(view, n_lists=8, n_iter=4)
    cb = pq.train_pq_codebook(pq.residual_vectors(view, coarse),
                              m=4, k_sub=16, n_iter=3)
    enc = pq.encode_ivf_pq(view, coarse, cb)
    queries = spark.createDataFrame(
        [(int(i), A[i].tolist()) for i in range(3)],
        "q_id long, q_vec array<float>")
    got = pq.ivf_pq_topk(enc, queries, k=2, coarse=coarse, codebook=cb,
                         nprobe=2, rerank=16, vectors=view).collect()
    by_q = {}
    for r in got:
        by_q[(r["q_id"], r["rank"])] = r["vec_id"]
    for i in range(3):
        assert by_q[(i, 1)] == -i - 1, by_q
        assert by_q[(i, 2)] == i, by_q


def test_fd_project_composition(spark):
    """FD basis -> projection: on data lying in an r-dim subspace the
    FD top-r directions capture it exactly (FD is exact below ell), so
    projecting and re-expanding reconstructs every vector."""
    from algebird_spark.agg import sketch_global
    from algebird_spark.sketches import FrequentDirections

    d, r, n = 12, 3, 300
    basis = np.linalg.qr(rng.standard_normal((d, r)))[0].T   # (r, d)
    A = (rng.standard_normal((n, r)) @ basis).astype(np.float32)
    df = _vec_df(spark, A).repartition(4)
    sk = sketch_global(df, "embedding", lambda: FrequentDirections(d, 6))
    V = sk.top_directions(r)
    assert V.shape == (r, d)
    rows = pq.fd_project(df, V, out_col="proj").collect()
    A64 = A.astype(np.float64)
    for row in rows[:20]:
        i = row["vec_id"]
        rec = np.asarray(row["proj"]) @ V
        assert np.allclose(rec, A64[i], atol=1e-5), i
    with pytest.raises(ValueError, match=r"\(r, d\)"):
        pq.fd_project(df, np.zeros(3))
    with pytest.raises(ValueError, match="r must be"):
        sk.top_directions(0)


def test_ivf_pq_index_pruned_and_identical(clustered, spark, tmp_path):
    """The __list-partitioned code index: (a) the probed read carries a
    PartitionFilters entry (static pruning at planning time), (b) the
    indexed results EXACTLY equal the in-memory operator's."""
    df, A = clustered
    coarse = pq.train_coarse_centroids(df, n_lists=8, n_iter=4)
    cb = pq.train_pq_codebook(pq.residual_vectors(df, coarse),
                              m=4, k_sub=16, n_iter=3)
    path = str(tmp_path / "ivf_pq_index")
    pq.write_ivf_pq_index(df, coarse, cb, path)
    queries = spark.createDataFrame(
        [(int(i), A[i].tolist()) for i in (2, 90)],
        "q_id long, q_vec array<float>")
    got = pq.ivf_pq_topk_indexed(spark, path, queries, k=3,
                                 coarse=coarse, codebook=cb, nprobe=2,
                                 rerank=8, vectors=df)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__list" in plan, plan[:2000]
    mem = pq.ivf_pq_topk(pq.encode_ivf_pq(df, coarse, cb), queries, k=3,
                         coarse=coarse, codebook=cb, nprobe=2,
                         rerank=8, vectors=df)
    as_map = lambda rows: {(r["q_id"], r["rank"]): r["vec_id"]  # noqa: E731
                           for r in rows}
    got_m, mem_m = as_map(got.collect()), as_map(mem.collect())
    assert got_m == mem_m and len(got_m) == 6


def test_bad_args(clustered, spark):
    df, A = clustered
    cb = rng.standard_normal((4, 16, 4))
    queries = spark.createDataFrame([(0, A[0].tolist())],
                                    "q_id long, q_vec array<float>")
    with pytest.raises(ValueError, match="divisible"):
        pq.train_pq_codebook(df, m=5)
    with pytest.raises(ValueError, match="uint8"):
        pq.train_pq_codebook(df, m=4, k_sub=300)
    with pytest.raises(ValueError, match="uint8"):
        pq.encode_pq(df, rng.standard_normal((2, 300, 8)))
    with pytest.raises(ValueError, match="rerank"):
        pq.pq_topk(pq.encode_pq(df, cb), queries, k=5, codebook=cb,
                   rerank=3, vectors=df)
    with pytest.raises(ValueError, match="vectors"):
        pq.pq_topk(pq.encode_pq(df, cb), queries, k=2, codebook=cb,
                   rerank=5)
    with pytest.raises(ValueError, match="empty query"):
        pq.pq_topk(pq.encode_pq(df, cb), queries.filter("q_id < 0"),
                   k=2, codebook=cb)
