"""IVF-Flat ANN: exhaustive-probe equivalence with brute force,
centroid training invariants, partial-probe recall sanity."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from algebird_spark.operators.similarity import (cosine_topk, ivf_topk,
                                                 train_ivf_centroids)


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.default_rng(99)
    base = rng.standard_normal((8, 16))
    rows = []
    for i in range(120):
        v = base[i % 8] + 0.3 * rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>") \
        .repartition(4).persist()


def _queries(vec_df, n):
    return (vec_df.orderBy("vec_id").limit(n)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_vec")))


def test_centroids_unit_norm_and_shape(vec_df):
    c = train_ivf_centroids(vec_df, n_lists=8, n_iter=3)
    assert c.shape == (8, 16)
    np.testing.assert_allclose(np.linalg.norm(c, axis=1), 1.0, atol=1e-9)


def test_exhaustive_probe_equals_brute_force(vec_df):
    c = train_ivf_centroids(vec_df, n_lists=8, n_iter=2)
    q = _queries(vec_df, 4)
    exact = {(r["q_id"], r["rank"]): r["vec_id"]
             for r in cosine_topk(vec_df, q, k=5).collect()}
    ivf = {(r["q_id"], r["rank"]): r["vec_id"]
           for r in ivf_topk(vec_df, q, k=5, centroids=c,
                             nprobe=8).collect()}
    assert ivf == exact


def test_partial_probe_recall(vec_df):
    # planted 8 clusters, 8 lists: k-means should recover them, so
    # even nprobe=1 finds most true neighbors (same-cluster vectors)
    c = train_ivf_centroids(vec_df, n_lists=8, n_iter=5)
    q = _queries(vec_df, 4)
    exact = {(r["q_id"], r["vec_id"])
             for r in cosine_topk(vec_df, q, k=5).collect()}
    got = {(r["q_id"], r["vec_id"])
           for r in ivf_topk(vec_df, q, k=5, centroids=c,
                             nprobe=2).collect()}
    assert len(exact & got) / len(exact) >= 0.7


def test_each_vector_single_list(vec_df):
    # candidates per (q, vec) pair must be unique: one list per vector
    c = train_ivf_centroids(vec_df, n_lists=8, n_iter=2)
    q = _queries(vec_df, 2)
    out = ivf_topk(vec_df, q, k=1000, centroids=c, nprobe=8)
    dups = (out.groupBy("q_id", "vec_id").count()
               .filter(F.col("count") > 1).count())
    assert dups == 0


def test_tiny_corpus_fewer_vectors_than_lists(spark):
    rows = [(i, [float(i), 1.0, 0.5]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    c = train_ivf_centroids(df, n_lists=8, n_iter=2)
    assert c.shape[0] == 3  # trains with what exists
    q = _queries(df, 1)
    # nprobe beyond centroid count clamps instead of crashing
    out = ivf_topk(df, q, k=2, centroids=c, nprobe=8).collect()
    exact = cosine_topk(df, q, k=2).collect()
    assert {(r["q_id"], r["vec_id"]) for r in out} == \
           {(r["q_id"], r["vec_id"]) for r in exact}


def test_empty_vectors_raise(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        train_ivf_centroids(df, n_lists=4)


def test_spill_assignment_no_duplicate_pairs_and_superset(vec_df):
    """spill_margin indexes boundary vectors in two lists: the
    candidate set is a superset of the unspilled one, pairs stay
    unique after the dedup, and exhaustive probing is still exact."""
    c = train_ivf_centroids(vec_df, n_lists=8, n_iter=3)
    q = _queries(vec_df, 3)
    plain = ivf_topk(vec_df, q, k=1000, centroids=c, nprobe=2)
    spill = ivf_topk(vec_df, q, k=1000, centroids=c, nprobe=2,
                     spill_margin=1.0)
    p = {(r["q_id"], r["vec_id"]) for r in plain.collect()}
    s = {(r["q_id"], r["vec_id"]) for r in spill.collect()}
    assert p <= s and len(s) > len(p)
    dups = (spill.groupBy("q_id", "vec_id").count()
            .filter(F.col("count") > 1).count())
    assert dups == 0
    # the assignment UDF really emits two lists for boundary vectors
    from algebird_spark.operators.similarity import _spill_assign_udf
    n2 = (vec_df.select(_spill_assign_udf(c, 1.0)(F.col("embedding"))
                        .alias("ls"))
          .filter(F.size("ls") == 2).count())
    assert n2 > 0
    # exhaustive + spill == brute force, like the plain path
    exact = {(r["q_id"], r["rank"]): r["vec_id"]
             for r in cosine_topk(vec_df, q, k=5).collect()}
    got = {(r["q_id"], r["rank"]): r["vec_id"]
           for r in ivf_topk(vec_df, q, k=5, centroids=c, nprobe=8,
                             spill_margin=0.2).collect()}
    assert got == exact


def test_residual_probe_ordering_distinct_and_exhaustive(vec_df):
    """Residual-deflated probe selection returns nprobe DISTINCT lists
    and degrades to the full set at nprobe == n_lists (so the
    exhaustive oracle identity holds either way)."""
    from algebird_spark.operators.similarity import _probe_udf
    c = train_ivf_centroids(vec_df, n_lists=8, n_iter=2)
    probes = (vec_df.limit(10)
              .select(_probe_udf(c, 4, residual_order=True)
                      (F.col("embedding")).alias("p")).collect())
    for r in probes:
        assert len(r["p"]) == 4 and len(set(r["p"])) == 4
    q = _queries(vec_df, 3)
    exact = {(r["q_id"], r["rank"]): r["vec_id"]
             for r in cosine_topk(vec_df, q, k=5).collect()}
    got = {(r["q_id"], r["rank"]): r["vec_id"]
           for r in ivf_topk(vec_df, q, k=5, centroids=c, nprobe=8,
                             residual_probes=True).collect()}
    assert got == exact


def test_cosine_topk_kernel_matches_expression(vec_df):
    """The BLAS-scored exact path must return the same top-k sets as
    the expression path (float rounding can only flip exact ties, and
    the fixture's scores are distinct)."""
    from algebird_spark.operators.similarity import cosine_topk_kernel
    q = _queries(vec_df, 4)
    expr = {(r["q_id"], r["vec_id"]) for r in
            cosine_topk(vec_df, q, k=5).collect()}
    kern = {(r["q_id"], r["vec_id"]) for r in
            cosine_topk_kernel(vec_df, q, k=5).collect()}
    assert kern == expr
    # empty query set degrades gracefully
    from pyspark.sql import functions as FF
    empty = q.filter(FF.lit(False))
    assert cosine_topk_kernel(vec_df, empty, k=5).count() == 0


def test_kernel_tie_break_and_zero_norm_match_expression(spark):
    """ADVICE r3: exact score ties at the k boundary must resolve to
    the LOWEST id in the kernel path (matching the window's (cos desc,
    id asc)), and zero-norm vectors (NaN cosine) must be excluded by
    BOTH paths rather than ranked first by Spark's NaN-is-greatest."""
    from algebird_spark.operators.similarity import cosine_topk_kernel
    # ids 10..17 all share the same embedding as the query -> cos == 1.0
    # exactly; k=3 must pick ids 10, 11, 12 in both paths. id 99 is a
    # zero vector.
    tied = [1.0, 0.0, 0.0, 0.0]
    other = [0.0, 1.0, 0.0, 0.0]
    rows = [(i, tied) for i in range(10, 18)] + [(50, other), (99, [0.0] * 4)]
    df = (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
          .repartition(4))
    q = spark.createDataFrame([(1000, tied)],
                              "q_id long, q_vec array<float>")
    expr = [(r["vec_id"], r["rank"]) for r in
            cosine_topk(df, q, k=3).orderBy("rank").collect()]
    kern = [(r["vec_id"], r["rank"]) for r in
            cosine_topk_kernel(df, q, k=3).orderBy("rank").collect()]
    assert expr == [(10, 1), (11, 2), (12, 3)]
    assert kern == expr
    # zero-norm vector never appears even at k large enough
    expr_all = {r["vec_id"] for r in cosine_topk(df, q, k=20).collect()}
    kern_all = {r["vec_id"] for r in
                cosine_topk_kernel(df, q, k=20).collect()}
    assert 99 not in expr_all and 99 not in kern_all
    assert expr_all == kern_all


def test_lloyd_partials_match_numpy_reference(vec_df):
    """The partial-sum Lloyd round must reproduce plain full-data
    spherical k-means (same deterministic init, same iterations)."""
    got = train_ivf_centroids(vec_df, n_lists=8, n_iter=3)
    rows = (vec_df.orderBy("vec_id")
            .select("vec_id", "embedding").collect())
    m = np.vstack([np.asarray(r["embedding"], dtype=np.float64)
                   for r in rows])
    c = m[:8] / np.linalg.norm(m[:8], axis=1, keepdims=True)
    for _ in range(3):
        assign = (m @ c.T).argmax(axis=1)
        nxt = c.copy()
        for l in range(8):
            sel = m[assign == l]
            if len(sel):
                nxt[l] = sel.mean(axis=0)
        norms = np.linalg.norm(nxt, axis=1, keepdims=True)
        c = nxt / np.where(norms == 0, 1.0, norms)
    assert np.allclose(got, c, atol=1e-9)


def test_lloyd_round_plan_has_no_explode(vec_df):
    """VERDICT r3 weak #2: the training round must not posexplode
    per-vector rows — sufficient statistics only."""
    from algebird_spark.operators.similarity import _lloyd_partials
    plan = _lloyd_partials(vec_df, np.eye(8, 16)[None], True) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan and "posexplode" not in plan


def test_null_embedding_at_lowest_id_is_skipped(spark, vec_df):
    """Init takes the lowest-id non-NULL vectors: a NULL embedding
    below every id trains the same centroids as the table without it."""
    null = spark.createDataFrame([(-1, None)], vec_df.schema)
    got = train_ivf_centroids(vec_df.unionByName(null), n_lists=8, n_iter=3)
    assert np.array_equal(got, train_ivf_centroids(vec_df, n_lists=8,
                                                   n_iter=3))


@pytest.fixture(scope="module")
def ann(spark, vec_df, tmp_path_factory):
    """Every trained model and index the query-set searches read."""
    from algebird_spark.operators import pq
    from algebird_spark.operators.similarity import write_ivf_index
    emb = vec_df
    root = tmp_path_factory.mktemp("ann")
    cents = train_ivf_centroids(emb, n_lists=4, n_iter=1)
    write_ivf_index(emb, cents, str(root / "ivf"))
    coarse = pq.train_coarse_centroids(emb, n_lists=4, n_iter=1)
    cb = pq.train_pq_codebook(pq.residual_vectors(emb, coarse), m=4,
                              k_sub=16, n_iter=1)
    pq.write_ivf_pq_index(emb, coarse, cb, str(root / "ivf_pq"))
    return dict(spark=spark, emb=emb, root=root, cents=cents, coarse=coarse,
                cb=cb, enc=pq.encode_pq(emb, cb),
                ivf_enc=pq.encode_ivf_pq(emb, coarse, cb))


def _search(name):
    from algebird_spark.operators import pq
    from algebird_spark.operators.similarity import (cosine_topk_kernel,
                                                     ivf_topk_indexed)
    return {
        "cosine_topk_kernel": lambda a, q: cosine_topk_kernel(
            a["emb"], q, k=3),
        "ivf_topk_indexed": lambda a, q: ivf_topk_indexed(
            a["spark"], str(a["root"] / "ivf"), q, k=3,
            centroids=a["cents"], nprobe=2),
        "pq_topk": lambda a, q: pq.pq_topk(a["enc"], q, k=3,
                                           codebook=a["cb"]),
        "ivf_pq_topk": lambda a, q: pq.ivf_pq_topk(
            a["ivf_enc"], q, k=3, coarse=a["coarse"], codebook=a["cb"],
            nprobe=2),
        "ivf_pq_topk_indexed": lambda a, q: pq.ivf_pq_topk_indexed(
            a["spark"], str(a["root"] / "ivf_pq"), q, k=3,
            coarse=a["coarse"], codebook=a["cb"], nprobe=2),
    }[name]


@pytest.mark.parametrize("name", ["cosine_topk_kernel", "ivf_topk_indexed",
                                  "pq_topk", "ivf_pq_topk",
                                  "ivf_pq_topk_indexed"])
def test_null_query_vector_is_skipped(ann, name):
    """A query row whose vector is NULL is skipped, as cosine_topk and
    ivf_topk skip it: the set with one (read first) returns exactly the
    rows of the set without it, and a set of NULLs only is an empty
    query set."""
    search = _search(name)
    q = _queries(ann["emb"], 3)
    null = ann["spark"].createDataFrame([(10 ** 6, None)], q.schema)
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    want = rows(search(ann, q))
    assert len(want) == 9
    assert rows(search(ann, null.unionByName(q))) == want
    if name in ("cosine_topk_kernel", "ivf_topk_indexed"):
        assert search(ann, null).count() == 0
    else:
        with pytest.raises(ValueError, match="empty query set"):
            search(ann, null)


def test_embedding_cosine_dups_planted_and_threshold(spark):
    """embedding_cosine_dups: scaled copies (cos == 1.0, identical
    hyperplane signs) are always found; sub-threshold pairs never
    reported; zero-norm vectors excluded."""
    from algebird_spark.operators.similarity import embedding_cosine_dups
    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 8))
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    # planted scaled copies of ids 0..9 -> ids 100..109
    rows += [(100 + i, [float(2.0 * x) for x in base[i]]) for i in range(10)]
    rows += [(999, [0.0] * 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_cosine_dups(df, threshold=0.98, dim=8, n_planes=5)
    got = {(r["id_a"], r["id_b"]): r["cos"] for r in pairs.collect()}
    for i in range(10):
        assert (i, 100 + i) in got, i
        assert got[(i, 100 + i)] == pytest.approx(1.0, abs=1e-6)
    assert all(c >= 0.98 for c in got.values())
    assert not any(999 in p for p in got)
