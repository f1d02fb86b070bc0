"""High-level API smoke tests on real testdata."""

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from algebird_spark import api


@pytest.fixture(scope="module")
def li(spark):
    return spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")


def test_distinct_count_global(spark, li):
    ap = api.distinct_count(li, "l_partkey", error=0.02)
    exact = li.select("l_partkey").distinct().count()
    assert ap.low <= exact <= ap.high


def test_distinct_count_by_key(spark, li):
    out = api.distinct_count(li, "l_partkey", by=["l_returnflag"], error=0.02)
    rows = {r["l_returnflag"]: r for r in out.collect()}
    exact = {r[0]: r[1] for r in li.groupBy("l_returnflag")
             .agg(F.count_distinct("l_partkey")).collect()}
    for k, r in rows.items():
        assert r["low"] <= exact[k] <= r["high"]


def test_distinct_rollup_api(spark, li):
    out = api.distinct_rollup(li, "l_partkey",
                              by=["l_returnflag", "l_linestatus"],
                              error=0.02)
    rows = out.collect()
    gids = {r["grouping_id"] for r in rows}
    assert gids == {0, 1, 3}
    exact_total = li.select("l_partkey").distinct().count()
    grand = [r for r in rows if r["grouping_id"] == 3]
    assert len(grand) == 1
    assert grand[0]["low"] <= exact_total <= grand[0]["high"]
    # per-flag level must bracket the exact per-flag counts
    exact = {r[0]: r[1] for r in li.groupBy("l_returnflag")
             .agg(F.count_distinct("l_partkey")).collect()}
    for r in rows:
        if r["grouping_id"] == 1:
            assert r["low"] <= exact[r["l_returnflag"]] <= r["high"]


def test_quantile_rollup_api(spark, li):
    ps = [0.25, 0.5, 0.75]
    out = api.quantile_rollup(li, "l_extendedprice",
                              by=["l_returnflag", "l_linestatus"],
                              quantiles=ps, k=200)
    rows = out.collect()
    gids = {r["grouping_id"] for r in rows}
    assert gids == {0, 1, 3}
    # every (level, p) bound interval must contain the exact percentile
    exact = li.groupBy("l_returnflag").agg(
        F.expr(f"percentile(l_extendedprice, array({','.join(map(str, ps))}))")
        .alias("q")).collect()
    exact = {r["l_returnflag"]: dict(zip(ps, r["q"])) for r in exact}
    per_flag = [r for r in rows if r["grouping_id"] == 1]
    assert len(per_flag) == len(exact) * len(ps)
    for r in per_flag:
        ex = exact[r["l_returnflag"]][r["p"]]
        assert r["low"] <= ex <= r["high"]
    grand = [r for r in rows if r["grouping_id"] == 3]
    assert len(grand) == len(ps)
    exact_all = dict(zip(ps, li.select(F.expr(
        f"percentile(l_extendedprice, array({','.join(map(str, ps))}))"))
        .first()[0]))
    for r in grand:
        assert r["low"] <= exact_all[r["p"]] <= r["high"]


def test_topk_rollup_api(spark, li):
    out = api.topk_rollup(li, "l_suppkey", by=["l_returnflag"], k=3,
                          capacity=4096)
    rows = out.collect()
    assert {r["grouping_id"] for r in rows} == {0, 1}
    assert all(r["guaranteed"] for r in rows)  # capacity > cardinality
    # grand-total level must equal the exact global top-3 (ties: key asc)
    exact = [(r[0], r[1]) for r in li.groupBy("l_suppkey").count()
             .orderBy(F.desc("count"), "l_suppkey").limit(3).collect()]
    got = [(r["item"], r["cnt"]) for r in sorted(
        (r for r in rows if r["grouping_id"] == 1),
        key=lambda r: r["rank"])]
    assert got == exact


def test_topk_rollup_rejects_unhashable_item_dtype(spark, li):
    with pytest.raises(ValueError):
        api.topk_rollup(li, "l_extendedprice", by=["l_returnflag"])


def test_heavy_hitters(spark, li):
    hh = api.heavy_hitters(li, "l_suppkey", pct=0.05)
    exact = {r[0] for r in li.groupBy("l_suppkey").count()
             .filter(F.col("count") >= 0.05 * li.count()).collect()}
    assert exact <= set(hh.keys())


def test_quantiles(spark, li):
    bounds = api.quantiles(li, "l_extendedprice", [0.5])
    exact = li.agg(F.expr("percentile(l_extendedprice, 0.5)")).collect()[0][0]
    lo, hi = bounds[0.5]
    assert lo <= exact <= hi


def test_membership_filter(spark, li):
    bf = api.membership_filter(li, "l_orderkey", expected_items=2_000)
    some = np.array([r[0] for r in li.select("l_orderkey").limit(50).collect()],
                    dtype=np.int64)
    assert bf.contains_batch(some).all()
    absent = np.arange(10**12, 10**12 + 1000, dtype=np.int64)
    assert bf.contains_batch(absent).mean() < 0.05


def test_api_top_k_string_labels(spark):
    from algebird_spark.api import top_k
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # global: original strings back, counts exact (capacity > cardinality)
    got = top_k(docs, "lang", k=3, capacity=1024)
    exact = {r[0]: r[1] for r in docs.groupBy("lang").count().collect()}
    assert all(isinstance(item, str) and item in exact for item, *_ in got)
    assert got[0][1] == max(exact.values())
    # keyed: arrays per source
    keyed = top_k(docs, "lang", k=2, by=["source"], capacity=1024)
    rows = {r["source"]: r for r in keyed.collect()}
    for src, r in rows.items():
        per = {x[0]: x[1] for x in docs.filter(F.col("source") == src)
               .groupBy("lang").count().collect()}
        assert r["items"][0] in per and r["counts"][0] == max(per.values())
        assert all(g in (True, False) for g in r["guaranteed"])


def test_api_dedup_exact_and_near(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .limit(50)
    import pyspark.sql.functions as F
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 9000)
    view = docs.unionByName(dup)
    from algebird_spark import api
    exact_only = api.dedup(view, near=None)
    assert exact_only.count() == 50
    full = api.dedup(view, near="minhash")
    assert full.count() <= 50
    assert full.filter(F.col("doc_id") >= 9000).count() == 0
    # exact-Jaccard mode: recall 1.0, so it removes AT LEAST whatever
    # the probabilistic minhash pass removed at the same threshold
    ng = api.dedup(view, near="ngram")
    assert ng.count() <= full.count()
    assert ng.filter(F.col("doc_id") >= 9000).count() == 0


def test_api_ann_topk_methods_agree_on_clusters(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    import pyspark.sql.functions as F
    q = (emb.orderBy("vec_id").limit(2)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    from algebird_spark import api
    exact = {(r["q_id"], r["rank"]): r["vec_id"]
             for r in api.ann_topk(emb, q, k=3, method="exact").collect()}
    ivf_all = {(r["q_id"], r["rank"]): r["vec_id"]
               for r in api.ann_topk(emb, q, k=3, method="ivf",
                                     n_lists=8, nprobe=8,
                                     n_iter=2).collect()}
    assert ivf_all == exact  # exhaustive probe == brute force


def test_api_ann_pq_methods_and_covariance_sketch(spark):
    """api sugar for the r7 surfaces: 'pq'/'ivf_pq' with full-depth
    re-rank reproduce the exact L2 top-k; covariance_sketch returns a
    bound-respecting FrequentDirections over the embedding column."""
    import numpy as np
    import pyspark.sql.functions as F

    from algebird_spark import api

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    q = (emb.orderBy("vec_id").limit(2)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    pq_full = {(r["q_id"], r["rank"]): r["vec_id"]
               for r in api.ann_topk(emb, q, k=3, method="pq", m=8,
                                     k_sub=32, n_iter=2,
                                     rerank=n).collect()}
    ivfpq_full = {(r["q_id"], r["rank"]): r["vec_id"]
                  for r in api.ann_topk(emb, q, k=3, method="ivf_pq",
                                        m=8, k_sub=32, n_lists=4,
                                        nprobe=4, n_iter=2,
                                        rerank=n).collect()}
    assert pq_full == ivfpq_full and len(pq_full) == 6

    sk = api.covariance_sketch(emb, ell=8)
    assert sk.n == n
    assert sk.top_directions(3).shape == (3, 64)
    assert np.abs(np.linalg.eigvalsh(sk.gram())).max() \
        <= sk.sq_frob + 1e-6


def test_stratified_sample_full_and_zero_fractions(spark):
    from algebird_spark.operators.exact import stratified_sample
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = stratified_sample(docs, "source",
                            {"src0": 1.0, "src1": 0.0}, "doc_id")
    import pyspark.sql.functions as F
    by = {r["source"]: r["n"] for r in
          out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    total_src0 = docs.filter("source = 'src0'").count()
    assert by.get("src0") == total_src0  # prob 1.0 keeps everything
    assert "src1" not in by


def test_dedup_handles_null_and_empty_texts(spark):
    from algebird_spark import api
    docs = spark.createDataFrame(
        [(1, "real document text here"), (2, None), (3, None),
         (4, ""), (5, "")],
        "doc_id long, text string")
    kept = {r["doc_id"] for r in api.dedup(docs, near="minhash").collect()}
    # nulls are not comparable (both kept); empty strings ARE equal
    # texts (exact dedup keeps min id); no near-dup pass sees them
    assert kept == {1, 2, 3, 4}


def test_release_dedup_caches_api(spark):
    from pyspark.sql import Row
    from algebird_spark import api, cache
    from algebird_spark.operators import dedup as d
    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"api cache test doc {i} alpha beta")
         for i in range(20)])
    # above the r8 broadcast gate: the persisted-fingerprint cache
    # under test only exists on the at-scale JVM path
    d.near_dup_pairs_simhash(df, approx_rows=500_000).count()
    assert cache.live("simhash")
    api.release_dedup_caches("simhash")
    assert cache.live("simhash") == []
    api.release_dedup_caches()
    assert cache.live() == []
    api.release_dedup_caches()  # no-op on empty registry


def test_averaged_value_and_merge_all(spark):
    """averaged_value (AveragedValue parity) and merge_all (driver-side
    associative fold of serialized states)."""
    import numpy as np

    from algebird_spark.operators.exact import averaged_value
    from algebird_spark.sketches import HLL, merge_all
    df = spark.createDataFrame([(i, float(i % 7)) for i in range(100)],
                               "k long, v double")
    row = averaged_value(df, "v").collect()[0]
    assert row["n"] == 100 and abs(row["mean"] - sum(i % 7 for i in range(100)) / 100) < 1e-9
    by = {r["k"]: r for r in averaged_value(df.withColumn("k", F.col("k") % 2),
                                            "v", ["k"]).collect()}
    assert by[0]["n"] + by[1]["n"] == 100
    states = []
    for lo in range(0, 3000, 1000):
        h = HLL(p=12)
        h.update_batch(np.arange(lo, lo + 1000))
        states.append(h.to_bytes())
    merged = merge_all(states)
    assert abs(merged.estimate() - 3000) / 3000 < 0.05
    import pytest as _pytest
    with _pytest.raises(ValueError):
        merge_all([])


def test_text_profile_block(spark):
    from algebird_spark.operators.text import text_profile
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat, it was good."), (2, "")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in text_profile(df).collect()}
    r1 = rows[1]
    assert r1["n_tokens"] == 9 and r1["n_tokens_bpe"] >= r1["n_tokens"]
    assert 0 <= r1["quality"] <= 1 and r1["lang_guess"] == "en"
    assert len(r1["fingerprint"]) == 32
    r2 = rows[2]
    assert r2["n_tokens"] == 0 and r2["lang_guess"] == "und"


def test_single_table_lsh_topk(spark):
    """lsh_multitable_topk with one table and no multi-probe: identical
    vectors always collide into one bucket (same hyperplane signs) and
    rank first; results carry the standard (q_id, vec_id, cos, rank)
    shape, and the plan has no dedup aggregate (a pair meets once)."""
    import numpy as np

    from algebird_spark.operators.similarity import lsh_multitable_topk
    rng = np.random.default_rng(8)
    base = rng.standard_normal((30, 8))
    rows = [(i, [float(x) for x in base[i]]) for i in range(30)]
    rows += [(100 + i, [float(1.5 * x) for x in base[i]]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = spark.createDataFrame(rows[:5],
                              "q_id long, q_vec array<float>")
    out = lsh_multitable_topk(df, q, k=3, dim=8, n_planes=4, n_tables=1,
                              multiprobe=False)
    got = {(r["q_id"], r["rank"]): r["vec_id"] for r in out.collect()}
    for i in range(5):
        assert got[(i, 1)] == 100 + i  # the scaled twin ranks first
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan, plan


def test_distinct_count_per_key_api(spark):
    from algebird_spark import api
    rows = [Row(k=i % 10, v=(i * 13) % 200) for i in range(4_000)]
    df = spark.createDataFrame(rows)
    sk = api.distinct_count_per_key(df, "k", "v", eps=0.02, delta=0.01,
                                    p=10, heavy_hitters_count=3)
    import numpy as np
    exact = {k: len({(i * 13) % 200 for i in range(4_000) if i % 10 == k})
             for k in range(10)}
    est = sk.values(np.arange(10))
    truth = np.array([exact[k] for k in range(10)], dtype=float)
    assert (est >= truth * (1 - 3.5 * sk.error)).all()
    assert len(sk.heavy_hitters()) == 3


def test_scan_fold_api(spark):
    from algebird_spark import api
    df = spark.createDataFrame(
        [Row(k=1, t=float(t)) for t in (0, 10, 2000, 2005, 9000)])

    def step(state, row):
        prev, sess = state
        if prev is None or row.t - prev > 1000:
            sess += 1
        return (row.t, sess), sess

    out = api.scan_fold(df, ["k"], ["t"], step, (None, 0),
                        "sess", "bigint")
    got = [r["sess"] for r in out.orderBy("t").collect()]
    assert got == [1, 1, 2, 2, 3]


def test_ann_topk_ivf_indexed_method(spark, tmp_path):
    from algebird_spark import api
    from algebird_spark.operators.similarity import (train_ivf_centroids,
                                                     write_ivf_index)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = train_ivf_centroids(emb, n_lists=8, n_iter=2)
    path = str(tmp_path / "idx")
    write_ivf_index(emb, cents, path)
    q = (emb.orderBy("vec_id").limit(2)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    out = api.ann_topk(emb, q, k=3, method="ivf_indexed",
                       index_path=path, centroids=cents, nprobe=8)
    rows = out.collect()
    assert {r["q_id"] for r in rows} == {r["q_id"] for r in q.collect()}
    assert all(1 <= r["rank"] <= 3 for r in rows)


def test_distinct_count_per_key_empty_input(spark):
    """Monoid zero on empty input (like sketch_global) instead of an
    IndexError from collect()[0]."""
    import numpy as np
    import pyspark.sql.functions as F

    from algebird_spark import api

    li = (spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
          .filter(F.lit(False)))
    sk = api.distinct_count_per_key(li, "l_suppkey", "l_partkey")
    vals = sk.values(np.array([1, 2, 3], dtype=np.int64))
    assert (np.asarray(vals) == 0).all()


def test_estimate_join_size(spark, li):
    ap = api.estimate_join_size(
        li.filter("l_returnflag = 'A'"), "l_partkey",
        li.filter("l_returnflag = 'R'"))
    a = li.filter("l_returnflag = 'A'").groupBy("l_partkey") \
        .agg(F.count("*").alias("ca"))
    r = li.filter("l_returnflag = 'R'").groupBy("l_partkey") \
        .agg(F.count("*").alias("cr"))
    exact = a.join(r, "l_partkey") \
        .agg(F.sum(F.col("ca") * F.col("cr"))).collect()[0][0]
    assert ap.low <= exact <= ap.high
    assert ap.estimate >= exact  # CMS inner product never underestimates


def test_covariance_sketch_empty_column_raises_loudly(spark):
    # ADVICE r7: an all-NULL / empty embedding column died with an
    # opaque 'NoneType is not subscriptable'; must name the problem.
    import pyspark.sql.functions as F
    import pytest as _pytest

    from algebird_spark import api

    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .select(F.lit(None).cast("array<double>").alias("embedding")))
    with _pytest.raises(ValueError, match="no non-null vectors"):
        api.covariance_sketch(emb, ell=8)


def test_bloom_from_distinct_keys_bit_identical(spark):
    # r8 (late): q_bloom_membership builds the filter from the cached
    # DISTINCT key set instead of re-scanning the full table. Bloom
    # insertion is an idempotent bit-OR, so the BIT ARRAY — the only
    # state contains_batch reads, hence the only state the query's
    # output depends on — must be identical whichever side feeds the
    # build. (The n_inserted header counts update calls, not distinct
    # keys, so it legitimately differs and is asserted to.)
    from algebird_spark.agg import sketch_global
    from algebird_spark.sketches import BloomFilter

    od = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    dk = od.select(F.col("o_custkey").alias("c_custkey")).distinct()
    n_keys = dk.count()
    n_rows = od.count()

    def factory():
        return BloomFilter(num_entries=max(n_keys, 64), fp_prob=0.01)

    bf_full = sketch_global(od, "o_custkey", factory)
    bf_dist = sketch_global(dk, "c_custkey", factory)
    assert np.array_equal(bf_full.bits, bf_dist.bits)
    assert bf_full.n_inserted == n_rows and bf_dist.n_inserted == n_keys
    probe = np.array([1, 2, 3, 10**9, 10**9 + 1], dtype=np.int64)
    assert np.array_equal(bf_full.contains_batch(probe),
                          bf_dist.contains_batch(probe))


def test_hll_from_distinct_pairs_estimate_identical(spark):
    # r8 (late): q_hll_distinct_per_group feeds the HLL build from the
    # distinct (group, value) pairs. HLL insertion is idempotent
    # (register = max(rho)), so per-group estimates must be identical
    # whichever side feeds the build.
    from algebird_spark.agg import sketch_by_key, with_presented
    from algebird_spark.sketches import HLL

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    dk = li.select("l_returnflag", "l_partkey").distinct()

    def build(df):
        states = sketch_by_key(df, ["l_returnflag"], "l_partkey",
                               lambda: HLL(p=14))
        est = with_presented(states, lambda sk: {"est": sk.estimate()},
                             "est double")
        return {r["l_returnflag"]: r["est"] for r in est.collect()}

    assert build(li) == build(dk)
